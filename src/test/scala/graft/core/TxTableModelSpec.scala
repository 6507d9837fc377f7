package graft.core

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Model-based randomized check: a seeded stream of table operations
  * runs against BOTH the real [[TxTable]] and a trivial in-memory
  * model of its semantics; after every mutation the table must read
  * back exactly the model, and at the end every recorded snapshot must
  * still time-travel to its model of record. This catches interaction
  * bugs no single-operation spec enumerates (merge after cluster,
  * delete after overwrite, compact between everything).
  *
  * Round 7 widens the op mix with the newest log features — COLUMN
  * DROP of the value column (later appends re-add under a fresh
  * physical slot, old rows null), a GENERATED column over the key, and
  * an IDENTITY column — mixed into the same stream as renames,
  * partitioned writes, bloom DDL and maintenance, so their
  * interactions (drop then rename, generated across rewrites,
  * identity across overwrite) are exercised together, not in targeted
  * pairs.
  */
class TxTableModelSpec extends SparkTestBase {

  import spark.implicits._

  // value is Option: rows written before a dropColumn(v)+re-add read
  // back null in the re-added column
  private type Model = Vector[(Long, Option[String])]

  // multiset comparison (sorted seq): appends may legally duplicate
  // rows, and a set compare would hide lost or doubled copies
  private def readBack(t: TxTable, kc: String, vc: String): Seq[(Long, Option[String])] =
    t.read().select(col(kc), col(vc)).as[(Long, Option[String])].collect().toSeq.sorted

  private def readKeys(t: TxTable, kc: String): Seq[Long] =
    t.read().select(col(kc)).as[Long].collect().toSeq.sorted

  // Env-tunable fuzz depth: CI runs the fixed default; a deep local
  // session runs e.g. GRAFT_MODEL_SEEDS=1,2,...,20 GRAFT_MODEL_ITERS=40
  private val fuzzSeeds: Seq[Int] = sys.env.get("GRAFT_MODEL_SEEDS")
    .map(_.split(",").map(_.trim.toInt).toSeq).getOrElse(Seq(11, 42, 77))
  private val fuzzIters: Int = sys.env.getOrElse("GRAFT_MODEL_ITERS", "18").toInt

  test("random op sequences match the in-memory model, including time travel") {
    for (seed <- fuzzSeeds) {
      val rnd = new scala.util.Random(seed)
      val dir = tmpDir(s"txtable-model-$seed")
      val t = new TxTable(spark, dir, checkpointInterval = 4)
      var model: Model = Vector.empty
      // surface names drift under renameColumn; physical stay k/v
      var kc = "k"; var vc = "v"; var renameN = 0
      var vLive = true   // value column present in the current schema
      var genOn = false  // g GENERATED AS k*2 declared (at most once/run)
      var genTried = false
      var idOn = false   // id GENERATED ALWAYS AS IDENTITY declared
      var idTried = false
      // snapshots: version -> (model, (key col, value col if live))
      var snapshots = Map.empty[Long, (Model, (String, Option[String]))]

      def rows(n: Int): Seq[(Long, String)] =
        Seq.fill(n)((rnd.nextInt(40).toLong, s"s$seed-${rnd.nextInt(1000)}"))

      (0 until fuzzIters).foreach { _ =>
        rnd.nextInt(18) match {
          case 0 | 1 => // append (duplicate keys allowed); half the
            // appends are PARTITIONED writes, so value-pure files and
            // salt splits flow through every later mutation
            val batch = rows(1 + rnd.nextInt(5))
            if (rnd.nextBoolean())
              t.append(batch.toDF(kc, vc), partitionBy = Seq(kc),
                filesPerValue = 1 + rnd.nextInt(2))
            else t.append(batch.toDF(kc, vc))
            model = model ++ batch.map { case (k, v) => (k, Some(v)) }
            vLive = true // a dropped value column re-adds on append
          case 2 => // merge: unique-keyed upsert (skipped while the
            // value column is dropped — merge sources speak the full
            // live schema)
            if (vLive) {
              val src = rows(1 + rnd.nextInt(5))
                .groupBy(_._1).map(_._2.head).toVector
              t.merge(src.toDF(kc, vc), Seq(kc))
              val srcKeys = src.map(_._1).toSet
              model = model.filterNot(r => srcKeys.contains(r._1)) ++
                src.map { case (k, v) => (k, Some(v)) }
            }
          case 3 => // delete (SQL semantics: TRUE rows go) — a key
            // range, a two-range DISJUNCTION, or a null-safe point,
            // so the delete-side file-provenance pruning is fuzzed
            // over every shape class it claims to skip with
            val lo = rnd.nextInt(40).toLong
            val hi = lo + rnd.nextInt(10)
            rnd.nextInt(3) match {
              case 0 =>
                t.delete(col(kc) >= lo && col(kc) <= hi)
                model = model.filterNot(r => r._1 >= lo && r._1 <= hi)
              case 1 =>
                val lo2 = rnd.nextInt(40).toLong
                val hi2 = lo2 + rnd.nextInt(6)
                t.delete((col(kc) >= lo && col(kc) <= hi) ||
                  (col(kc) >= lo2 && col(kc) <= hi2))
                model = model.filterNot(r =>
                  (r._1 >= lo && r._1 <= hi) || (r._1 >= lo2 && r._1 <= hi2))
              case _ =>
                t.delete(col(kc) <=> lo)
                model = model.filterNot(_._1 == lo)
            }
          case 4 => // overwrite (sometimes partitioned by the string
            // col); re-adds a dropped value column, and wipes the
            // identity column from the schema until the next append
            val batch = rows(1 + rnd.nextInt(4))
            if (rnd.nextBoolean()) t.overwrite(batch.toDF(kc, vc), partitionBy = Seq(vc))
            else t.overwrite(batch.toDF(kc, vc))
            model = batch.map { case (k, v) => (k, Some(v)) }.toVector
            vLive = true
          case 5 => // maintenance: rows must not change
            rnd.nextInt(3) match {
              case 0 => // sometimes predicate-scoped (OPTIMIZE-WHERE):
                // packing only key-range-overlapping files is still a
                // pure rewrite under the same model
                if (rnd.nextBoolean()) t.compact(targetBytes = 1L << 16)
                else t.compact(targetBytes = 1L << 16,
                  where = Some(col(kc) <= (5L + rnd.nextInt(35))))
              case 1 => if (t.version >= 0 && t.read().count() > 0)
                t.cluster(Seq(kc), targetFiles = 3, bitsPerCol = 4)
              case 2 =>
                // full-window retention: every snapshot stays readable,
                // only orphans go — exercises the referenced-set fold;
                // the dry run must plan exactly what the sweep removes
                if (t.version >= 0) {
                  val planned = t.vacuum(retainVersions = 1000,
                    olderThanMs = -5000L, dryRun = true)
                  val swept = t.vacuum(retainVersions = 1000, olderThanMs = -5000L)
                  assert(swept.toSet == planned.toSet,
                    s"dry run planned $planned but sweep removed $swept")
                }
            }
          case 6 => // bloom index DDL: rows must not change; every
            // later ===/isin scan probe then runs the sidecar prune
            // against whatever layout the other mutations produce
            if (t.version >= 0) {
              // blooms key by the immutable PHYSICAL name even as the
              // surface name drifts
              if (!t.state().blooms.contains("k"))
                t.addBloomIndex(kc, expectedItems = 200L, fpp = 0.01)
              else if (rnd.nextBoolean()) t.dropBloomIndex(kc)
            }
          case 7 => // metadata-only rename: rows must not change, and
            // every later op speaks the NEW surface name (the value
            // column only renames while live)
            if (t.version >= 0) {
              renameN += 1
              if (rnd.nextBoolean() || !vLive) {
                val n = s"k$renameN"; t.renameColumn(kc, n); kc = n
              } else {
                val n = s"v$renameN"; t.renameColumn(vc, n); vc = n
              }
            }
          case 8 => // DROP the value column: reads lose it, the model
            // forgets every value; the next append/overwrite re-adds a
            // fresh physical slot where old rows are null
            if (vLive && t.version >= 0) {
              t.dropColumn(vc)
              vLive = false
              model = model.map { case (k, _) => (k, None) }
            }
          case 9 => // GENERATED column DDL (once per run: re-declaring
            // over backfill-pending nulls is refused by design) — from
            // here on every write computes g = k*2 and every rewrite
            // backfills it; the invariant is asserted below each op
            if (!genTried && t.version >= 0) {
              t.addGeneratedColumn("g", s"`$kc` * 2")
              genOn = true; genTried = true
            } else if (genOn && rnd.nextInt(4) == 0) {
              t.dropGeneratedColumn("g")
              genOn = false
            }
          case 10 => // IDENTITY column DDL: appends assign from the
            // log-owned mark; uniqueness asserted below each op
            if (!idTried && t.version >= 0) {
              t.addIdentityColumn("id", start = 1000L)
              idOn = true; idTried = true
            } else if (idOn && rnd.nextInt(4) == 0) {
              t.dropIdentityColumn("id")
              idOn = false
            }
          case 11 => // CHECK constraint DDL (binds the key's PHYSICAL
            // name, so it survives renames) + a violating-append probe:
            // the abort must be loud and commit NOTHING, whatever
            // layout/identity/generated state the other ops built up
            if (t.version >= 0) {
              if (!t.constraints.contains("k_range"))
                t.addConstraint("k_range", s"`$kc` >= 0 AND `$kc` < 40")
              else if (rnd.nextBoolean()) t.dropConstraint("k_range")
              if (t.constraints.contains("k_range")) {
                val v = t.version
                val e = intercept[IllegalArgumentException](
                  t.append(Seq((99L, "violates")).toDF(kc, vc)))
                assert(e.getMessage.contains("k_range"))
                assert(t.version == v, "a rejected append must not commit")
              }
            }
          case 12 => // MERGE-ON-READ delete: same model semantics as
            // copy-on-write delete, but the rows die via DV sidecars
            // that every later read/mutation/maintenance must honor
            if (t.version >= 0) {
              val lo = rnd.nextInt(40).toLong
              val hi = lo + rnd.nextInt(6)
              t.deleteMergeOnRead(col(kc) >= lo && col(kc) <= hi)
              model = model.filterNot(r => r._1 >= lo && r._1 <= hi)
            }
          case 13 => // replaceWhere: swap a key slice for fresh rows
            // inside the predicate (atomic partition-overwrite analog);
            // requires the live value column (replaceWhere does not
            // re-add dropped slots — documented: append/overwrite do)
            if (vLive && t.version >= 0) {
              val lo = rnd.nextInt(35).toLong
              val hi = lo + 5
              val batch = Seq.fill(1 + rnd.nextInt(3))(
                (lo + rnd.nextInt(6).toLong, s"rw$seed-${rnd.nextInt(100)}"))
              t.replaceWhere(col(kc) >= lo && col(kc) <= hi, batch.toDF(kc, vc))
              model = model.filterNot(r => r._1 >= lo && r._1 <= hi) ++
                batch.map { case (k, v) => (k, Some(v)) }
            }
          case 14 => // conditional MERGE: all clause families in one
            // commit — matched delete (source value ends in 0),
            // matched update (concat; NULL-valued carried rows stay
            // NULL, SQL concat semantics), conditional insert (source
            // value not ending in 9), and a by-source re-label of the
            // %7 key slice — against whatever schema/layout state the
            // other ops built (skipped while the value column is
            // dropped, like merge)
            if (vLive && t.version >= 0) {
              val src = rows(1 + rnd.nextInt(5))
                .groupBy(_._1).map(_._2.head).toVector
              t.mergeBuilder(src.toDF(kc, vc), Seq(kc))
                .whenMatchedDelete(s"s.`$vc` like '%0'")
                .whenMatchedUpdate(Map(vc -> s"concat(t.`$vc`, '+', s.`$vc`)"))
                .whenNotMatchedInsertAll(s"s.`$vc` not like '%9'")
                .whenNotMatchedBySourceUpdate(
                  Map(vc -> s"concat(t.`$vc`, '~')"), s"t.`$kc` % 7 = 0")
                .run()
              val srcMap = src.toMap
              val tgtKeys = model.iterator.map(_._1).toSet
              model = model.flatMap { case (k, ov) =>
                srcMap.get(k) match {
                  case Some(sv) =>
                    if (sv.endsWith("0")) None // matched delete
                    else Some((k, ov.map(_ + "+" + sv))) // concat: null stays null
                  case None =>
                    if (k % 7 == 0) Some((k, ov.map(_ + "~")))
                    else Some((k, ov))
                }
              } ++ src.iterator
                .filterNot { case (k, _) => tgtKeys.contains(k) }
                .filterNot { case (_, v) => v.endsWith("9") }
                .map { case (k, v) => (k, Some(v)) }
            }
          case 15 => // DYNAMIC partition overwrite keyed on k: every
            // key present in the frame is a "partition" that swaps
            // wholesale for the frame's rows; absent keys carry
            if (vLive && t.version >= 0) {
              val batch = rows(1 + rnd.nextInt(4))
              t.overwriteDynamic(batch.toDF(kc, vc), Seq(kc))
              val replaced = batch.map(_._1).toSet
              model = model.filterNot(r => replaced.contains(r._1)) ++
                batch.map { case (k, v) => (k, Some(v)) }
            }
          case 17 => // MERGE-ON-READ update: same model semantics as
            // copy-on-write update (SET against the pre-update row,
            // NULL concat stays NULL), but old versions die via DV
            // sidecars and post-images append — every later read,
            // mutation and maintenance pass must see exactly the
            // post-image set
            if (vLive && t.version >= 0) {
              val lo = rnd.nextInt(40).toLong
              val hi = lo + rnd.nextInt(6)
              t.updateMergeOnRead(col(kc) >= lo && col(kc) <= hi,
                Map(vc -> concat(col(vc), lit("^"))))
              model = model.map { case (k, ov) =>
                if (k >= lo && k <= hi) (k, ov.map(_ + "^")) else (k, ov)
              }
            }
          case 16 => // column-DEFAULT DDL: pure metadata — rows must
            // not move; the declaration tracks the PHYSICAL slot
            // across renames and dies with a column drop (typed
            // appends never apply it, the SQL-INSERT layer does)
            if (t.version >= 0) {
              if (vLive && !t.columnDefaults.contains(vc) && rnd.nextBoolean())
                t.setColumnDefault(vc, "'dflt'")
              else if (t.columnDefaults.contains(vc))
                t.dropColumnDefault(vc)
            }
        }
        if (t.version >= 0) {
          val cols = t.read().columns.toSet
          if (vLive && cols.contains(vc))
            assert(readBack(t, kc, vc) == model.sorted,
              s"seed $seed: table diverged from model at v${t.version}")
          else
            assert(readKeys(t, kc) == model.map(_._1).sorted,
              s"seed $seed: keys diverged from model at v${t.version}")
          // every non-null generated value equals its expression —
          // across appends, rewrites (backfill) and renames
          if (cols.contains("g"))
            assert(t.read().where(col("g").isNotNull &&
              col("g") =!= col(kc) * 2).count() == 0,
              s"seed $seed: generated invariant broken at v${t.version}")
          // a DEFAULT declared on the value column must read back
          // under its CURRENT surface name, and never outlive a drop
          if (!vLive)
            assert(!t.columnDefaults.keys.exists(_.startsWith("v")),
              s"seed $seed: default outlived the dropped column at v${t.version}")
          // identity values stay globally unique (gaps legal)
          if (cols.contains("id")) {
            val ids = t.read().where(col("id").isNotNull)
              .select(col("id")).as[Long].collect().toSeq
            assert(ids.distinct.size == ids.size,
              s"seed $seed: duplicate identity values at v${t.version}: $ids")
          }
          // stat-pruned scans must ALWAYS equal the plain filtered
          // read, whatever file layout the mutations produced
          val probe = rnd.nextInt(3) match {
            case 0 => col(kc) >= rnd.nextInt(40).toLong
            case 1 => col(kc) === rnd.nextInt(40).toLong
            case 2 => col(kc).isin(rnd.nextInt(40).toLong, rnd.nextInt(40).toLong)
          }
          assert(t.scan(probe).count() == t.read().where(probe).count(),
            s"seed $seed: scan($probe) diverged from read().where at v${t.version}")
          snapshots += t.version ->
            ((model, (kc, if (vLive && cols.contains(vc)) Some(vc) else None)))
        }
      }
      // every recorded snapshot still time-travels to its model,
      // under the surface names the table had AT that version
      snapshots.foreach { case (v, (m, (k0, v0))) =>
        v0 match {
          case Some(vcol) =>
            val got = t.readAt(v).select(col(k0), col(vcol))
              .as[(Long, Option[String])].collect().toSeq.sorted
            assert(got == m.sorted, s"seed $seed: time travel to v$v diverged")
          case None =>
            val got = t.readAt(v).select(col(k0)).as[Long].collect().toSeq.sorted
            assert(got == m.map(_._1).sorted,
              s"seed $seed: time travel to v$v diverged (keys)")
        }
      }
      // the log replays identically through a fresh handle (checkpoint
      // path exercised by checkpointInterval = 4)
      val fresh = new TxTable(spark, dir, checkpointInterval = 4)
      if (vLive && fresh.read().columns.contains(vc))
        assert(readBack(fresh, kc, vc) == model.sorted)
      else assert(readKeys(fresh, kc) == model.map(_._1).sorted)
    }
  }
}
