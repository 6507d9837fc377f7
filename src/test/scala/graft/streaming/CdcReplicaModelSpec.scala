package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.core.TxTable

/** Randomized CDC-replication check: a seeded stream of KEYED
  * mutations runs against a source table while a consumer maintains a
  * replica purely from change-feed slices; after every sync the
  * replica must equal the source. Overwrites and restores are thrown
  * in deliberately — the feed REFUSES those ranges (documented
  * boundary), and the consumer exercises the documented recovery:
  * full re-sync, then back to incremental slices.
  */
class CdcReplicaModelSpec extends SparkTestBase {

  import spark.implicits._

  // Option key: a NULL-keyed row rides the stream too (round-7 advice
  // found null-keyed deletes diverging replicas — keep it covered by
  // the randomized model, not only the targeted case)
  private def snap(t: TxTable): Set[(Option[Long], String)] =
    t.read().select("k", "v").as[(Option[Long], String)].collect().toSet

  // Env-tunable fuzz depth (the TxTableModelSpec convention)
  private val fuzzSeeds: Seq[Int] = sys.env.get("GRAFT_MODEL_SEEDS")
    .map(_.split(",").map(_.trim.toInt).toSeq).getOrElse(Seq(5, 23))
  private val fuzzIters: Int = sys.env.getOrElse("GRAFT_MODEL_ITERS", "14").toInt

  test("replica equals source after every sync across random keyed mutations") {
    for (seed <- fuzzSeeds) {
      val rnd = new scala.util.Random(seed)
      val src = new TxTable(spark, tmpDir(s"cdcmodel-src-$seed"))
      val dst = new TxTable(spark, tmpDir(s"cdcmodel-dst-$seed"))
      var cursor = -1L
      var nextKey = 0L
      var live = Map.empty[Option[Long], String] // the in-memory model

      def freshRows(n: Int): Seq[(Option[Long], String)] =
        (0 until n).map { _ =>
          nextKey += 1; (Option(nextKey), s"v$seed-${rnd.nextInt(1000)}")
        }

      def sync(): Unit = {
        val to = src.version
        if (to > cursor) {
          try CdcApply(dst, src.readChangeFeed(cursor, to), Seq("k"))
          catch {
            case _: IllegalStateException =>
              // the range spans an overwrite/restore: the documented
              // boundary — recover with a full re-sync
              dst.overwrite(src.read())
          }
          cursor = to
        }
        assert(snap(dst) == live.toSet.map(identity[(Option[Long], String)]),
          s"seed $seed: model diverged at v$to")
        assert(snap(dst) == snap(src), s"seed $seed: replica diverged at v$to")
      }

      src.append(freshRows(4).toDF("k", "v"))
      live = src.read().select("k", "v").as[(Option[Long], String)].collect().toMap
      sync()

      (0 until fuzzIters).foreach { _ =>
        rnd.nextInt(6) match {
          case 0 => // insert fresh keys
            val rows = freshRows(1 + rnd.nextInt(3))
            src.append(rows.toDF("k", "v"))
            live ++= rows
          case 1 => // keyed upsert over a mix of existing + fresh
            val existing = live.keys.flatten.toSeq.sorted.take(1 + rnd.nextInt(2))
              .map(k => (Option(k), s"up-${rnd.nextInt(100)}"))
            val rows = existing ++ freshRows(1)
            src.merge(rows.toDF("k", "v"), Seq("k"))
            live ++= rows
          case 2 if live.keys.exists(_.isDefined) => // delete a key range
            val ks = live.keys.flatten.toSeq.sorted
            val lo = ks(rnd.nextInt(ks.size))
            src.delete(col("k") >= lo && col("k") <= lo + 2)
            live = live.filterNot { case (k, _) => k.exists(x => x >= lo && x <= lo + 2) }
          case 3 if live.keys.exists(_.isDefined) => // update values in place
            val ks = live.keys.flatten.toSeq.sorted
            val pick = ks(rnd.nextInt(ks.size))
            src.update(col("k") === pick, Map("v" -> lit("upd")))
            live += Option(pick) -> "upd"
          case 4 => // overwrite: feed boundary, consumer must re-sync
            val rows = freshRows(2 + rnd.nextInt(2))
            src.overwrite(rows.toDF("k", "v"))
            live = rows.toMap
          case 5 => // the NULL-keyed row: upsert via merge (null-safe
            // key equality) or delete it — both must replicate
            if (rnd.nextBoolean() || !live.contains(None)) {
              val v = s"null-${rnd.nextInt(100)}"
              src.merge(Seq((Option.empty[Long], v)).toDF("k", "v"), Seq("k"))
              live += None -> v
            } else {
              src.delete(col("k").isNull)
              live -= None
            }
          case _ => ()
        }
        sync()
      }
    }
  }
}
