package graft.core

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** SCD Type 2 merge semantics ([[TxTable.mergeScd2]]): close/insert on
  * change, plain insert on new keys, provable no-op on identical rows,
  * history-only files never rewritten, monotone change epochs, and the
  * business-time readers (scdCurrent/scdAsOf).
  */
class Scd2Spec extends SparkTestBase {

  import spark.implicits._

  private val F = TxTable.ScdFromCol
  private val T = TxTable.ScdToCol

  private def dim(rows: Seq[(Long, String)]) =
    rows.toDF("id", "attr").coalesce(1)

  /** (id, attr, from, to-or-null) tuples of the full table, sorted. */
  private def hist(t: TxTable): Seq[(Long, String, Long, Option[Long])] =
    t.read().select(col("id"), col("attr"), col(F), col(T))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .toSeq.sorted

  test("evolveSchema: a new source column becomes a tracked attribute in the same commit") {
    val t = new TxTable(spark, tmpDir("scd2-evolve"))
    t.mergeScd2(dim(Seq(1L -> "a", 2L -> "b")), Seq("id"), 1L)
    val src2 = Seq((1L, "a", "EU"), (2L, "b", "US"), (3L, "c", "EU"))
      .toDF("id", "attr", "region")
    // without the opt-in: loud rejection naming the new column
    val e = intercept[IllegalArgumentException](
      t.mergeScd2(src2, Seq("id"), 2L))
    assert(e.getMessage.contains("region") &&
      e.getMessage.contains("evolveSchema"))
    assert(!t.read().columns.contains("region"))
    // with it: keys 1 and 2 CHANGE (null -> non-null region closes
    // their epoch-1 rows), key 3 inserts; history rows read NULL
    t.mergeScd2(src2, Seq("id"), 2L, evolveSchema = true)
    val got = t.read()
      .select(col("id"), col("attr"), col("region"), col(F), col(T))
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getString(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSeq.sortBy(x => (x._1, x._4))
    assert(got == Seq(
      (1L, "a", null, 1L, Some(2L)), (1L, "a", "EU", 2L, None),
      (2L, "b", null, 1L, Some(2L)), (2L, "b", "US", 2L, None),
      (3L, "c", "EU", 2L, None)), s"got: $got")
    // the evolved attribute is tracked from now on: a region change
    // closes rows like any other attribute; identical rows no-op
    val v = t.version
    t.mergeScd2(src2, Seq("id"), 3L)
    assert(t.version == v, "identical reload must be a provable no-op")
    t.mergeScd2(Seq((1L, "a", "APAC"), (2L, "b", "US"), (3L, "c", "EU"))
      .toDF("id", "attr", "region"), Seq("id"), 3L)
    assert(t.scdCurrent().where(col("id") === 1L).select("region")
      .head.getString(0) == "APAC")
    assert(t.scdAsOf(2L).where(col("id") === 1L).select("region")
      .head.getString(0) == "EU")
    // a MISSING business column is always an error, evolution or not
    val e2 = intercept[IllegalArgumentException](
      t.mergeScd2(dim(Seq(1L -> "a")), Seq("id"), 4L, evolveSchema = true))
    assert(e2.getMessage.contains("missing"))
  }

  test("close + insert on change, insert on new key, no-op on identical") {
    val t = new TxTable(spark, tmpDir("scd2"))
    t.mergeScd2(dim(Seq(1L -> "a", 2L -> "b", 3L -> "c")), Seq("id"), 1L)
    assert(hist(t) == Seq(
      (1L, "a", 1L, None), (2L, "b", 1L, None), (3L, "c", 1L, None)))

    // key 1 changes, key 2 identical (no-op), key 4 is new; key 3 absent
    // from the source and must stay current untouched
    t.mergeScd2(dim(Seq(1L -> "a2", 2L -> "b", 4L -> "d")), Seq("id"), 2L)
    assert(hist(t) == Seq(
      (1L, "a", 1L, Some(2L)), (1L, "a2", 2L, None),
      (2L, "b", 1L, None), (3L, "c", 1L, None), (4L, "d", 2L, None)))

    assert(t.scdCurrent().select("id", "attr").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
      == Set((1L, "a2"), (2L, "b"), (3L, "c"), (4L, "d")))
    // business-time travel: epoch 1 predates key 4 and key 1's change
    assert(t.scdAsOf(1L).select("id", "attr").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
      == Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(t.scdAsOf(2L).count() == 4L)
  }

  test("an all-identical source is a provable no-op: no commit, no files") {
    val t = new TxTable(spark, tmpDir("scd2-noop"))
    t.mergeScd2(dim(Seq(1L -> "a", 2L -> "b")), Seq("id"), 1L)
    val (v, files) = (t.version, t.state().files.toSet)
    t.mergeScd2(dim(Seq(1L -> "a", 2L -> "b")), Seq("id"), 2L)
    assert(t.version == v, "identical merge must not commit")
    assert(t.state().files.toSet == files)
  }

  test("history-only files are never rewritten by a later merge") {
    val t = new TxTable(spark, tmpDir("scd2-hist"))
    t.mergeScd2(dim(Seq(1L -> "a", 2L -> "b", 3L -> "c")), Seq("id"), 1L)
    // epoch 2 closes keys 1 and 2: the seed file rewrites (it held
    // their current rows), the new current rows land in fresh files
    t.mergeScd2(dim(Seq(1L -> "a2", 2L -> "b2")), Seq("id"), 2L)
    val afterE2 = t.state().files.toSet
    // epoch 3 changes only key 1, whose current row is in an epoch-2
    // file — every file holding only history/unchanged-current rows
    // must survive untouched
    t.mergeScd2(dim(Seq(1L -> "a3")), Seq("id"), 3L)
    val touched = afterE2 -- t.state().files.toSet
    val kept = t.state().files.toSet & afterE2
    assert(kept.nonEmpty, "expected untouched files to survive the merge")
    // the touched set is exactly the files that held key 1's current row
    touched.foreach { f =>
      val rows = spark.read.parquet(s"${t.tablePath}/$f")
      assert(rows.where(col("id") === 1L && col(T).isNull).count() > 0,
        s"$f was rewritten but held no current row of the changed key")
    }
    assert(hist(t).collect { case (1L, a, f, to) => (a, f, to) } == Seq(
      ("a", 1L, Some(2L)), ("a2", 2L, Some(3L)), ("a3", 3L, None)))
  }

  test("a changed attribute whose name contains a dot closes and re-inserts its key") {
    val t = new TxTable(spark, tmpDir("scd2-dot"))
    t.mergeScd2(Seq((1L, "a"), (2L, "b")).toDF("id", "a.b"), Seq("id"), 1L)
    t.mergeScd2(Seq((1L, "a2"), (2L, "b")).toDF("id", "a.b"), Seq("id"), 2L)
    val got = t.read().select(col("id"), col("`a.b`"), col(F), col(T))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSeq.sorted
    assert(got == Seq((1L, "a", 1L, Some(2L)), (1L, "a2", 2L, None),
      (2L, "b", 1L, None)), got.toString)
  }

  test("a rename race aborts the merge and cleans its staged files") {
    val dir = tmpDir("scd2-race")
    val t = new TxTable(spark, dir)
    t.mergeScd2(dim(Seq(1L -> "a", 2L -> "b")), Seq("id"), 1L)
    def liveParquet(): Int = new java.io.File(dir).listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    val filesBefore = liveParquet()
    val t2 = new TxTable(spark, dir)
    // the rename lands between t2's snapshot (and staging) and its
    // claim: the merge must abort AND delete its staged survivor + CDF
    // files — leaking them was the round-6 advice finding
    t2.beforeCommitHook = () => t.renameColumn("attr", "attr2")
    val e = intercept[java.util.ConcurrentModificationException](
      t2.mergeScd2(dim(Seq(1L -> "zz")), Seq("id"), 2L))
    assert(e.getMessage.contains("rename"))
    assert(liveParquet() == filesBefore,
      "the race path must delete its staged survivor and CDF files")
    // the rerun under the new surface name succeeds
    t2.mergeScd2(Seq((1L, "zz")).toDF("id", "attr2").coalesce(1), Seq("id"), 2L)
    assert(t2.scdCurrent().where(col("id") === 1L).head().getString(1) == "zz")
  }

  test("scd2 merge speaks renamed surface names (key and attribute)") {
    val t = new TxTable(spark, tmpDir("scd2-rename"))
    t.mergeScd2(dim(Seq(1L -> "a", 2L -> "b")), Seq("id"), 1L)
    t.renameColumn("attr", "attr2")
    // the attribute rename: sources speak the new surface name, the
    // change detection still compares the same physical slot
    t.mergeScd2(Seq((1L, "a2")).toDF("id", "attr2").coalesce(1), Seq("id"), 2L)
    assert(t.scdCurrent().where(col("id") === 1L).select("attr2").head().getString(0) == "a2")
    // the KEY rename: the merge keys speak the new surface name too
    t.renameColumn("id", "key_id")
    t.mergeScd2(Seq((2L, "b3")).toDF("key_id", "attr2").coalesce(1), Seq("key_id"), 3L)
    val cur = t.scdCurrent().select("key_id", "attr2").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cur == Map(1L -> "a2", 2L -> "b3"), s"current after renames: $cur")
    // history depth: each changed key closed exactly once per change
    assert(t.read().where(col(T).isNotNull).count() == 2)
  }

  test("null-keyed dimension rows close and re-insert like any other key") {
    import spark.implicits._
    val t = new TxTable(spark, tmpDir("scd2-nullkey"))
    t.mergeScd2(Seq((Option(1L), "a"), (Option.empty[Long], "x"))
      .toDF("id", "attr").coalesce(1), Seq("id"), 1L)
    // the null-keyed row CHANGES: it must close + re-insert, not pile
    // up a second current row every epoch (null-safe key matching)
    t.mergeScd2(Seq((Option.empty[Long], "y")).toDF("id", "attr").coalesce(1),
      Seq("id"), 2L)
    val cur = t.scdCurrent().select("id", "attr").as[(Option[Long], String)]
      .collect().toSet
    assert(cur == Set((Some(1L), "a"), (None, "y")), s"current rows: $cur")
    val closed = t.read().where(col(T).isNotNull)
      .select("id", "attr").as[(Option[Long], String)].collect().toSet
    assert(closed == Set((None, "x")), s"closed rows: $closed")
    // identical null-keyed source is a no-op
    val v = t.version
    t.mergeScd2(Seq((Option.empty[Long], "y")).toDF("id", "attr").coalesce(1),
      Seq("id"), 3L)
    assert(t.version == v, "identical null-keyed row must be a provable no-op")
  }

  test("change epochs must be strictly increasing per closed key") {
    val t = new TxTable(spark, tmpDir("scd2-mono"))
    t.mergeScd2(dim(Seq(1L -> "a")), Seq("id"), 5L)
    val e = intercept[IllegalArgumentException](
      t.mergeScd2(dim(Seq(1L -> "a2")), Seq("id"), 5L))
    assert(e.getMessage.contains("strictly increasing"))
    // a merge that closes nothing tolerates any epoch (pure insert)
    t.mergeScd2(dim(Seq(2L -> "b")), Seq("id"), 3L)
    assert(t.scdCurrent().count() == 2L)
  }

  test("invalid sources fail loudly") {
    val t = new TxTable(spark, tmpDir("scd2-invalid"))
    // reserved columns
    val r = intercept[IllegalArgumentException](t.mergeScd2(
      dim(Seq(1L -> "a")).withColumn(F, lit(0L)), Seq("id"), 1L))
    assert(r.getMessage.contains("table-managed"))
    // duplicate keys
    t.mergeScd2(dim(Seq(1L -> "a")), Seq("id"), 1L)
    val d = intercept[IllegalArgumentException](
      t.mergeScd2(dim(Seq(1L -> "x", 1L -> "y")), Seq("id"), 2L))
    assert(d.getMessage.contains("duplicate keys"))
    // an unexpected source column is rejected (unless evolveSchema)
    val m = intercept[IllegalArgumentException](t.mergeScd2(
      Seq((1L, "a", 9L)).toDF("id", "attr", "extra"), Seq("id"), 2L))
    assert(m.getMessage.contains("evolveSchema"))
    // a non-SCD table rejects the verb
    val plain = new TxTable(spark, tmpDir("scd2-plain"))
    plain.append(dim(Seq(1L -> "a")))
    val p = intercept[IllegalArgumentException](
      plain.mergeScd2(dim(Seq(1L -> "b")), Seq("id"), 1L))
    assert(p.getMessage.contains("not an SCD2 table"))
  }

  test("the change record carries close pre/post images and inserts") {
    val t = new TxTable(spark, tmpDir("scd2-cdf"))
    t.mergeScd2(dim(Seq(1L -> "a", 2L -> "b")), Seq("id"), 1L)
    val v = t.version
    t.mergeScd2(dim(Seq(1L -> "a2", 3L -> "c")), Seq("id"), 2L)
    val feed = t.readChangeFeed(v, t.version)
      .select(col("id"), col("attr"), col(TxTable.ChangeTypeCol))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(feed == Set(
      (1L, "a", "update_preimage"),
      (1L, "a", "update_postimage"), // post-image = the CLOSED row
      (1L, "a2", "insert"),
      (3L, "c", "insert")))
  }

  test("redelivery of the same (source, version) batch is a no-op") {
    // a foreachBatch dimension loader that crashes after mergeScd2 and
    // replays the batch must not double-close or re-insert: the replay
    // sees every source row identical to its current row
    val t = new TxTable(spark, tmpDir("scd2-redeliver"))
    t.mergeScd2(dim(Seq(1L -> "a", 2L -> "b")), Seq("id"), 1L)
    t.mergeScd2(dim(Seq(1L -> "a2", 3L -> "c")), Seq("id"), 2L)
    val (v, rows) = (t.version, hist(t))
    t.mergeScd2(dim(Seq(1L -> "a2", 3L -> "c")), Seq("id"), 2L) // replay
    assert(t.version == v, "replayed batch must not commit")
    assert(hist(t) == rows)
  }

  test("mergeScd2 commits past a key-disjoint append, aborts on key overlap") {
    val t = new TxTable(spark, tmpDir("scd2-conflict"))
    t.mergeScd2(dim(Seq(1L -> "a", 2L -> "b")), Seq("id"), 1L)
    def stamped(rows: Seq[(Long, String)], epoch: Long) =
      dim(rows).withColumn(F, lit(epoch)).withColumn(T, lit(null).cast("long"))
    // an unrelated writer lands key 50 in the race window between the
    // merge's snapshot and its commit: stats prove it cannot hold the
    // source key, so the merge must NOT abort (logical conflict rule)
    t.beforeCommitHook = () => t.append(stamped(Seq(50L -> "z"), 1L))
    t.mergeScd2(dim(Seq(1L -> "a2")), Seq("id"), 2L)
    assert(t.scdCurrent().select("id", "attr").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
      == Set((1L, "a2"), (2L, "b"), (50L, "z")))
    // a concurrent append INSIDE the source key range could hide a
    // current row this merge should have closed — it must abort
    t.beforeCommitHook = () => t.append(stamped(Seq(1L -> "late"), 2L))
    val e = intercept[java.util.ConcurrentModificationException](
      t.mergeScd2(dim(Seq(1L -> "a3")), Seq("id"), 3L))
    assert(e.getMessage.contains("appended files"), e.getMessage)
    // the merge committed nothing; the concurrent append survives
    assert(t.read().where(col("attr") === "a3").count() == 0L)
  }

  test("mergeScd2 as a writeStream.foreachBatch dimension loader") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val t = new TxTable(spark, tmpDir("scd2-stream"))
    // (id, attr, epoch): each micro-batch carries one change epoch —
    // the CDC-feed shape a dimension loader consumes
    val stream = MemoryStream[(Long, String, Long)]
    val q = stream.toDF().toDF("id", "attr", "epoch").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val epochs = b.select(col("epoch")).distinct()
          .collect().map(_.getLong(0)).sorted
        epochs.foreach { e =>
          t.mergeScd2(
            b.where(col("epoch") === e).select(col("id"), col("attr")), Seq("id"), e)
        }
      }
      .option("checkpointLocation", tmpDir("scd2-stream-ckpt"))
      .start()
    stream.addData((1L, "a", 1L), (2L, "b", 1L))
    q.processAllAvailable()
    stream.addData((1L, "a2", 2L), (3L, "c", 2L))
    q.processAllAvailable()
    q.stop()
    assert(hist(t) == Seq(
      (1L, "a", 1L, Some(2L)), (1L, "a2", 2L, None),
      (2L, "b", 1L, None), (3L, "c", 2L, None)))
  }

  test("scdAsOf across compaction: business time survives log surgery") {
    val t = new TxTable(spark, tmpDir("scd2-compact"))
    t.mergeScd2(dim(Seq(1L -> "a", 2L -> "b")), Seq("id"), 1L)
    t.mergeScd2(dim(Seq(1L -> "a2")), Seq("id"), 2L)
    t.mergeScd2(dim(Seq(2L -> "b3")), Seq("id"), 3L)
    val before = t.scdAsOf(2L).select("id", "attr").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    t.compact()
    assert(t.scdAsOf(2L).select("id", "attr").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == before)
    assert(before == Set((1L, "a2"), (2L, "b")))
  }
}
