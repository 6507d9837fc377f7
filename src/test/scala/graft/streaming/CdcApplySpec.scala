package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.core.TxTable

/** Change-feed replication: a consumer applying feed slices keeps a
  * replica convergent with the upstream table across every mutation
  * verb, with at-least-once (re-applied slice) safety.
  */
class CdcApplySpec extends SparkTestBase {

  import spark.implicits._

  private def tables(): (TxTable, TxTable) =
    (new TxTable(spark, tmpDir("cdc-src")), new TxTable(spark, tmpDir("cdc-dst")))

  private def snap(t: TxTable): Set[(Long, String, Double)] =
    t.read().select("id", "v", "amount").as[(Long, String, Double)].collect().toSet

  test("replica converges across append, update, merge and delete") {
    val (src, dst) = tables()
    var cursor = -1L

    def sync(): Unit = {
      val to = src.version
      if (to > cursor) {
        CdcApply(dst, src.readChangeFeed(cursor, to), Seq("id"))
        cursor = to
      }
      assert(snap(dst) == snap(src), s"replica diverged at v$to")
    }

    src.append(Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "v", "amount"))
    sync()
    src.update(col("id") === 2L, Map("amount" -> lit(21.0)))
    src.append(Seq((4L, "d", 40.0)).toDF("id", "v", "amount"))
    sync()
    src.merge(Seq((3L, "c2", 33.0), (5L, "e", 50.0)).toDF("id", "v", "amount"),
      Seq("id"))
    src.delete(col("id") === 1L)
    sync()
  }

  test("replica converges across MERGE-ON-READ mutations (DV update + DV delete)") {
    // the DV verbs move no original bytes upstream, but their change
    // records must be indistinguishable to a CDC consumer from the
    // copy-on-write ones — the replica converges either way
    val (src, dst) = tables()
    var cursor = -1L
    def sync(): Unit = {
      val to = src.version
      if (to > cursor) {
        CdcApply(dst, src.readChangeFeed(cursor, to), Seq("id"))
        cursor = to
      }
      assert(snap(dst) == snap(src), s"replica diverged at v$to")
    }
    src.append((1L to 100L).map(i => (i, s"v$i", i * 1.0)).toDF("id", "v", "amount"))
    sync()
    src.updateMergeOnRead(col("id") % 10L === 3L,
      Map("amount" -> (col("amount") * lit(2)), "v" -> concat(lit("U-"), col("v"))))
    sync()
    src.deleteMergeOnRead(col("id") % 10L === 7L)
    sync()
    // mixed in one slice: DV update + DV delete + plain append
    src.updateMergeOnRead(col("id") === 3L, Map("amount" -> lit(999.0)))
    src.deleteMergeOnRead(col("id") === 13L)
    src.append(Seq((200L, "new", 1.5)).toDF("id", "v", "amount"))
    sync()
    assert(snap(dst).exists(r => r._1 == 3L && r._3 == 999.0))
    assert(!snap(dst).exists(_._1 == 13L))
  }

  test("upstream schema evolution mid-stream: the replica widens and converges") {
    val (src, dst) = tables()
    var cursor = -1L
    def sync(): Unit = {
      val to = src.version
      if (to > cursor) { CdcApply(dst, src.readChangeFeed(cursor, to), Seq("id")); cursor = to }
    }
    src.append(Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "v", "amount"))
    sync()
    // upstream adds a column mid-stream (the first-time-upstream-
    // evolves CDC case): later slices carry the wider rows; the
    // replica's merge must widen its own schema, not fail
    src.append(Seq((3L, "c", 30.0, "EU")).toDF("id", "v", "amount", "region"))
    src.update(col("id") === 1L, Map("amount" -> lit(11.0)))
    sync()
    def wide(t: TxTable): Set[(Long, String, Double, Option[String])] =
      t.read().select(col("id"), col("v"), col("amount"), col("region"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
          if (r.isNullAt(3)) None else Some(r.getString(3)))).toSet
    assert(dst.read().columns.contains("region"),
      "the replica must evolve with the upstream")
    assert(wide(dst) == wide(src), "replica diverged after evolution")
    assert(wide(dst) == Set((1L, "a", 11.0, None), (2L, "b", 20.0, None),
      (3L, "c", 30.0, Some("EU"))))
    // and the evolved column keeps replicating through later slices
    src.merge(Seq((2L, "b2", 22.0, "US")).toDF("id", "v", "amount", "region"), Seq("id"))
    src.delete(col("id") === 3L)
    sync()
    assert(wide(dst) == wide(src))
    assert(wide(dst) == Set((1L, "a", 11.0, None), (2L, "b2", 22.0, Some("US"))))
  }

  test("a delete-then-reinsert inside one slice nets to the reinsert") {
    val (src, dst) = tables()
    src.append(Seq((1L, "a", 1.0)).toDF("id", "v", "amount"))
    CdcApply(dst, src.readChangeFeed(-1L, src.version), Seq("id"))
    val from = src.version
    src.delete(col("id") === 1L)
    src.append(Seq((1L, "a2", 2.0)).toDF("id", "v", "amount"))
    CdcApply(dst, src.readChangeFeed(from, src.version), Seq("id"))
    assert(snap(dst) == snap(src))
    assert(snap(dst) == Set((1L, "a2", 2.0)))
  }

  test("re-applying a slice is a no-op (at-least-once safety)") {
    val (src, dst) = tables()
    src.append(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "v", "amount"))
    src.update(col("id") === 1L, Map("amount" -> lit(9.0)))
    src.delete(col("id") === 2L)
    val feed = src.readChangeFeed(-1L, src.version)
    CdcApply(dst, feed, Seq("id"))
    val v = dst.version
    CdcApply(dst, feed, Seq("id")) // redelivery
    assert(snap(dst) == snap(src))
    // the replay re-upserts identical rows in one harmless commit and
    // deletes nothing; state is unchanged either way
    assert(snap(dst) == Set((1L, "a", 9.0)))
    assert(dst.version >= v)
  }

  test("deletes of null-keyed rows replicate (null-safe delete predicates)") {
    // a NULL key component under isin/=== compares to NULL and never
    // fires — the round-6 advice divergence; both key shapes covered
    val (src, dst) = tables()
    src.append(Seq((Option(1L), "a", 1.0), (Option.empty[Long], "n", 2.0),
      (Option(3L), "c", 3.0)).toDF("id", "v", "amount"))
    CdcApply(dst, src.readChangeFeed(-1L, src.version), Seq("id"))
    var from = src.version
    src.delete(col("id").isNull || col("id") === 1L)
    CdcApply(dst, src.readChangeFeed(from, src.version), Seq("id"))
    def rows(t: TxTable): Set[(Option[Long], String)] =
      t.read().select("id", "v").as[(Option[Long], String)].collect().toSet
    assert(rows(dst) == rows(src) && rows(dst) == Set((Some(3L), "c")),
      "the null-keyed delete must reach the replica")

    // composite key with a null component
    val (src2, dst2) = tables()
    src2.append(Seq((Option(1L), "x", 1.0), (Option.empty[Long], "x", 2.0))
      .toDF("id", "v", "amount"))
    CdcApply(dst2, src2.readChangeFeed(-1L, src2.version), Seq("id", "v"))
    from = src2.version
    src2.delete(col("id").isNull && col("v") === "x")
    CdcApply(dst2, src2.readChangeFeed(from, src2.version), Seq("id", "v"))
    assert(rows(dst2) == rows(src2) && rows(dst2) == Set((Some(1L), "x")))
  }

  test("STREAMING replication: changeFeed source + foreachBatch apply, restartable") {
    import org.apache.spark.sql.streaming.Trigger
    val (src, dst) = tables()
    val ckpt = tmpDir("cdc-stream-ckpt")
    def replicate(): Unit = {
      val q = spark.readStream.format("graft-txtable")
        .option("path", src.tablePath)
        .option("readChangeFeed", "true")
        .load()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          CdcApply(dst, batch, Seq("id")); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    src.append(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "v", "amount"))
    replicate()
    assert(snap(dst) == snap(src))
    // restart from the checkpoint across a mutation burst: only the
    // NEW versions replay, and the replica converges again
    src.update(col("id") === 1L, Map("amount" -> lit(9.0)))
    src.merge(Seq((3L, "c", 3.0)).toDF("id", "v", "amount"), Seq("id"))
    src.delete(col("id") === 2L)
    replicate()
    assert(snap(dst) == snap(src))
    assert(snap(dst) == Set((1L, "a", 9.0), (3L, "c", 3.0)))
  }

  test("replaceWhere slices ride the feed (delete + insert in one commit)") {
    val (src, dst) = tables()
    src.append(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "v", "amount"))
    CdcApply(dst, src.readChangeFeed(-1L, src.version), Seq("id"))
    val from = src.version
    src.replaceWhere(col("v") === "a",
      Seq((10L, "a", 100.0)).toDF("id", "v", "amount"))
    CdcApply(dst, src.readChangeFeed(from, src.version), Seq("id"))
    assert(snap(dst) == snap(src))
    assert(snap(dst) == Set((10L, "a", 100.0), (2L, "b", 2.0)))
  }

  test("apply: one commit per slice, same convergence, no marker leak") {
    val (src, dst) = tables()
    var cursor = -1L
    def sync(): Unit = {
      val to = src.version
      if (to > cursor) {
        val v0 = dst.version
        CdcApply(dst, src.readChangeFeed(cursor, to), Seq("id"))
        cursor = to
        assert(dst.version <= v0 + 1,
          s"apply must land in at most one commit (v$v0 -> v${dst.version})")
      }
      assert(snap(dst) == snap(src), s"replica diverged at v$to")
      assert(!dst.read().columns.contains("__cdc_dead"),
        "the CDC op marker leaked into the replica schema")
    }
    src.append(Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "v", "amount"))
    sync()
    // mixed slice: update + delete + insert all in one apply
    src.update(col("id") === 2L, Map("amount" -> lit(21.0)))
    src.delete(col("id") === 1L)
    src.append(Seq((4L, "d", 40.0)).toDF("id", "v", "amount"))
    sync()
    src.merge(Seq((3L, "c2", 33.0), (5L, "e", 50.0)).toDF("id", "v", "amount"),
      Seq("id"))
    sync()
    // at-least-once: re-applying the last slice is a no-op
    val before = snap(dst)
    CdcApply(dst, src.readChangeFeed(-1L, src.version), Seq("id"))
    assert(snap(dst) == before)
  }

  test("apply recomputes generated columns on the replica") {
    val (src, _) = tables()
    val dst = new TxTable(spark, tmpDir("cdc-dst-gen"))
    src.append(Seq((1L, "a", 10.0)).toDF("id", "v", "amount"))
    // replica declares its own generated column over the replicated data
    dst.append(Seq((0L, "seed", 1.0)).toDF("id", "v", "amount"))
    dst.addGeneratedColumn("amount2", "amount * 2")
    CdcApply(dst, src.readChangeFeed(-1L, src.version), Seq("id"))
    val got = dst.read().where(col("id") === 1L)
      .select("amount2").as[Double].collect().toSeq
    assert(got == Seq(20.0))
    val from = src.version
    src.update(col("id") === 1L, Map("amount" -> lit(15.0)))
    CdcApply(dst, src.readChangeFeed(from, src.version), Seq("id"))
    val got2 = dst.read().where(col("id") === 1L)
      .select("amount2").as[Double].collect().toSeq
    assert(got2 == Seq(30.0))
  }

  test("a crash before the commit leaves the replica unchanged; a re-apply converges") {
    val (src, dst) = tables()
    src.append(Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "v", "amount"))
    CdcApply(dst, src.readChangeFeed(-1L, src.version), Seq("id"))
    val from = src.version
    // a slice with an update, a delete and an insert
    src.update(col("id") === 2L, Map("amount" -> lit(21.0)))
    src.delete(col("id") === 1L)
    src.append(Seq((4L, "d", 40.0)).toDF("id", "v", "amount"))
    val feed = src.readChangeFeed(from, src.version)
    val (v0, rows0) = (dst.version, snap(dst))
    dst.beforeCommitHook = () => throw new IllegalStateException("crash before commit")
    intercept[IllegalStateException](CdcApply(dst, feed, Seq("id")))
    assert(dst.version == v0, "a crashed apply must not commit any part of the slice")
    assert(snap(dst) == rows0, "a crashed apply must leave the replica's rows as they were")
    // the retry (at-least-once redelivery of the same slice) converges
    CdcApply(dst, feed, Seq("id"))
    assert(dst.version == v0 + 1)
    assert(snap(dst) == snap(src))
    assert(snap(dst) == Set((2L, "b", 21.0), (3L, "c", 30.0), (4L, "d", 40.0)))
  }
}
