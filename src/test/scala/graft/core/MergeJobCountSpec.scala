package graft.core

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Driver-blocking ACTION-count pins for the row-mutating verbs — the
  * round-13 commit-path optimization: the duplicate-key proof, the
  * conflict-rule key-range aggregate and the identity high-water scan
  * fused into ONE source audit job ([[TxTable.auditSourceKeys]]), and
  * the data + change-record staging writes fused into ONE partitioned
  * write ([[TxTable.stageDataAndCdf]]).
  *
  * The pinned unit is the SQL EXECUTION (one per driver-blocking
  * action — collect/count/write); AQE sub-stages and broadcast builds
  * are jobs within an execution and deliberately not counted. Before
  * the fusion: merge = 5 executions (dup count, touched collect, data
  * write, cdf write, key-range aggregate), update/delete = 3
  * (provenance collect, data write, cdf write), scd2 churn epoch = 7.
  * After: merge = 3, update/delete = 2, scd2 = 5. Each execution is a
  * sequential driver round-trip on the commit path, so the count is
  * the latency floor of a small transactional write — pin it against
  * regression. The remaining row-level verbs are pinned at the counts
  * they ran before they moved onto the shared rewrite core: deleteKeys
  * 3, mergeBuilder update-all + insert-all 3, deleteMergeOnRead 2,
  * updateMergeOnRead 2, replaceWhere 4.
  */
class MergeJobCountSpec extends SparkTestBase {

  /** SQL executions started while `body` runs (listener delivery is
    * async — polled until stable).
    */
  private def executionsDuring(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          n.incrementAndGet()
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      var last = -1
      var stable = 0
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (stable < 3 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        val cur = n.get()
        if (cur == last) stable += 1 else { stable = 0; last = cur }
      }
      n.get()
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def freshTable(): TxTable = {
    val t = new TxTable(spark, tmpDir("merge-jobs"))
    t.append(spark.range(0, 100).select(
      col("id").as("k"), (col("id") * 2).as("v")))
    t
  }

  test("merge = 3 actions: source audit, touched-file collect, fused staging write") {
    val t = freshTable()
    val src = spark.range(0, 10).select(col("id").as("k"), lit(-1L).as("v"))
    src.count() // warm the source's scan outside the window
    val n = executionsDuring { t.merge(src, Seq("k")) }
    assert(n <= 3,
      s"merge ran $n SQL executions — expected audit + touched collect + one " +
        "fused staging write (was 5 before the round-13 fusion)")
  }

  test("update = 2 actions: provenance scan and fused staging write") {
    val t = freshTable()
    val n = executionsDuring {
      t.update(col("k") < 5, Map("v" -> lit(0L)))
    }
    assert(n <= 2,
      s"update ran $n SQL executions — expected provenance scan + one fused " +
        "staging write (was 3 before the round-13 fusion)")
  }

  test("delete = 2 actions: provenance scan and fused staging write") {
    val t = freshTable()
    val n = executionsDuring { t.delete(col("k") < 5) }
    assert(n <= 2,
      s"delete ran $n SQL executions — expected provenance scan + one fused " +
        "staging write (was 3 before the round-13 fusion)")
  }

  test("mergeScd2 churn epoch = 5 actions (audit, epoch probe, touched, no-op probe, fused write)") {
    val t = new TxTable(spark, tmpDir("merge-jobs-scd2"))
    val base = spark.range(0, 100).select(col("id").as("k"), (col("id") * 2).as("v"))
    t.mergeScd2(base, Seq("k"), 1L)
    val src = base.withColumn("v", when(col("k") % 10 === 0, col("v") + 1)
      .otherwise(col("v")))
    val n = executionsDuring { t.mergeScd2(src, Seq("k"), 2L) }
    assert(n <= 5,
      s"mergeScd2 ran $n SQL executions — expected audit + non-monotone probe " +
        "+ touched collect + no-op probe + one fused staging write (was 7 " +
        "before the round-13 fusion)")
  }

  test("deleteKeys = 3 actions: key audit, touched-file collect, fused staging write") {
    val t = freshTable()
    val dead = spark.range(0, 5).select(col("id").as("k"))
    dead.count()
    val n = executionsDuring { t.deleteKeys(dead, Seq("k")) }
    assert(n <= 3, s"deleteKeys ran $n SQL executions — expected <= 3")
  }

  test("mergeBuilder update-all + insert-all = 3 actions") {
    val t = freshTable()
    val src = spark.range(95, 105).select(col("id").as("k"), lit(-1L).as("v"))
    src.count()
    val n = executionsDuring {
      t.mergeBuilder(src, Seq("k")).whenMatchedUpdateAll()
        .whenNotMatchedInsertAll().run()
    }
    assert(n <= 3, s"mergeBuilder ran $n SQL executions — expected <= 3")
  }

  test("deleteMergeOnRead = 2 actions: sidecar write and fused staging write") {
    val t = freshTable()
    val n = executionsDuring { t.deleteMergeOnRead(col("k") < 5) }
    assert(n <= 2, s"deleteMergeOnRead ran $n SQL executions — expected <= 2")
  }

  test("updateMergeOnRead = 2 actions: sidecar write and fused staging write") {
    val t = freshTable()
    val n = executionsDuring {
      t.updateMergeOnRead(col("k") < 5, Map("v" -> lit(0L)))
    }
    assert(n <= 2, s"updateMergeOnRead ran $n SQL executions — expected <= 2")
  }

  test("replaceWhere = 4 actions: staged write, scope check, touched collect, fused write") {
    val t = freshTable()
    val repl = spark.range(0, 5).select(col("id").as("k"), lit(7L).as("v"))
    repl.count()
    val n = executionsDuring { t.replaceWhere(col("k") < 5, repl) }
    assert(n <= 4, s"replaceWhere ran $n SQL executions — expected <= 4")
  }
}
