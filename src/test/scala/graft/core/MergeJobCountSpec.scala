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
  * After: merge = 3, update/delete = 2, scd2 = 4. Each execution is a
  * sequential driver round-trip on the commit path, so the count is
  * the latency floor of a small transactional write — pin it against
  * regression. The remaining row-level verbs are pinned at the counts
  * they ran before they moved onto the shared rewrite core: deleteKeys
  * 3, mergeBuilder update-all + insert-all 3, deleteMergeOnRead 2,
  * updateMergeOnRead 2, replaceWhere 4. `merge`, `deleteKeys` and
  * `CdcApply.apply` are clause sets of the one conditional-merge
  * planner, whose no-op exit reads the staged write's footers instead
  * of probing the insert rows: a pure insert (no key matches) is 3
  * executions through either surface (the conditional merge ran 4
  * with the probe), an insert-only CDC slice is 3 (the two-commit
  * apply ran 5), and a key set matching nothing commits no version.
  */
class MergeJobCountSpec extends SparkTestBase {

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
    val n = workDuring { t.merge(src, Seq("k")) }.sqlExecutions
    assert(n <= 3,
      s"merge ran $n SQL executions — expected audit + touched collect + one " +
        "fused staging write (was 5 before the round-13 fusion)")
  }

  test("update = 2 actions: provenance scan and fused staging write") {
    val t = freshTable()
    val n = workDuring {
      t.update(col("k") < 5, Map("v" -> lit(0L)))
    }.sqlExecutions
    assert(n <= 2,
      s"update ran $n SQL executions — expected provenance scan + one fused " +
        "staging write (was 3 before the round-13 fusion)")
  }

  test("delete = 2 actions: provenance scan and fused staging write") {
    val t = freshTable()
    val n = workDuring { t.delete(col("k") < 5) }.sqlExecutions
    assert(n <= 2,
      s"delete ran $n SQL executions — expected provenance scan + one fused " +
        "staging write (was 3 before the round-13 fusion)")
  }

  test("mergeScd2 churn epoch = 4 actions (audit, epoch probe, touched collect, fused write)") {
    val t = new TxTable(spark, tmpDir("merge-jobs-scd2"))
    val base = spark.range(0, 100).select(col("id").as("k"), (col("id") * 2).as("v"))
    t.mergeScd2(base, Seq("k"), 1L)
    val src = base.withColumn("v", when(col("k") % 10 === 0, col("v") + 1)
      .otherwise(col("v")))
    val n = workDuring { t.mergeScd2(src, Seq("k"), 2L) }.sqlExecutions
    // the no-op probe (newRows.isEmpty) runs only when no file is
    // touched, so a churn epoch never pays it
    assert(n <= 4,
      s"mergeScd2 ran $n SQL executions — expected source audit + " +
        "non-monotone epoch probe + touched-file collect + one fused " +
        "staging write (was 7 before the round-13 fusion)")
  }

  test("deleteKeys = 3 actions: key audit, touched-file collect, fused staging write") {
    val t = freshTable()
    val dead = spark.range(0, 5).select(col("id").as("k"))
    dead.count()
    val n = workDuring { t.deleteKeys(dead, Seq("k")) }.sqlExecutions
    assert(n <= 3, s"deleteKeys ran $n SQL executions — expected <= 3")
  }

  test("mergeBuilder update-all + insert-all = 3 actions") {
    val t = freshTable()
    val src = spark.range(95, 105).select(col("id").as("k"), lit(-1L).as("v"))
    src.count()
    val n = workDuring {
      t.mergeBuilder(src, Seq("k")).whenMatchedUpdateAll()
        .whenNotMatchedInsertAll().run()
    }.sqlExecutions
    assert(n <= 3, s"mergeBuilder ran $n SQL executions — expected <= 3")
  }

  test("pure insert (no key matches) = 3 actions through merge and mergeBuilder") {
    val src = spark.range(200, 210).select(col("id").as("k"), lit(-1L).as("v"))
    src.count()
    val t1 = freshTable()
    val v1 = t1.version
    val n1 = workDuring { t1.merge(src, Seq("k")) }.sqlExecutions
    assert(n1 <= 3, s"pure-insert merge ran $n1 SQL executions — expected <= 3")
    val t2 = freshTable()
    val n2 = workDuring {
      t2.mergeBuilder(src, Seq("k")).whenMatchedUpdateAll()
        .whenNotMatchedInsertAll().run()
    }.sqlExecutions
    assert(n2 <= 3, s"pure-insert mergeBuilder ran $n2 SQL executions — expected " +
      "<= 3 (audit + provenance scan + staged write; no insert probe)")
    assert(t1.version == v1 + 1 && t1.read().count() == 110L)
    assert(t2.read().count() == 110L)
  }

  test("an insert-only CdcApply.apply slice = 3 actions in one commit") {
    val src = freshTable()
    val dst = new TxTable(spark, tmpDir("merge-jobs-replica"))
    graft.streaming.CdcApply(dst, src.readChangeFeed(-1L, src.version), Seq("k"))
    val from = src.version
    src.append(spark.range(100, 110).select(col("id").as("k"), (col("id") * 2).as("v")))
    val feed = src.readChangeFeed(from, src.version)
    val v0 = dst.version
    val n = workDuring { graft.streaming.CdcApply(dst, feed, Seq("k")) }.sqlExecutions
    assert(n <= 3, s"insert-only CdcApply.apply ran $n SQL executions — expected " +
      "<= 3 (audit + provenance scan + staged write)")
    assert(dst.version == v0 + 1 && dst.read().count() == 110L)
  }

  test("deleteKeys with no matching key commits no version") {
    val t = freshTable()
    val v = t.version
    t.deleteKeys(spark.range(500, 505).select(col("id").as("k")), Seq("k"))
    assert(t.version == v, "a key set matching nothing must not commit")
    assert(t.read().count() == 100L)
  }

  test("deleteMergeOnRead = 2 actions: sidecar write and fused staging write") {
    val t = freshTable()
    val n = workDuring { t.deleteMergeOnRead(col("k") < 5) }.sqlExecutions
    assert(n <= 2, s"deleteMergeOnRead ran $n SQL executions — expected <= 2")
  }

  test("updateMergeOnRead = 2 actions: sidecar write and fused staging write") {
    val t = freshTable()
    val n = workDuring {
      t.updateMergeOnRead(col("k") < 5, Map("v" -> lit(0L)))
    }.sqlExecutions
    assert(n <= 2, s"updateMergeOnRead ran $n SQL executions — expected <= 2")
  }

  test("replaceWhere = 4 actions: staged write, scope check, touched collect, fused write") {
    val t = freshTable()
    val repl = spark.range(0, 5).select(col("id").as("k"), lit(7L).as("v"))
    repl.count()
    val n = workDuring { t.replaceWhere(col("k") < 5, repl) }.sqlExecutions
    assert(n <= 4, s"replaceWhere ran $n SQL executions — expected <= 4")
  }
}
