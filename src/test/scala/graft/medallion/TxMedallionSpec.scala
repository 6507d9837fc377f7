package graft.medallion

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.codec.ConfluentWire
import graft.gen.{EventGenerator, KafkaEnvelope}
import graft.ingest.RawIngest
import graft.schema.InMemorySchemaRegistry

class TxMedallionSpec extends SparkTestBase {

  private def goldSet(df: org.apache.spark.sql.DataFrame) = df
    .select("type", "color", "size", "count_type")
    .collect()
    .map(r => (r.getString(0), Option(r.getString(1)), Option(r.getString(2)), r.getLong(3)))
    .toSet

  /** Gold's `last` is the string form of its `last_event_time`. */
  private def assertLastIsLatest(gold: org.apache.spark.sql.DataFrame): Unit = {
    val off = gold.where(!col("last").eqNullSafe(
      date_format(col("last_event_time"), "dd-MM-yyyy H:mm:ss")))
    assert(off.isEmpty, s"gold rows whose last is not their latest event: ${off.collect().toSeq}")
  }

  test("streaming medallion chain over the commit-log source equals the batch recompute") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val gen = new EventGenerator(seed = 47)
    val registry = new InMemorySchemaRegistry
    val all = gen.events(90, duplicateEvery = 6)
    val (b1, b2) = all.splitAt(45)
    val base = tmpDir("tx-medallion-stream")
    val rawPath = s"$base/raw"
    val ckpt = s"$base/_checkpoints"
    val dayStart = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val t = TxMedallion.tables(spark, base)
    val stream = MemoryStream[KafkaEnvelope]

    def ingest(): Unit =
      RawIngest.run(stream.toDF(), registry, ConfluentWire, rawPath, s"$ckpt/raw")
        .awaitTermination()

    // run 1: silver and gold are REAL readStream queries over the
    // bronze/silver commit logs (TxTableSource)
    stream.addData(gen.envelopes(b1, registry, ConfluentWire, 0))
    ingest()
    TxMedallion.runStreaming(spark, rawPath, t, ckpt, dayStart)
    assert(goldSet(t.gold.read()) ==
      goldSet(Medallion.batchGold(spark, rawPath, dayStart)))

    // run 2: second half plus exact redeliveries spanning the split —
    // the state-store dedup must hold across restarts of the stream
    stream.addData(gen.envelopes(b2 ++ b1.take(5), registry, ConfluentWire, 45))
    ingest()
    TxMedallion.runStreaming(spark, rawPath, t, ckpt, dayStart)
    assert(goldSet(t.gold.read()) ==
      goldSet(Medallion.batchGold(spark, rawPath, dayStart)))
    val dupCount = t.silver.read().groupBy("eventId").count()
      .where(col("count") > 1).count()
    assert(dupCount == 0, "cross-restart dedup must keep one row per eventId")
    assertLastIsLatest(t.gold.read())

    // run 3: nothing new — no stage commits (checkpointed offsets +
    // idempotent sinks hold), the answer is unchanged
    val (bv, sv, gv) = (t.bronze.version, t.silver.version, t.gold.version)
    TxMedallion.runStreaming(spark, rawPath, t, ckpt, dayStart)
    assert(t.bronze.version == bv, "no new raw data: bronze must not commit")
    assert(t.silver.version == sv, "no new bronze commits: silver must not commit")
    assert(t.gold.version == gv, "no new silver commits: gold must not re-emit")
    assert(goldSet(t.gold.read()) ==
      goldSet(Medallion.batchGold(spark, rawPath, dayStart)))
  }

  test("ACID medallion chain: incremental runs equal the batch recompute, exactly-once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val gen = new EventGenerator(seed = 31)
    val registry = new InMemorySchemaRegistry
    val all = gen.events(90, duplicateEvery = 6)
    val (b1, b2) = all.splitAt(45)
    val base = tmpDir("tx-medallion")
    val rawPath = s"$base/raw"
    val ckpt = s"$base/_checkpoints"
    val dayStart = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val t = TxMedallion.tables(spark, base)
    val stream = MemoryStream[KafkaEnvelope]

    def ingest(): Unit =
      RawIngest.run(stream.toDF(), registry, ConfluentWire, rawPath, s"$ckpt/raw")
        .awaitTermination()

    // run 1: first half (with in-increment duplicates)
    stream.addData(gen.envelopes(b1, registry, ConfluentWire, 0))
    ingest()
    TxMedallion.run(spark, rawPath, t, ckpt, dayStart)
    assert(goldSet(t.gold.read()) ==
      goldSet(Medallion.batchGold(spark, rawPath, dayStart)))
    val silverV1 = t.silver.version
    val bronzeV1 = t.bronze.version
    // bronze's progress lives in its own log, under the bronze@raw
    // cursor, not in a streaming checkpoint
    assert(!new java.io.File(s"$ckpt/bronze_tx").exists(),
      "run must keep no bronze checkpoint")
    assert(t.bronze.state().txns(TxMedallion.BronzeCursor) ==
      new graft.core.TxTable(spark, rawPath).version)

    // run 2: second half PLUS exact redeliveries of first-half events
    // (duplicateEvery spans the split) — cross-increment dedup must hold
    stream.addData(gen.envelopes(b2 ++ b1.take(5), registry, ConfluentWire, 45))
    ingest()
    TxMedallion.run(spark, rawPath, t, ckpt, dayStart)
    assert(goldSet(t.gold.read()) ==
      goldSet(Medallion.batchGold(spark, rawPath, dayStart)))
    // silver advanced exactly one commit and processed only the delta
    assert(t.silver.version == silverV1 + 1)
    assert(t.bronze.version > bronzeV1)
    // every eventId appears exactly once in silver
    val dupCount = t.silver.read().groupBy("eventId").count()
      .where(col("count") > 1).count()
    assert(dupCount == 0, "cross-increment dedup must keep one row per eventId")
    assertLastIsLatest(t.gold.read())

    // run 3: nothing new — no stage commits (the exactly-once cursors
    // hold, gold's included), the answer is unchanged
    val (bv, sv, gv) = (t.bronze.version, t.silver.version, t.gold.version)
    TxMedallion.run(spark, rawPath, t, ckpt, dayStart)
    assert(t.bronze.version == bv, "no new raw data: bronze must not commit")
    assert(t.silver.version == sv, "no new bronze commits: silver must not commit")
    assert(t.gold.version == gv, "no new silver commits: gold must not commit")
    assert(goldSet(t.gold.read()) ==
      goldSet(Medallion.batchGold(spark, rawPath, dayStart)))

    // compaction is safe mid-pipeline: the rewrite commit adds no rows
    // downstream, and silver's cursor advances past it (one empty
    // commit) so the range is never re-scanned
    t.bronze.compact()
    val sRows = t.silver.read().count()
    TxMedallion.run(spark, rawPath, t, ckpt, dayStart)
    assert(t.silver.read().count() == sRows,
      "a compaction commit must not be re-read as new data")
    assert(t.silver.state().txns(TxMedallion.SilverCursor) == t.bronze.version,
      "silver's cursor must advance past the compaction commit")
    assert(goldSet(t.gold.read()) ==
      goldSet(Medallion.batchGold(spark, rawPath, dayStart)))
  }

  test("a steady trigger of the same shape compiles no generated code") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val gen = new EventGenerator(seed = 53)
    val registry = new InMemorySchemaRegistry
    val Seq(b1, b2, b3) = gen.events(120, duplicateEvery = 6).grouped(40).toSeq
    val base = tmpDir("tx-medallion-codegen")
    val rawPath = s"$base/raw"
    val ckpt = s"$base/_checkpoints"
    val dayStart = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val t = TxMedallion.tables(spark, base)
    val stream = MemoryStream[KafkaEnvelope]

    // RawIngest runs as a streaming query on a cloned session: the
    // codegen cache must outlive each query's session
    def trigger(batch: Seq[graft.gen.ProductEvent], offset: Int): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      stream.addData(gen.envelopes(batch, registry, ConfluentWire, offset))
      RawIngest.run(stream.toDF(), registry, ConfluentWire, rawPath, s"$ckpt/raw")
        .awaitTermination()
      TxMedallion.run(spark, rawPath, t, ckpt, dayStart)
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    trigger(b1, 0) // fresh tables: the first trigger plans differently
    trigger(b2, 40) // the warm trigger
    assert(trigger(b3, 80) == 0L, "a steady trigger recompiled generated classes")
    assert(goldSet(t.gold.read()) ==
      goldSet(Medallion.batchGold(spark, rawPath, dayStart)))
  }

  /** One ingest-fed chain on fresh tables under a temp dir. */
  private class Chain(name: String, seed: Long) {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val gen = new EventGenerator(seed)
    val registry = new InMemorySchemaRegistry
    val base = tmpDir(name)
    val rawPath = s"$base/raw"
    val ckpt = s"$base/_checkpoints"
    val t = TxMedallion.tables(spark, base)
    private val stream = MemoryStream[KafkaEnvelope]
    private var offset = 0
    /** Ingest `events`, then one `TxMedallion.run`. */
    def trigger(events: Seq[graft.gen.ProductEvent], dayStart: java.sql.Timestamp): Unit = {
      if (events.nonEmpty) {
        stream.addData(gen.envelopes(events, registry, ConfluentWire, offset))
        offset += events.size
        RawIngest.run(stream.toDF(), registry, ConfluentWire, rawPath, s"$ckpt/raw")
          .awaitTermination()
      }
      TxMedallion.run(spark, rawPath, t, ckpt, dayStart)
    }
    /** Gold equals the batch recompute for `dayStart`, counts and time. */
    def assertGold(dayStart: java.sql.Timestamp): Unit = {
      val cols = Seq("type", "color", "size", "count_type", "count_color", "count_size",
        "last_event_time").map(col)
      val gold = t.gold.read().select(cols: _*)
      val expected = Medallion.batchGold(spark, rawPath, dayStart).select(cols: _*)
      assert(gold.collect().toSet == expected.collect().toSet)
      assert(gold.count() == expected.count())
      assertLastIsLatest(t.gold.read())
    }
  }

  private val day = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
  // the generator's events are one second apart from 2024-01-01 00:00:00
  private val dayLate = java.sql.Timestamp.valueOf("2024-01-01 00:00:30")

  test("gold folds silver's increment under its cursor and commits once per silver head") {
    val c = new Chain("tx-medallion-fold", seed = 61)
    val Seq(b1, b2) = c.gen.events(80, duplicateEvery = 6).grouped(40).toSeq
    c.trigger(b1, day)
    assert(c.t.gold.state().txns(TxMedallion.goldCursor(day)) == c.t.silver.version)
    val gv = c.t.gold.version
    c.trigger(b2, day)
    assert(c.t.gold.version == gv + 1, "one fold is one gold commit")
    assert(c.t.gold.state().txns(TxMedallion.goldCursor(day)) == c.t.silver.version)
    c.assertGold(day)
    // the folded plan aggregates with hashes, not sorts
    val parts = Medallion.goldCombine(Medallion.goldContributions(c.t.silver.read(), day))
    val plan = parts.queryExecution.executedPlan.toString
    assert(!plan.contains("SortAggregate"), plan)
  }

  test("a non-append silver commit makes the next run rebuild gold in full") {
    val c = new Chain("tx-medallion-rebuild", seed = 67)
    c.trigger(c.gen.events(60, duplicateEvery = 6), dayLate)
    val gv = c.t.gold.version
    // rows outside gold's window: the delete rewrites the files that
    // hold them, so silver's range since gold's cursor removes files
    c.t.silver.delete(col("event_time") < lit(dayLate))
    assert(c.t.silver.readAppends(c.t.silver.version - 1, c.t.silver.version).isEmpty)
    c.trigger(Nil, dayLate)
    assert(c.t.gold.version == gv + 1)
    // a fold of the rewritten files would count their rows twice
    c.assertGold(dayLate)
  }

  test("a crash before gold's claim leaves the cursor, and the rerun folds exactly once") {
    val c = new Chain("tx-medallion-crash", seed = 71)
    val Seq(b1, b2) = c.gen.events(80, duplicateEvery = 6).grouped(40).toSeq
    c.trigger(b1, day)
    val (gv, at) = (c.t.gold.version, c.t.gold.state().txns(TxMedallion.goldCursor(day)))
    c.t.gold.beforeCommitHook = () => throw new IllegalStateException("crash before claim")
    val e = intercept[IllegalStateException](c.trigger(b2, day))
    assert(e.getMessage == "crash before claim")
    assert(c.t.gold.version == gv, "the crashed run committed gold")
    assert(c.t.gold.state().txns(TxMedallion.goldCursor(day)) == at)
    assert(c.t.silver.version > at, "silver committed before gold's crash")
    c.trigger(Nil, day)
    assert(c.t.gold.version == gv + 1)
    c.assertGold(day)
    c.trigger(Nil, day)
    assert(c.t.gold.version == gv + 1, "the rerun's fold is not repeated")
  }

  test("a run with another dayStart rebuilds gold for that window, and switching back too") {
    val c = new Chain("tx-medallion-window", seed = 73)
    val Seq(b1, b2, b3) = c.gen.events(120, duplicateEvery = 6).grouped(40).toSeq
    c.trigger(b1, day)
    c.trigger(b2, day)
    c.assertGold(day)
    // no silver commit in between: only the cursor's window differs
    c.trigger(Nil, dayLate)
    c.assertGold(dayLate)
    // back to the first window, at the head its cursor already holds
    c.trigger(Nil, day)
    c.assertGold(day)
    // and past it: gold's last commit was a rebuild without the cursor
    c.trigger(b3, day)
    c.assertGold(day)
    c.trigger(Nil, dayLate)
    c.assertGold(dayLate)
  }
}
