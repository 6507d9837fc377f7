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

    // run 3: nothing new — bronze and silver commit nothing (the
    // exactly-once cursors hold), gold rebuilds to the same answer
    val (bv, sv) = (t.bronze.version, t.silver.version)
    TxMedallion.run(spark, rawPath, t, ckpt, dayStart)
    assert(t.bronze.version == bv, "no new raw data: bronze must not commit")
    assert(t.silver.version == sv, "no new bronze commits: silver must not commit")
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

    // RawIngest and bronze run as streaming queries on cloned sessions:
    // the codegen cache must outlive each query's session
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
}
