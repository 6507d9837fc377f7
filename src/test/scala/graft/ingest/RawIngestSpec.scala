package graft.ingest

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.codec.{ConfluentWire, GlueWire}
import graft.core.TxTable
import graft.gen.EventGenerator
import graft.schema.InMemorySchemaRegistry

class RawIngestSpec extends SparkTestBase {

  private def tx(path: String): TxTable = new TxTable(spark, path)

  test("demux splits a mixed v1/v2 batch by schema and decodes each group (Confluent)") {
    val gen = new EventGenerator(seed = 1)
    val registry = new InMemorySchemaRegistry
    val es = gen.events(90)
    val batch = gen.envelopeDF(spark, es, registry, ConfluentWire)
    val raw = tmpDir("raw-confluent")
    RawIngest.demuxToTable(batch, registry, ConfluentWire, tx(raw), "spec", 0L)
    val out = RawIngest.readRaw(spark, raw).select(col("parsedValue.*"))
    assert(out.count() == 90)
    // 1:2 v1:v2 mix — v1 rows decode with the v1 schema, so size/color are null after merge
    assert(out.filter(col("size").isNull).count() == 30)
    assert(out.filter(col("color") === "red").count() > 0)
    // every eventId survived exactly once
    assert(out.select("eventId").distinct().count() == 90)
  }

  test("a mixed v1/v2 batch of 4 partitions commits 4 files in 2 jobs with no shuffle") {
    val gen = new EventGenerator(seed = 21)
    val registry = new InMemorySchemaRegistry
    // envelopeDF parallelizes into 4 partitions, each holding both versions
    val batch = gen.envelopeDF(spark, gen.events(90), registry, ConfluentWire)
    assert(batch.rdd.getNumPartitions == 4)
    val raw = tx(tmpDir("raw-two-jobs"))
    val work = workDuring {
      RawIngest.demuxToTable(batch, registry, ConfluentWire, raw, "spec", 0L)
    }
    // one key pass and one write; the groups share the input's 4 tasks
    assert(work.jobs == 2, s"demuxToTable ran ${work.jobs} jobs, expected 2")
    assert(work.shuffleWriteBytes == 0L, s"demuxToTable shuffled ${work.shuffleWriteBytes} B")
    assert(work.sqlExecutions <= 2, s"demuxToTable ran ${work.sqlExecutions} SQL executions")
    assert(raw.state().files.size == 4, "one staged file per input partition, not per group")
    val out = RawIngest.readRaw(spark, raw.tablePath).select(col("parsedValue.*"))
    assert(out.count() == 90 && out.filter(col("size").isNull).count() == 30)

    val v1 = tx(tmpDir("raw-v1-files"))
    RawIngest.demuxToTable(
      gen.envelopeDF(spark, gen.events(60).filterNot(_.isV2), registry, ConfluentWire),
      registry, ConfluentWire, v1, "spec", 0L)
    assert(v1.state().files.size == 4, "a one-group batch stages one file per partition")
  }

  test("demux works for the Glue wire format (uuid header demux)") {
    val gen = new EventGenerator(seed = 2)
    val registry = new InMemorySchemaRegistry
    val batch = gen.envelopeDF(spark, gen.events(30), registry, GlueWire)
    val raw = tmpDir("raw-glue")
    RawIngest.demuxToTable(batch, registry, GlueWire, tx(raw), "spec", 0L)
    val out = RawIngest.readRaw(spark, raw)
    assert(out.count() == 30)
    assert(out.select("parsedValue.productId").distinct().count() <= 3)
  }

  test("a crash between the staged write and the log claim leaves raw unchanged; " +
    "a replayed (writer, batch) commits once") {
    val gen = new EventGenerator(seed = 11)
    val registry = new InMemorySchemaRegistry
    val batch = gen.envelopeDF(spark, gen.events(60), registry, ConfluentWire)
    val raw = tx(tmpDir("raw-crash"))
    RawIngest.demuxToTable(batch, registry, ConfluentWire, raw, "spec", 0L)
    assert(raw.version == 0L && RawIngest.readRaw(spark, raw.tablePath).count() == 60)

    // crash injection: batch 1's groups are staged, then the writer
    // dies before claiming the log — readers see the old version only
    val batch1 = gen.envelopeDF(spark, gen.events(30), registry, ConfluentWire)
    raw.beforeCommitHook = () => throw new IllegalStateException("crash before claim")
    intercept[IllegalStateException] {
      RawIngest.demuxToTable(batch1, registry, ConfluentWire, raw, "spec", 1L)
    }
    assert(raw.version == 0L)
    assert(RawIngest.readRaw(spark, raw.tablePath).count() == 60)

    // the recovery replay commits the whole batch in one version; a
    // further redelivery of the same (writer, batch) is a no-op
    RawIngest.demuxToTable(batch1, registry, ConfluentWire, raw, "spec", 1L)
    RawIngest.demuxToTable(batch1, registry, ConfluentWire, raw, "spec", 1L)
    assert(raw.version == 1L)
    val out = RawIngest.readRaw(spark, raw.tablePath)
    assert(out.count() == 90)
    assert(out.select("parsedValue.eventId").distinct().count() == 90)
  }

  test("raw's schema evolves both ways: v1-only after mixed, mixed after v1-only") {
    val gen = new EventGenerator(seed = 6)
    val registry = new InMemorySchemaRegistry
    def mixed(n: Int) = gen.envelopeDF(spark, gen.events(n), registry, ConfluentWire)
    def v1Only(n: Int) = gen.envelopeDF(spark, gen.events(n).filterNot(_.isV2),
      registry, ConfluentWire)
    val mixedFirst = tx(tmpDir("raw-mixed-first"))
    RawIngest.demuxToTable(mixed(60), registry, ConfluentWire, mixedFirst, "spec", 0L)
    RawIngest.demuxToTable(v1Only(30), registry, ConfluentWire, mixedFirst, "spec", 1L)
    val out = RawIngest.readRaw(spark, mixedFirst.tablePath).select(col("parsedValue.*"))
    assert(out.count() == 70)
    assert(out.filter(col("size").isNull).count() == 30) // v1 rows null-padded
    assert(out.filter(col("color").isNotNull).count() == 40)

    val v1First = tx(tmpDir("raw-v1-first"))
    RawIngest.demuxToTable(v1Only(30), registry, ConfluentWire, v1First, "spec", 0L)
    RawIngest.demuxToTable(mixed(60), registry, ConfluentWire, v1First, "spec", 1L)
    val out2 = RawIngest.readRaw(spark, v1First.tablePath).select(col("parsedValue.*"))
    assert(out2.columns.toSeq ==
      Seq("productId", "eventId", "type", "timestamp", "size", "color"))
    assert(out2.count() == 70)
    assert(out2.filter(col("size").isNull).count() == 30)
  }

  test("RawIngest.run on a new checkpoint over an existing raw table appends its batch 0") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val gen = new EventGenerator(seed = 17)
    val registry = new InMemorySchemaRegistry
    val raw = tmpDir("raw-two-checkpoints")
    def ingest(n: Int, ck: String): Unit = {
      val stream = MemoryStream[graft.gen.KafkaEnvelope]
      stream.addData(gen.envelopes(gen.events(n), registry, ConfluentWire))
      RawIngest.run(stream.toDF(), registry, ConfluentWire, raw, ck).awaitTermination()
    }
    ingest(20, tmpDir("raw-ck-a"))
    // a fresh checkpoint is a fresh writer: its batch 0 is new data,
    // never a replay of the first query's batch 0
    ingest(10, tmpDir("raw-ck-b"))
    assert(new TxTable(spark, raw).version == 1L)
    assert(RawIngest.readRaw(spark, raw).count() == 30)
  }

  test("unknown schema id: fails the batch by default, dead-letters when configured") {
    val gen = new EventGenerator(seed = 5)
    val registry = new InMemorySchemaRegistry
    val good = gen.envelopeDF(spark, gen.events(9), registry, ConfluentWire)
    // a record framed with an id the consumer registry has never seen
    val strangerValue = ConfluentWire.frame(9999, gen.encode(gen.next(1)))
    val stranger = gen.envelopeDF(spark, gen.events(1), registry, ConfluentWire)
      .withColumn("value", lit(strangerValue))
    val batch = good.unionByName(stranger)

    intercept[NoSuchElementException] {
      RawIngest.demuxToTable(batch, registry, ConfluentWire, tx(tmpDir("raw-unknown")),
        "spec", 0L)
    }

    val raw = tmpDir("raw-dlq-main")
    val dlq = tmpDir("raw-dlq")
    RawIngest.demuxToTable(batch, registry, ConfluentWire, tx(raw), "spec", 0L,
      deadLetterPath = Some(dlq))
    assert(RawIngest.readRaw(spark, raw).count() == 9)
    val dead = spark.read.parquet(dlq)
    assert(dead.count() == 1)
    // dead letters keep the raw framed value for replay
    assert(dead.select("value").collect().head.getAs[Array[Byte]](0).sameElements(strangerValue))
  }

  test("truncated value (shorter than the wire header) dead-letters instead of crashing") {
    val gen = new EventGenerator(seed = 8)
    val registry = new InMemorySchemaRegistry
    val good = gen.envelopeDF(spark, gen.events(6), registry, ConfluentWire)
    val poison = gen.envelopeDF(spark, gen.events(1), registry, ConfluentWire)
      .withColumn("value", lit(Array[Byte](0, 1, 2))) // 3 bytes < 5-byte header
    val batch = good.unionByName(poison)
    val raw = tmpDir("raw-poison-main")
    val dlq = tmpDir("raw-poison-dlq")
    RawIngest.demuxToTable(batch, registry, ConfluentWire, tx(raw), "spec", 0L,
      deadLetterPath = Some(dlq))
    assert(RawIngest.readRaw(spark, raw).count() == 6)
    assert(spark.read.parquet(dlq).count() == 1)
  }

  test("a tombstone (null value) dead-letters with a DLQ and fails the batch without one") {
    val gen = new EventGenerator(seed = 9)
    val registry = new InMemorySchemaRegistry
    val good = gen.envelopeDF(spark, gen.events(6), registry, ConfluentWire)
    val tombstone = gen.envelopeDF(spark, gen.events(1), registry, ConfluentWire)
      .withColumn("value", lit(null).cast("binary"))
    val batch = good.unionByName(tombstone)

    intercept[Exception] {
      RawIngest.demuxToTable(batch, registry, ConfluentWire, tx(tmpDir("raw-tomb-fail")),
        "spec", 0L)
    }

    val raw = tmpDir("raw-tomb-main")
    val dlq = tmpDir("raw-tomb-dlq")
    RawIngest.demuxToTable(batch, registry, ConfluentWire, tx(raw), "spec", 0L,
      deadLetterPath = Some(dlq))
    assert(RawIngest.readRaw(spark, raw).count() == 6)
    val dead = spark.read.parquet(dlq)
    assert(dead.count() == 1, "the tombstone must land in the DLQ")
    assert(dead.where(col("value").isNull).count() == 1)
  }

  test("permissive ingest drops corrupt rows; failfast propagates") {
    val gen = new EventGenerator(seed = 3)
    val registry = new InMemorySchemaRegistry
    val good = gen.envelopeDF(spark, gen.events(12), registry, ConfluentWire)
    // corrupt: valid framing + valid schema id, truncated payload
    val id = registry.latest("product-value").get._1
    val corruptValue = ConfluentWire.frame(id, Array[Byte](1))
    val corrupt = gen.envelopeDF(spark, gen.events(1), registry, ConfluentWire)
      .withColumn("value", lit(corruptValue))
    val batch = good.unionByName(corrupt)

    val rawPermissive = tmpDir("raw-permissive")
    RawIngest.demuxToTable(batch, registry, ConfluentWire, tx(rawPermissive), "spec", 0L,
      permissive = true)
    assert(RawIngest.readRaw(spark, rawPermissive).count() == 12)

    val rawFailfast = tmpDir("raw-failfast")
    intercept[Exception] {
      RawIngest.demuxToTable(batch, registry, ConfluentWire, tx(rawFailfast), "spec", 0L,
        permissive = false)
    }
  }

  test("known-id corrupt payloads dead-letter per ROW; healthy groups still commit") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val gen = new EventGenerator(seed = 13)
    val registry = new InMemorySchemaRegistry
    // mixed batch: v1 + v2 events (two healthy groups) + one record
    // with a VALID id but garbage payload (rogue producer)
    val events = gen.events(20)
    val good = gen.envelopeDF(spark, events, registry, ConfluentWire)
    val id = registry.latest("product-value").get._1
    val corruptValue = ConfluentWire.frame(id, Array[Byte](7))
    val corrupt = gen.envelopeDF(spark, gen.events(1), registry, ConfluentWire)
      .withColumn("value", lit(corruptValue))
    val batch = good.unionByName(corrupt)
    val raw = tmpDir("raw-rowdlq-main")
    val dlq = tmpDir("raw-rowdlq")
    // even under FAILFAST semantics (permissive = false), a configured
    // DLQ isolates the bad ROW instead of wedging the batch
    RawIngest.demuxToTable(batch, registry, ConfluentWire, tx(raw), "spec", 0L,
      permissive = false, deadLetterPath = Some(dlq))
    val out = RawIngest.readRaw(spark, raw)
    assert(out.count() == 20, "every healthy row of every group must land")
    assert(out.where(col("parsedValue").isNull).count() == 0)
    val dead = spark.read.parquet(dlq)
    assert(dead.count() == 1)
    assert(dead.select("value").collect().head.getAs[Array[Byte]](0)
      .sameElements(corruptValue), "the DLQ must hold the raw framed bytes")

    // end-to-end through the STREAMING ingest: the checkpoint advances
    // past the poisoned batch (one bad producer no longer wedges the
    // pipeline) and a later clean batch still lands
    val stream = MemoryStream[graft.gen.KafkaEnvelope]
    val sraw = tmpDir("raw-rowdlq-stream")
    val sdlq = tmpDir("raw-rowdlq-sdlq")
    val ck = tmpDir("raw-rowdlq-ck")
    stream.addData(gen.envelopes(gen.events(10), registry, ConfluentWire) :+
      graft.gen.KafkaEnvelope(Array[Byte](0), corruptValue, "t", 0, 0L,
        new java.sql.Timestamp(0L), 0))
    RawIngest.run(stream.toDF(), registry, ConfluentWire, sraw, ck,
      deadLetterPath = Some(sdlq)).awaitTermination()
    stream.addData(gen.envelopes(gen.events(5), registry, ConfluentWire))
    RawIngest.run(stream.toDF(), registry, ConfluentWire, sraw, ck,
      deadLetterPath = Some(sdlq)).awaitTermination()
    assert(RawIngest.readRaw(spark, sraw).count() == 15,
      "both batches' healthy rows must land across restarts")
    assert(spark.read.parquet(sdlq).count() == 1)
  }
}
