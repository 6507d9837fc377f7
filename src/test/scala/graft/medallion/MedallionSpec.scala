package graft.medallion

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.codec.{ConfluentWire, WireFormat}
import graft.gen.{EventGenerator, KafkaEnvelope}
import graft.ingest.RawIngest
import graft.schema.{InMemorySchemaRegistry, SchemaRegistry}

object MedallionSpec {

  /** The reference's DAG on one envelope source: registry demux ingest
    * into `<base>/raw`, then one run of the ACID chain; returns gold.
    */
  def chainGold(spark: SparkSession, source: DataFrame, registry: SchemaRegistry,
                wire: WireFormat, base: String, permissive: Boolean = false): DataFrame = {
    RawIngest.run(source, registry, wire, s"$base/raw", s"$base/_checkpoints/raw",
      permissive).awaitTermination()
    val t = TxMedallion.tables(spark, base)
    TxMedallion.run(spark, s"$base/raw", t, s"$base/_checkpoints",
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
    t.gold.read()
  }
}

class MedallionSpec extends SparkTestBase {
  import MedallionSpec.chainGold

  test("pipeline works identically over the Glue wire format") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val gen = new EventGenerator(seed = 21)
    val registry = new InMemorySchemaRegistry
    val stream = MemoryStream[KafkaEnvelope]
    stream.addData(gen.envelopes(gen.events(45), registry, graft.codec.GlueWire))
    val gold = chainGold(spark, stream.toDF(), registry, graft.codec.GlueWire,
      tmpDir("pipeline-glue"))
    assert(gold.agg(sum("count_type")).collect().head.getLong(0) == 45)
    // v1 rows survive with null size/color (mergeSchema semantics, §7.5.5)
    assert(gold.filter(col("size").isNull).count() > 0)
  }

  test("permissive pipeline drops corrupt payloads and completes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val gen = new EventGenerator(seed = 23)
    val registry = new InMemorySchemaRegistry
    val good = gen.envelopes(gen.events(30), registry, ConfluentWire)
    val id = registry.latest("product-value").get._1
    val corrupt = good.head.copy(
      value = ConfluentWire.frame(id, Array[Byte](9)), offset = 999L)
    val stream = MemoryStream[KafkaEnvelope]
    stream.addData(good :+ corrupt)
    val gold = chainGold(spark, stream.toDF(), registry, ConfluentWire,
      tmpDir("pipeline-permissive"), permissive = true)
    assert(gold.agg(sum("count_type")).collect().head.getLong(0) == 30)
  }
}
