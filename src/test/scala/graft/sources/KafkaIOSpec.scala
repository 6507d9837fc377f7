package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.codec.{AvroBinary, ConfluentWire, GlueWire}
import graft.functions.AvroEncode
import graft.ingest.RawIngest
import graft.schema.{InMemorySchemaRegistry, ProductSchemas}

class KafkaIOSpec extends SparkTestBase {

  test("startingOffsets JSON matches the reference's option shape") {
    assert(KafkaIO.startingOffsetsJson("products", Map(0 -> 25L)) == """{"products":{"0":25}}""")
    assert(KafkaIO.startingOffsetsJson("t", Map(1 -> -1L, 0 -> -2L)) == """{"t":{"0":-2,"1":-1}}""")
  }

  test("sasl options carry the JAAS config") {
    val o = KafkaIO.saslOptions("k", "s")
    assert(o("kafka.security.protocol") == "SASL_SSL")
    assert(o("kafka.sasl.jaas.config").contains("""username="k" password="s""""))
  }

  test("AvroEncode round-trips through AvroDecode (to_avro ∘ from_avro = id)") {
    import spark.implicits._
    val df = Seq(("p1", "e1", "shirt", 42L, "m", "red"))
      .toDF("productId", "eventId", "type", "timestamp", "size", "color")
    val encoded = df.select(AvroEncode.toAvro(
      struct($"productId", $"eventId", $"type", $"timestamp", $"size", $"color"),
      ProductSchemas.v2Json).as("payload"))
    val back = encoded.select(
      graft.functions.AvroDecode.fromAvro(col("payload"), ProductSchemas.v2Json).as("v"))
      .select(col("v.*")).collect().head
    assert(back.getAs[String]("type") == "shirt")
    assert(back.getAs[Long]("timestamp") == 42L)
    assert(back.getAs[String]("color") == "red")
  }

  test("producer projection emits framed values that RawIngest can demux") {
    import spark.implicits._
    val registry = new InMemorySchemaRegistry
    val df = Seq(("0", "p1", "e1", "pants", 7L)).toDF("k", "productId", "eventId", "type", "timestamp")
    val framedC = KafkaIO.confluentProducerProjection(df, $"k",
      struct($"productId", $"eventId", $"type", $"timestamp"),
      registry, "product-value", ProductSchemas.v1)
    val valueC = framedC.select("value").collect().head.getAs[Array[Byte]](0)
    val (id, payload) = ConfluentWire.unframe(valueC)
    assert(registry.getById(id).toString == ProductSchemas.v1.toString)
    assert(AvroBinary.decode(payload, ProductSchemas.v1, ProductSchemas.v1)
      .get("type").toString == "pants")

    val framedG = KafkaIO.glueProducerProjection(df, $"k",
      struct($"productId", $"eventId", $"type", $"timestamp"),
      registry, "product-value", ProductSchemas.v1)
    val valueG = framedG.select("value").collect().head.getAs[Array[Byte]](0)
    val (uuid, payloadG) = GlueWire.unframe(valueG)
    assert(registry.getByUuid(uuid).toString == ProductSchemas.v1.toString)
    assert(payloadG.sameElements(payload))

    // end-to-end: producer projection -> envelope -> demux ingest
    val envelope = framedC.select(
      $"key", $"value", lit("products").as("topic"), lit(0).as("partition"),
      lit(0L).as("offset"), current_timestamp().as("timestamp"), lit(0).as("timestampType"))
    val raw = tmpDir("kafkaio-raw")
    RawIngest.demuxToTable(envelope, registry, ConfluentWire,
      new graft.core.TxTable(spark, raw), "spec", 0L)
    assert(RawIngest.readRaw(spark, raw).select("parsedValue.type").collect()
      .head.getString(0) == "pants")
  }
}
