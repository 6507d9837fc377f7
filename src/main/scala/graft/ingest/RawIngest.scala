package graft.ingest

import java.nio.ByteBuffer

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{ArrayType, BinaryType, StructField, StructType}

import graft.codec.{ConfluentWire, GlueWire, WireFormat}
import graft.core.TxTable
import graft.functions.AvroDecode
import graft.schema.SchemaRegistry
import graft.streaming.TxTableSink

/** Kafka(-shaped) → raw table ingest with per-record schema-registry
  * resolution — the reference's signature algorithm (ST10): per
  * micro-batch, collect the distinct schema keys, resolve each id
  * against the registry, decode each group with its own writer schema,
  * and commit the groups to one raw [[TxTable]] whose schema widens as
  * new versions appear (ingest.scala:123-177, ingest_raw.scala:119-156;
  * the reference's raw is a Delta table with mergeSchema). Each
  * micro-batch is one exactly-once commit, keyed by the streaming
  * query id and the batch id.
  *
  * A micro-batch costs two Spark jobs, neither with a shuffle: a key
  * pass that emits one row per input partition holding that
  * partition's distinct schema keys (deduplicated on the driver), and
  * the write, where the decoded groups are coalesced back to the input
  * partition count, so a commit stages one file per input partition
  * whatever the number of schema versions in the batch.
  *
  * 100 TB notes (SURVEY.md §7.5.8): the driver-side collect is one row
  * per input partition, each holding at most the registry's handful of
  * schema keys — O(partitions × versions), never O(rows); decode
  * happens executor-side inside [[AvroDecode]] after the schema-key
  * filter, so each row is decoded once per batch (the decoded groups
  * are cached across the dead-letter probe and the write when a DLQ is
  * configured). The coalesce adds no exchange: a write task decodes
  * every group of the partitions it owns, so write parallelism is the
  * input's, as it was per group.
  */
object RawIngest {

  /** Metadata columns carried into the raw table (ingest.scala:155-161). */
  private val metaCols = Seq("topic", "partition", "offset", "timestamp", "timestampType", "key")

  /** A schema key with value equality (None for a null value). */
  private def keyOf(bytes: Array[Byte]): Option[Seq[Byte]] = Option(bytes).map(_.toSeq)
  private def bytesOf(key: Option[Seq[Byte]]): Array[Byte] = key.map(_.toArray).orNull

  /** One row per input partition: that partition's distinct keys. */
  private val keysEncoder = Encoders.row(StructType(Seq(
    StructField("keys", ArrayType(BinaryType, containsNull = true)))))

  /** Demux one (micro-)batch into per-schema decoded groups and run
    * `action` on them and the batch's input partition count while the
    * keyed batch is cached (the reference caches the batch across
    * group passes, P9 at ingest.scala:127 — but leaks it; we release
    * on exit). Group column layout: kafka metadata + `parsedValue`
    * struct.
    */
  def demux[T](batch: DataFrame, registry: SchemaRegistry, wire: WireFormat,
               permissive: Boolean = false, deadLetterPath: Option[String] = None)
              (action: (Seq[DataFrame], Int) => T): T = {
    val keyed = batch
      .withColumn("schemaKey", wire.schemaKeyCol(col("value")))
      .withColumn("payload", wire.payloadCol(col("value")))
      .persist()
    try {
      // P7/P8: one map-side pass (it also fills the cache) sends each
      // partition's distinct keys to the driver — no shuffle, and the
      // row count is the partition count the write coalesces to
      val perPartition = keyed.select(col("schemaKey")).mapPartitions { rows =>
        Iterator.single(Row(rows.map(r => keyOf(r.getAs[Array[Byte]](0))).toSet.toSeq.map(bytesOf)))
      }(keysEncoder).collect()
      val keys = perPartition.toSeq.flatMap(_.getSeq[Array[Byte]](0).map(keyOf)).distinct.map(bytesOf)
      val resolved = keys.map { keyBytes =>
        val schema = try {
          Some(wire match {
            // Confluent's schemaKeyCol is already just the 4 id bytes (F2)
            case ConfluentWire => registry.getById(ByteBuffer.wrap(keyBytes).getInt)
            case GlueWire => registry.getByUuid(GlueWire.uuidOf(keyBytes))
          })
        } catch {
          // Unresolvable group: unknown schema id (producer ahead of
          // this consumer's registry view) or a malformed/truncated
          // header (schemaKey shorter than the wire format —
          // ByteBuffer/index errors). With a dead-letter path the
          // group is preserved raw for replay; without one, fail the
          // batch (silent drops would violate at-least-once).
          case scala.util.control.NonFatal(e) =>
            if (deadLetterPath.isEmpty) throw e
            None
        }
        (keyBytes, schema)
      }
      deadLetterPath.foreach { dlq =>
        val unknown = resolved.collect { case (k, None) => k }
        if (unknown.nonEmpty) {
          // a null value (a Kafka tombstone) has a null key, which IN
          // never matches: it is dead-lettered by its own test
          val (nullKey, keys) = unknown.partition(_ == null)
          val dead = col("schemaKey").isin(keys.map(x => x: Any): _*) ||
            (if (nullKey.nonEmpty) col("schemaKey").isNull else lit(false))
          keyed
            .filter(dead)
            .select((metaCols :+ "value").map(col): _*)
            .write.mode("append").parquet(dlq)
        }
      }
      // with a dead-letter path, decode PERMISSIVE regardless of the
      // flag: a known-id, wrong-payload record (rogue producer) must
      // not abort the whole micro-batch — its raw bytes land in the
      // DLQ below and every healthy row still commits. Without a DLQ,
      // FAILFAST keeps failing the batch (at-least-once, no drops).
      val lenient = permissive || deadLetterPath.isDefined
      val decodedGroups = resolved.collect { case (keyBytes, Some(schema)) =>
        val json = schema.toString
        keyed
          .filter(col("schemaKey") === lit(keyBytes)) // P5: group filter before decode (O4)
          .select((metaCols :+ "value").map(col) :+
            AvroDecode.fromAvro(col("payload"), json, json, lenient).as("parsedValue"): _*)
      }
      // cache the DECODED groups (not just the raw bytes) while both
      // the corrupt probe and the action consume them — without this
      // every row would pay the Avro decode twice per batch
      if (deadLetterPath.isDefined) decodedGroups.foreach(_.persist())
      try {
        deadLetterPath.foreach { dlq =>
          // per-ROW isolation of decode failures, same raw layout as
          // the unknown-id groups above: one probe + at most one
          // append per batch, off the cached decoded frames
          val corrupt = decodedGroups
            .map(_.where(col("parsedValue").isNull)
              .select((metaCols :+ "value").map(col): _*))
            .reduceOption(_.unionByName(_))
          corrupt.foreach { c =>
            val n = c.count()
            if (n > 0) {
              // visible, not silent: under permissive=false this is a
              // deliberate semantic (DLQ row-isolation overrides
              // FAILFAST for known-id corrupt payloads)
              org.slf4j.LoggerFactory.getLogger(getClass)
                .warn(s"diverting $n corrupt known-schema row(s) to DLQ $dlq" +
                  (if (permissive) "" else " (a configured DLQ overrides FAILFAST)"))
              c.write.mode("append").parquet(dlq)
            }
          }
        }
        val groups = decodedGroups.map { d =>
          val clean =
            if (lenient) d.where(col("parsedValue").isNotNull) else d
          clean.drop("value")
        }
        action(groups, perPartition.length)
      } finally if (deadLetterPath.isDefined) decodedGroups.foreach(_.unpersist())
    } finally keyed.unpersist()
  }

  /** Demux one micro-batch and commit it to the raw table as ONE
    * exactly-once `appendBatch` under (`writerId`, `batchId`): the
    * decoded groups are unioned by name with `allowMissingColumns`, so
    * a narrow schema's rows read the wider one's fields as null, and
    * the table's schema widens by name, nested struct fields included
    * ([[TxTable]]'s mergeSchema). The union is coalesced to the
    * batch's input partition count, so the commit stages at most one
    * file per input partition. A crash before the log claim leaves the
    * table at its old version; a redelivered batch is a no-op.
    */
  def demuxToTable(batch: DataFrame, registry: SchemaRegistry, wire: WireFormat,
                   raw: TxTable, writerId: String, batchId: Long,
                   permissive: Boolean = false,
                   deadLetterPath: Option[String] = None): Unit =
    demux(batch, registry, wire, permissive, deadLetterPath) { (groups, partitions) =>
      if (groups.nonEmpty)
        raw.appendBatch(groups.reduce(_.unionByName(_, allowMissingColumns = true))
          .coalesce(partitions), writerId, batchId)
    }

  /** The raw table's current snapshot. */
  def readRaw(spark: SparkSession, rawPath: String): DataFrame =
    new TxTable(spark, rawPath).read()

  /** Streaming ingest: foreachBatch demux (SNK3), checkpointed,
    * AvailableNow (the Spark-4 successor of the reference's
    * Trigger.Once, ST1). The writer identity of each commit is the
    * checkpointed streaming query id, so a restart on the same
    * checkpoint replays under the same key and a fresh checkpoint is a
    * new writer whose batch 0 commits.
    */
  def run(source: DataFrame, registry: SchemaRegistry, wire: WireFormat,
          rawPath: String, checkpoint: String, permissive: Boolean = false,
          queryName: String = "graftRawIngest",
          deadLetterPath: Option[String] = None): StreamingQuery = {
    val raw = new TxTable(source.sparkSession, rawPath)
    source.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        demuxToTable(batch, registry, wire, raw,
          TxTableSink.queryId(batch.sparkSession.sparkContext, "RawIngest.run"), batchId,
          permissive, deadLetterPath)
      }
      .queryName(queryName)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
