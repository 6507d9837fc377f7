package graft.medallion

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.RawIngest

/** The medallion stages' shared semantics: the bronze/silver/gold
  * transforms that both [[TxMedallion]] drivers (batch-incremental
  * `run`, streaming `runStreaming`) apply, and [[batchGold]], the
  * pure-batch recomputation their results are checked against.
  */
object Medallion {

  /** bronze: flatten the raw envelope's parsedValue struct (P2). */
  private[medallion] def bronzeTransform(raw: DataFrame): DataFrame =
    raw.select(col("parsedValue.*"))

  /** silver's `timestamp_str` format (silver.py:24-27), also gold's `last`. */
  private val TimestampFormat = "dd-MM-yyyy H:mm:ss"

  /** silver's column normalization: the reference's string timestamp
    * kept byte-for-byte (silver.py:24-27, chronologically unsound —
    * hazard §7.5.1) plus the sound TimestampType `event_time`.
    */
  private[medallion] def silverColumns(df: DataFrame): DataFrame =
    df.withColumn("timestamp_str", from_unixtime(col("timestamp"), TimestampFormat))
      .withColumn("event_time", timestamp_seconds(col("timestamp")))

  /** gold's input, one row per silver row of the day window (P6, on a
    * sound timestamp type): the group keys, a 0/1 non-null flag per
    * counted column and the row's `event_time`. [[goldCombine]] over
    * these is gold (gold.py:14-42); over an increment's contributions
    * unioned with gold's current rows it is gold one increment later.
    */
  private[medallion] def goldContributions(silver: DataFrame,
                                           dayStart: java.sql.Timestamp): DataFrame =
    silver
      .where(col("event_time") >= lit(dayStart))
      .select(col("type"), col("color"), col("size"),
        col("type").isNotNull.cast("long").as("count_type"),
        col("color").isNotNull.cast("long").as("count_color"),
        col("size").isNotNull.cast("long").as("count_size"),
        col("event_time").as("last_event_time"))

  /** gold: per (type, color, size), the summed counts and the latest
    * event time of `parts` — contributions, gold rows, or both. The
    * reference's `last(timestamp_str)` (gold.py:29) depends on row
    * order; here `last` is the group's latest `event_time` formatted
    * as silver formats `timestamp_str`, computed after the aggregate,
    * so the aggregate keeps only fixed-width buffers (a hash
    * aggregate).
    */
  private[medallion] def goldCombine(parts: DataFrame): DataFrame =
    parts
      .groupBy(col("type"), col("color"), col("size"))
      .agg(
        sum(col("count_type")).as("count_type"),
        sum(col("count_color")).as("count_color"),
        sum(col("count_size")).as("count_size"),
        max(col("last_event_time")).as("last_event_time"))
      .select(col("type"), col("color"), col("size"), col("count_type"),
        col("count_color"), col("count_size"),
        date_format(col("last_event_time"), TimestampFormat).as("last"),
        col("last_event_time"))

  /** Pure-batch recomputation of bronze→silver→gold from a raw table —
    * the oracle the medallion specs and the benchmark compare gold
    * against. Dedup here is the deterministic first-by-(offset)
    * variant.
    */
  def batchGold(spark: SparkSession, rawPath: String,
                dayStart: java.sql.Timestamp): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val flat = RawIngest.readRaw(spark, rawPath).select(col("offset"), col("parsedValue.*"))
    val w = Window.partitionBy(col("eventId")).orderBy(col("offset"))
    flat
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
      .withColumn("event_time", timestamp_seconds(col("timestamp")))
      .where(col("event_time") >= lit(dayStart))
      .groupBy(col("type"), col("color"), col("size"))
      .agg(
        count(col("type")).as("count_type"),
        count(col("color")).as("count_color"),
        count(col("size")).as("count_size"),
        max(col("event_time")).as("last_event_time"))
  }
}
