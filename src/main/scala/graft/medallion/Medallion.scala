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

  /** silver's column normalization: the reference's string timestamp
    * kept byte-for-byte (silver.py:24-27, chronologically unsound —
    * hazard §7.5.1) plus the sound TimestampType `event_time`.
    */
  private[medallion] def silverColumns(df: DataFrame): DataFrame =
    df.withColumn("timestamp_str", from_unixtime(col("timestamp"), "dd-MM-yyyy H:mm:ss"))
      .withColumn("event_time", timestamp_seconds(col("timestamp")))

  /** gold: the day-filtered product-mix aggregate (gold.py:14-42).
    * The reference's `last(timestamp_str)` (gold.py:29) depends on row
    * order; here `last` is the `timestamp_str` of the group's latest
    * `event_time`. Both derive from `timestamp`, so tied maxima carry
    * the same string and `last` always equals `last_event_time`
    * formatted `dd-MM-yyyy H:mm:ss`.
    */
  private[medallion] def goldAgg(silver: DataFrame,
                                 dayStart: java.sql.Timestamp): DataFrame =
    silver
      .where(col("event_time") >= lit(dayStart)) // P6, on a sound timestamp type
      .groupBy(col("type"), col("color"), col("size"))
      .agg(
        count(col("type")).as("count_type"),
        count(col("color")).as("count_color"),
        count(col("size")).as("count_size"),
        max_by(col("timestamp_str"), col("event_time")).as("last"),
        max(col("event_time")).as("last_event_time"))

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
