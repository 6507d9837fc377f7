package graft.medallion

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.core.TxTable

/** The medallion chain over [[graft.core.TxTable]] ACID tables — the
  * shape the reference actually runs (every sink is Delta:
  * /root/reference/notebooks/medallion/bronze.py:15-27, silver.py:31-38,
  * gold.py:37-42), on our own transaction log instead of a missing
  * jar. The stage transforms are [[Medallion]]'s; this object owns
  * the sinks and their guarantees:
  *
  *   - **bronze**: the raw stream commits via foreachBatch
  *     `appendBatch` — the (writer, batchId) txn action makes a batch
  *     redelivered after a sink-success/checkpoint-fail crash a no-op
  *     (exactly-once without relying on the sink's own file log).
  *   - **silver**: INCREMENTAL batch over bronze's commit log —
  *     `readChanges` scans only versions added since the last run; the
  *     consumed bronze version rides in silver's own commit as its txn
  *     high-water mark, so stage progress and stage output commit
  *     ATOMICALLY (a crash between them cannot double-process or
  *     skip). Cross-increment dedup is an anti-join against the
  *     already-committed eventIds (the state-store-free batch form;
  *     within an increment, deterministic first-by-timestamp/hash).
  *   - **gold**: one atomic `overwrite` of the complete-mode
  *     aggregate — readers see the old or the new day-mix, never the
  *     torn directory a plain overwrite exposes mid-write.
  *
  * At 100 TB this is the production template: each stage is a
  * scheduled incremental job, restart-safe at every boundary, and the
  * bronze/silver tables stay compactable ([[TxTable.compact]]) and
  * vacuumable online, with readers snapshot-isolated throughout.
  */
object TxMedallion {

  case class Tables(bronze: TxTable, silver: TxTable, gold: TxTable)

  def tables(spark: SparkSession, base: String): Tables = Tables(
    new TxTable(spark, s"$base/bronze_tx"),
    new TxTable(spark, s"$base/silver_tx"),
    new TxTable(spark, s"$base/gold_tx"))

  /** Writer id under which silver records the bronze version it has
    * consumed — progress bookkeeping INSIDE the transaction log.
    */
  private[medallion] val SilverCursor = "silver@bronze"

  /** Bronze for both drivers: drain the raw table's unconsumed files
    * into bronze, one exactly-once `appendBatch` per micro-batch, under
    * the one checkpoint `<checkpointBase>/bronze_tx`. The layout is the
    * reference's partitioned bronze (bronze.py:25, partitionBy("type")):
    * value-pure files per type, so downstream type filters prune on
    * manifest stats alone.
    */
  private def drainBronze(spark: SparkSession, rawPath: String, t: Tables,
                          checkpointBase: String, queryName: String): Unit =
    Medallion.bronzeTransform(Medallion.streamFrom(spark, rawPath))
      .writeStream
      .queryName(queryName)
      .foreachBatch((batch: DataFrame, id: Long) =>
        t.bronze.appendBatch(batch, "bronze", id, partitionBy = Seq("type")))
      .option("checkpointLocation", s"$checkpointBase/bronze_tx")
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** One scheduled run of the chain (the AvailableNow analog of the
    * reference's Trigger.Once DAG): drain the raw table into bronze,
    * advance silver over bronze's new commits, rebuild gold. Safe to
    * re-run at any time; every stage is idempotent.
    */
  def run(spark: SparkSession, rawPath: String, t: Tables, checkpointBase: String,
          dayStart: java.sql.Timestamp): Unit = {
    drainBronze(spark, rawPath, t, checkpointBase, "graftTxBronze")

    val from = t.silver.state().txns.getOrElse(SilverCursor, -1L)
    val to = t.bronze.version
    if (to > from) {
      val fresh = t.bronze.readChanges(from, to)
      // deterministic first-per-eventId within the increment: earliest
      // timestamp, content hash as the replay-stable tie-break (the
      // upsertBatch convention — batch/partition order never decides)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("eventId"))
        .orderBy(col("timestamp").asc,
          xxhash64(fresh.columns.map(col).toIndexedSeq: _*).asc)
      val firstPer = fresh
        .withColumn("_rn", row_number().over(w)).where(col("_rn") === 1).drop("_rn")
      // cross-increment dedup: eventIds already in silver win (the
      // first-wins contract of the streaming state-store dedup,
      // silver.py:23, in its batch-incremental form)
      val novel =
        if (t.silver.version < 0) firstPer
        else firstPer.join(t.silver.read().select(col("eventId")), Seq("eventId"), "left_anti")
      t.silver.append(Medallion.silverColumns(novel),
        Some(TxTable.TxnId(SilverCursor, to)))
    }

    t.gold.overwrite(Medallion.goldAgg(t.silver.read(), dayStart))
  }

  /** The same chain with silver and gold as REAL `readStream` queries
    * over the ACID tables' commit logs
    * ([[graft.streaming.TxTableSource]]) — the reference's
    * Delta-as-streaming-source pattern
    * (/root/reference/notebooks/medallion/bronze.py:14-17) on the
    * native log. Differences from [[run]]'s batch-incremental silver:
    * progress lives in the streaming checkpoint (offset = table
    * version) instead of a txn cursor, dedup is the state-store
    * `dropDuplicates` (the silver.py semantics) instead of an
    * anti-join, and exactly-once is the checkpoint + idempotent
    * `appendBatch` pair — redelivery of a batch after a
    * sink-success/checkpoint-fail crash is a no-op. Gold is a
    * complete-mode streaming aggregate whose every emission lands as
    * one atomic `overwrite`. Safe to re-run any time; AvailableNow
    * drains exactly the unconsumed commits.
    */
  def runStreaming(spark: SparkSession, rawPath: String, t: Tables,
                   checkpointBase: String, dayStart: java.sql.Timestamp): Unit = {
    drainBronze(spark, rawPath, t, checkpointBase, "graftTxBronzeStream")
    if (t.bronze.version < 0) return // nothing ingested yet: no schema to stream

    val silverQ = Medallion.silverColumns(
        spark.readStream.format("graft-txtable")
          .option("path", t.bronze.tablePath).load()
          .dropDuplicates("eventId"))
      .writeStream
      .queryName("graftTxSilverStream")
      .foreachBatch((batch: DataFrame, id: Long) =>
        t.silver.appendBatch(batch, "silver-stream", id))
      .option("checkpointLocation", s"$checkpointBase/silver_tx_stream")
      .trigger(Trigger.AvailableNow())
      .start()
    silverQ.awaitTermination()
    if (t.silver.version < 0) return

    val goldQ = Medallion.goldAgg(
        spark.readStream.format("graft-txtable")
          .option("path", t.silver.tablePath).load(), dayStart)
      .writeStream
      .queryName("graftTxGoldStream")
      .outputMode("complete")
      .foreachBatch((batch: DataFrame, _: Long) => t.gold.overwrite(batch))
      .option("checkpointLocation", s"$checkpointBase/gold_tx_stream")
      .trigger(Trigger.AvailableNow())
      .start()
    goldQ.awaitTermination()
  }
}
