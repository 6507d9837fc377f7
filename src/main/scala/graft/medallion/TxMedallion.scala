package graft.medallion

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.core.TxTable

/** The medallion chain over [[graft.core.TxTable]] ACID tables — the
  * shape the reference actually runs (every stage reads a Delta table
  * and writes one: the reference's notebooks/medallion/bronze.py:14-27,
  * silver.py:31-38, gold.py:37-42), on our own transaction log
  * instead of a missing jar. The stage transforms are [[Medallion]]'s;
  * this object owns the sinks and their guarantees. Raw is itself a
  * TxTable ([[graft.ingest.RawIngest]]), so one primitive drives
  * bronze and silver: append the transformed increment of the
  * upstream table's commit log since a cursor, with the consumed
  * upstream version riding in the same commit as the txn high-water
  * mark of that cursor ([[advance]]). Stage progress and stage output
  * commit ATOMICALLY — a crash between them cannot double-process or
  * skip, and a run with nothing new upstream commits nothing.
  *
  *   - **bronze**: raw's new commits, flattened, partitioned by
  *     `type` (the reference's bronze.py:25 layout), cursor
  *     `bronze@raw`.
  *   - **silver**: bronze's new commits, deduplicated — within the
  *     increment deterministically (first by timestamp, content hash
  *     as tie-break), across increments by an anti-join against the
  *     already-committed eventIds (the state-store-free batch form) —
  *     cursor `silver@bronze`.
  *   - **gold**: one atomic `overwrite` of the complete-mode
  *     aggregate — readers see the old or the new day-mix, never the
  *     torn directory a plain overwrite exposes mid-write.
  *
  * At 100 TB this is the production template: each stage is a
  * scheduled incremental job, restart-safe at every boundary, and the
  * tables stay compactable ([[TxTable.compact]]) and vacuumable
  * online, with readers snapshot-isolated throughout.
  */
object TxMedallion {

  case class Tables(bronze: TxTable, silver: TxTable, gold: TxTable)

  def tables(spark: SparkSession, base: String): Tables = Tables(
    new TxTable(spark, s"$base/bronze_tx"),
    new TxTable(spark, s"$base/silver_tx"),
    new TxTable(spark, s"$base/gold_tx"))

  /** Writer ids under which bronze and silver record the upstream
    * version they have consumed — progress bookkeeping INSIDE the
    * transaction log.
    */
  private[medallion] val BronzeCursor = "bronze@raw"
  private[medallion] val SilverCursor = "silver@bronze"

  /** The one stage step: read `cursor`'s consumed version from
    * `downstream`'s log, `transform` the rows `upstream` added since
    * then up to its head, and append them under `TxnId(cursor, head)`.
    * Compaction commits upstream add no rows and only move the cursor.
    */
  private def advance(upstream: TxTable, downstream: TxTable, cursor: String,
                      partitionBy: Seq[String] = Nil)(transform: DataFrame => DataFrame): Unit = {
    val from = downstream.state().txns.getOrElse(cursor, -1L)
    val head = upstream.version
    if (head > from)
      downstream.append(transform(upstream.readChanges(from, head)),
        Some(TxTable.TxnId(cursor, head)), partitionBy)
  }

  private def bronze(spark: SparkSession, rawPath: String, t: Tables): Unit =
    advance(new TxTable(spark, rawPath), t.bronze, BronzeCursor, Seq("type"))(
      Medallion.bronzeTransform)

  /** One scheduled run of the chain (the AvailableNow analog of the
    * reference's Trigger.Once DAG): advance bronze over raw's new
    * commits and silver over bronze's, rebuild gold. Safe to re-run at
    * any time; every stage is idempotent. All progress lives in the
    * tables' logs, so `checkpointBase` is unused; it stays in the
    * signature for the callers that share it with [[runStreaming]].
    */
  def run(spark: SparkSession, rawPath: String, t: Tables, checkpointBase: String,
          dayStart: java.sql.Timestamp): Unit = {
    bronze(spark, rawPath, t)
    advance(t.bronze, t.silver, SilverCursor) { fresh =>
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
      Medallion.silverColumns(novel)
    }
    t.gold.overwrite(Medallion.goldAgg(t.silver.read(), dayStart))
  }

  /** The same chain with silver and gold as REAL `readStream` queries
    * over the ACID tables' commit logs
    * ([[graft.streaming.TxTableSource]]) — the reference's
    * Delta-as-streaming-source pattern
    * (/root/reference/notebooks/medallion/bronze.py:14-17) on the
    * native log. Bronze is [[run]]'s cursor step. Differences from
    * [[run]]'s batch-incremental silver: progress lives in the
    * streaming checkpoint (offset = table version) instead of a txn
    * cursor, dedup is the state-store
    * `dropDuplicates` (the silver.py semantics) instead of an
    * anti-join, and exactly-once is the checkpoint + idempotent
    * `appendBatch` pair — redelivery of a batch after a
    * sink-success/checkpoint-fail crash is a no-op. Gold is a
    * complete-mode streaming aggregate whose every emission lands as
    * one atomic `overwrite`. Safe to re-run any time; AvailableNow
    * drains exactly the unconsumed commits.
    *
    * Upgrading over a checkpoint written before gold's `last` became
    * `max_by(timestamp_str, event_time)`: delete
    * `<checkpointBase>/gold_tx_stream` before the first run. The old
    * checkpoint's state has the old aggregate's value schema, so the
    * gold query fails with `STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE`
    * (silver's query is unaffected and commits first). Nothing is
    * lost: gold is a complete-mode aggregate that overwrites the whole
    * table, so the fresh query re-reads silver from version 0 and
    * writes the same gold as [[Medallion.batchGold]].
    */
  def runStreaming(spark: SparkSession, rawPath: String, t: Tables,
                   checkpointBase: String, dayStart: java.sql.Timestamp): Unit = {
    bronze(spark, rawPath, t)
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
