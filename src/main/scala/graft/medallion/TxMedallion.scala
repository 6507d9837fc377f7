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
  *   - **gold**: the complete-mode aggregate, folded: silver's rows
  *     added since the cursor `gold@silver/<dayStart epoch ms>` are
  *     combined with gold's current rows ([[Medallion.goldCombine]])
  *     and land as one atomic `overwrite` that carries the cursor —
  *     readers see the old or the new day-mix, never the torn
  *     directory a plain overwrite exposes mid-write. A range of silver
  *     that is not append-only, a new `dayStart`, or a gold whose last
  *     commit is not this cursor's rebuilds from all of silver instead.
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

  /** gold's cursor over silver for one day window: a run with another
    * `dayStart` finds no cursor and rebuilds instead of mixing windows.
    */
  private[medallion] def goldCursor(dayStart: java.sql.Timestamp): String =
    s"gold@silver/${dayStart.getTime}"

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

  /** gold's step: fold silver's rows added since gold's cursor into
    * gold's current rows, or rebuild from all of silver when gold's
    * rows are not this cursor's fold (no cursor, or gold's last commit
    * did not carry it) or the range is not append-only; commit nothing
    * when silver has no commit past the cursor.
    */
  private def gold(t: Tables, dayStart: java.sql.Timestamp): Unit = {
    val head = t.silver.version
    if (head < 0) return
    val cursor = goldCursor(dayStart)
    val g = t.gold.state()
    val at = g.txns.get(cursor)
    val from = at.filter(_ => t.gold.commitTxns(g.version).contains(cursor))
    if (from.exists(_ >= head)) return
    val parts = from.flatMap(t.silver.readAppends(_, head)) match {
      case Some(fresh) => Medallion.goldContributions(fresh, dayStart)
        .unionByName(t.gold.readAt(g.version).drop("last"))
      case None => Medallion.goldContributions(t.silver.readAt(head), dayStart)
    }
    // a rebuild at a head the cursor already holds (another writer
    // overwrote gold since) commits past the gate, without the cursor
    t.gold.overwrite(Medallion.goldCombine(parts),
      Some(TxTable.TxnId(cursor, head)).filterNot(_ => at.exists(_ >= head)))
  }

  /** One scheduled run of the chain (the AvailableNow analog of the
    * reference's Trigger.Once DAG): advance bronze over raw's new
    * commits and silver over bronze's, fold silver's new rows into
    * gold. Safe to re-run at any time; every stage is idempotent. All
    * progress lives in the tables' logs, so `checkpointBase` is
    * unused; it stays in the signature for the callers that share it
    * with [[runStreaming]].
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
    gold(t, dayStart)
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
    * complete-mode streaming aggregate of [[run]]'s formulation
    * (contributions, then [[Medallion.goldCombine]]) whose every
    * emission lands as one atomic `overwrite`. Safe to re-run any
    * time; AvailableNow drains exactly the unconsumed commits.
    *
    * Upgrading over a checkpoint written before gold's aggregate became
    * sums of non-null flags and a max of `event_time`: delete
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

    val goldQ = Medallion.goldCombine(Medallion.goldContributions(
        spark.readStream.format("graft-txtable")
          .option("path", t.silver.tablePath).load(), dayStart))
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
