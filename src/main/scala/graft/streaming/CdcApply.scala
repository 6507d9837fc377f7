package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.TxTable

/** CHANGE-FEED REPLICATION — the consumer half of the CDC contract
  * ([[graft.core.TxTable.readChangeFeed]]): apply a feed slice to a
  * downstream table so it converges to the upstream state, surviving
  * upstream merges/deletes/updates that would hard-fail a plain
  * file-level incremental consumer. The canonical uses: maintain a
  * replica, or feed an incremental transformation that must see
  * row-level changes (aggregate maintenance, cache invalidation).
  *
  * Application is NET-EFFECT per key, not action replay: within the
  * slice each key's actions are ranked by `_commit_version` (then
  * change type — a post-image or insert outranks the delete or
  * pre-image of the SAME commit, which is how an in-commit
  * delete+insert pair nets to the insert), and only the winner is
  * applied — one merge for the surviving rows, one keyed delete for
  * the dead keys. Idempotent: re-applying a slice is a no-op merge
  * plus a no-match delete, so an at-least-once consumer (foreachBatch
  * retry) is safe.
  *
  * Scale shape: the ranking is one window over the slice (O(changed
  * rows), never table-sized); the merge and delete are the target's
  * own stat-pruned copy-on-write verbs.
  */
object CdcApply {

  private val TypeRank = Map(
    "insert" -> 3, "update_postimage" -> 3, "delete" -> 1, "update_preimage" -> 0)

  /** Each key's winning action in the slice (see the ranking above);
    * pre-images never win, so they are dropped up front.
    */
  private def winners(batch: DataFrame, keys: Seq[String]): DataFrame = {
    val rank = TypeRank.foldLeft(lit(-1)) { case (acc, (t, r)) =>
      when(col(TxTable.ChangeTypeCol) === t, lit(r)).otherwise(acc)
    }
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(TxTable.CommitVersionCol).desc, rank.desc)
    batch
      .where(col(TxTable.ChangeTypeCol) =!= "update_preimage")
      .withColumn("__rk", row_number().over(w))
      .where(col("__rk") === 1)
      .drop("__rk")
  }

  /** The slice's net effect: (surviving rows to upsert, dead keys). */
  private[graft] def net(batch: DataFrame, keys: Seq[String])
      : (DataFrame, DataFrame) = {
    val won = winners(batch, keys)
    val live = won.where(col(TxTable.ChangeTypeCol) =!= "delete")
      .drop(TxTable.ChangeTypeCol, TxTable.CommitVersionCol)
    val dead = won.where(col(TxTable.ChangeTypeCol) === "delete")
      .select(keys.map(col): _*).distinct()
    (live, dead)
  }

  /** Driver-collect bound for the dead-key delete: at or below it the
    * keys become a stat-prunable predicate; above it the delete runs
    * distributed via [[TxTable.deleteKeys]] (a slice deleting millions
    * of keys must never OOM the driver or build an unplannable
    * OR-chain).
    */
  val MaxDeleteKeysCollectKey = "spark.graft.cdc.maxDeleteKeysCollect"
  val MaxDeleteKeysCollectDefault: Int = 10000

  /** Apply `batch` (rows of [[TxTable.readChangeFeed]]) to `target`.
    * Single-column keys delete via a stat-prunable IN predicate;
    * multi-column keys conjoin per dead key (bounded by the collect
    * gate — larger dead sets route through the distributed
    * [[TxTable.deleteKeys]]).
    */
  def apply(target: TxTable, batch: DataFrame, keys: Seq[String]): Unit = {
    require(keys.nonEmpty, "CDC application needs at least one key column")
    val (live, dead) = net(batch, keys)
    val bound = batch.sparkSession.conf
      .get(MaxDeleteKeysCollectKey, MaxDeleteKeysCollectDefault.toString).toInt
    // one evaluation decides AND delivers: <= bound rows back IS the
    // complete dead-key set (the DedupClusters hybrid convention)
    val deadRows = dead.limit(bound + 1).collect()
    if (deadRows.length > bound) {
      target.deleteKeys(dead, keys)
    } else if (deadRows.nonEmpty) {
      // null-safe matching throughout: a NULL key component under
      // isin/=== compares to NULL, so the delete would never fire and
      // the replica would diverge (merge uses <=> for the same reason).
      // Single-column keys keep the stat-prunable IN over the non-null
      // values, OR-ing an isNull arm only when a null dead key exists.
      val pred = keys match {
        case Seq(k) =>
          val (nulls, vals) = deadRows.map(_.get(0)).partition(_ == null)
          (Option.when(vals.nonEmpty)(col(k).isin(vals: _*)) ++
            Option.when(nulls.nonEmpty)(col(k).isNull)).reduce(_ || _)
        case ks => deadRows.map(r =>
            ks.zipWithIndex.map { case (k, i) => col(k) <=> lit(r.get(i)) }
              .reduce(_ && _))
          .reduce(_ || _)
      }
      target.delete(pred)
    }
    if (!live.isEmpty) target.merge(live, keys)
  }

  /** [[apply]] in ONE commit: upserts and dead-key deletes land
    * atomically via the conditional MERGE
    * ([[TxTable.mergeBuilder]]), so a replica reader never observes
    * the torn middle state (deletes applied, upserts not) the
    * two-verb path exposes between its commits. The op marker rides a
    * source-side column and the clauses use explicit SET/VALUES, so
    * it never enters the target schema.
    *
    * Contract difference vs [[apply]]: explicit SET/VALUES write the
    * CURRENT common schema — an upstream column the target does not
    * have yet is rejected loudly (pre-evolve the target, or use
    * [[apply]], whose INSERT-star merge path evolves). Generated columns
    * recompute on the target; identity values carry through inserts
    * (the replica convention) but, being table-managed, cannot be
    * SET on matched updates — a replica of an identity table relies
    * on upstream identity immutability, which [[TxTable]] holds
    * (appends assign once; merges carry values forward).
    */
  def applyAtomic(target: TxTable, batch: DataFrame, keys: Seq[String]): Unit = {
    require(keys.nonEmpty, "CDC application needs at least one key column")
    val src = winners(batch, keys)
      .withColumn("__cdc_dead", col(TxTable.ChangeTypeCol) === "delete")
      .drop(TxTable.ChangeTypeCol, TxTable.CommitVersionCol)
    if (src.isEmpty) return
    val dataCols = src.columns.toSeq.filterNot(_ == "__cdc_dead")
    val managed = target.generatedColumns.keySet ++ target.identityColumns.keySet
    val set = dataCols.filterNot(keys.contains).filterNot(managed)
      .map(c => c -> s"s.`$c`").toMap
    val insertValues = dataCols.filterNot(managed -- target.identityColumns.keySet)
      .map(c => c -> s"s.`$c`").toMap
    val b = target.mergeBuilder(src, keys)
      .whenMatchedDelete("s.__cdc_dead")
      .whenNotMatchedInsert(insertValues, "NOT s.__cdc_dead")
    (if (set.nonEmpty) b.whenMatchedUpdate(set, "NOT s.__cdc_dead") else b).run()
  }
}
