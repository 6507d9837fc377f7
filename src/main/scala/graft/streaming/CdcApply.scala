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
  * applied — upserts and dead-key deletes together, in ONE commit of
  * the target's conditional MERGE, so a replica reader never observes
  * a half-applied slice and a crash before the commit leaves the
  * replica at its old version. Idempotent: re-applying a slice
  * re-upserts identical rows and deletes nothing new, so an
  * at-least-once consumer (foreachBatch retry) is safe.
  *
  * Scale shape: the ranking is one window over the slice (O(changed
  * rows), never table-sized); the merge is the target's own
  * provenance-pruned copy-on-write verb, and no key is collected to
  * the driver.
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

  /** Apply `batch` (rows of [[TxTable.readChangeFeed]]) to `target`
    * in one commit of the conditional MERGE ([[TxTable.mergeBuilder]]).
    * The op marker rides a source-side column and the clauses use
    * explicit SET/VALUES, so it never enters the target schema; under
    * `withSchemaEvolution()` an upstream column the target lacks
    * evolves in. Generated columns recompute on the target; identity
    * values carry through inserts (the replica convention) but, being
    * table-managed, cannot be SET on matched updates — a replica of an
    * identity table relies on upstream identity immutability, which
    * [[TxTable]] holds (appends assign once; merges carry values
    * forward).
    */
  def apply(target: TxTable, batch: DataFrame, keys: Seq[String]): Unit = {
    require(keys.nonEmpty, "CDC application needs at least one key column")
    val src = winners(batch, keys)
      .withColumn("__cdc_dead", col(TxTable.ChangeTypeCol) === "delete")
      .drop(TxTable.ChangeTypeCol, TxTable.CommitVersionCol)
    val dataCols = src.columns.toSeq.filterNot(_ == "__cdc_dead")
    val managed = target.generatedColumns.keySet ++ target.identityColumns.keySet
    val set = dataCols.filterNot(keys.contains).filterNot(managed)
      .map(c => c -> s"s.`$c`").toMap
    val insertValues = dataCols.filterNot(managed -- target.identityColumns.keySet)
      .map(c => c -> s"s.`$c`").toMap
    val b = target.mergeBuilder(src, keys).withSchemaEvolution()
      .whenMatchedDelete("s.__cdc_dead")
      .whenNotMatchedInsert(insertValues, "NOT s.__cdc_dead")
    (if (set.nonEmpty) b.whenMatchedUpdate(set, "NOT s.__cdc_dead") else b).run()
  }
}
