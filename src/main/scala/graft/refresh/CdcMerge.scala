package graft.refresh

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.TopK

/** CDC snapshot merge — materialize the current table state from a
  * snapshot plus a batch of change messages.
  *
  * This is the consuming half of the reference's CDC contract: the
  * pipeline ships row-level upserts and deletes per primary key
  * (message envelopes carry the payload; the refresh flow bootstraps a
  * snapshot and then applies the stream —
  * `data_pipeline/message.py` update/delete message types,
  * `tools/copy_table_to_blackhole_table.py` full-refresh batches), and
  * every consumer that maintains a queryable table runs exactly this
  * merge.
  *
  * Semantics: within the change batch the LATEST change per key wins
  * (strict total order via `seqCols` — ties must be broken by a unique
  * column, e.g. the log offset). An upsert replaces the payload (or
  * inserts the row if the key is absent from the snapshot); a delete
  * removes the row; keys untouched by the batch pass through.
  *
  * Scale shape: the latest-per-key cut is a rank-1
  * [[graft.operators.TopK.cut]] (each task forwards only its best
  * candidate per key, so a hot key's update storm never lands in one
  * task), then ONE full-outer join keyed on the primary key. The
  * snapshot side never shuffles twice; persisted as a
  * [[graft.operators.Bucketing]] table on the key it never shuffles at
  * all.
  */
object CdcMerge {

  /** The rank-1 cut: latest change per key by `seqCols` descending. */
  def latestChanges(changes: DataFrame, keyCol: String,
                    seqCols: Seq[String]): DataFrame = {
    TopK.cut(changes, 1, Seq(col(keyCol)), seqCols.map(c => col(c).desc), "__rn")
      .drop("__rn")
  }

  /** Apply a change batch to a snapshot. `changes` carries `keyCol`,
    * `seqCols`, `opCol` ('u' = upsert, 'd' = delete) and the
    * `payloadCols` (same names as in `snapshot`); the result has the
    * snapshot's (key + payload) schema. */
  def applyCdc(snapshot: DataFrame, changes: DataFrame, keyCol: String,
               seqCols: Seq[String], opCol: String,
               payloadCols: Seq[String]): DataFrame = {
    val latest = latestChanges(changes, keyCol, seqCols)
      .select(col(keyCol).as("__ck") +: col(opCol).as("__op") +:
        payloadCols.map(c => col(c).as(s"__c_$c")): _*)
    val applied: Seq[Column] =
      coalesce(col(keyCol), col("__ck")).as(keyCol) +:
        payloadCols.map(c =>
          when(col("__op") === "u", col(s"__c_$c")).otherwise(col(c)).as(c))
    snapshot
      .join(latest, col(keyCol) === col("__ck"), "full_outer")
      .filter(col("__op").isNull || col("__op") =!= "d")
      .select(applied: _*)
  }
}
