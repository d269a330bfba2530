package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.core.Commit
import graft.refresh.CdcMerge

/** Continuous table materialization from a CDC stream — the streaming
  * form of [[graft.refresh.CdcMerge]]: what the reference's consumers do
  * with update/delete messages to keep a queryable copy of an upstream
  * table (`data_pipeline/consumer.py` delivers per-key upserts/deletes;
  * the refresh flow seeds the snapshot), expressed as `foreachBatch`
  * over Structured Streaming.
  *
  * State layout is versioned-snapshot-plus-pointer (the minimal
  * transactional table), committed by [[graft.core.Commit]] under its
  * as-of-batch rule: batch b merges onto the newest committed `v_j` with
  * j < b (an empty table if there is none), overwrites `v_<b>` in place,
  * marks it committed, then flips the one-line `_latest` pointer and
  * vacuums. A batch never reads its own version, so a replay reads
  * exactly the snapshot its first attempt read and rewrites the same
  * `v_<b>`. A seed or backfill counts as a batch: the stream's ids must
  * come after its ids (seed `v_0`, then feed stream batch i as i + 1),
  * or a stream batch reusing the seed's id rewrites the seed away.
  *
  * Readers resolve the pointer and VALIDATE it (target committed); an
  * invalid pointer falls back to the newest committed version on disk,
  * while a never-published state dir (backfills with
  * `flipPointer = false`) stays EMPTY to readers — so every crash window
  * leaves readers a complete snapshot:
  *  - die while `v_b` is written → it is uncommitted, readers and the
  *    replay skip it, and the replay overwrites it;
  *  - die while a replay overwrites a published `v_b` → the pointer
  *    names an uncommitted dir and readers fall back to the retained
  *    previous version until the replay commits;
  *  - die between the pointer delete and its rename → readers take the
  *    version the temp pointer names, the one the flip was about to
  *    publish.
  *
  * At 100 TB the full-rewrite merge becomes a partition-wise rewrite
  * (bucket the snapshot on the key with [[graft.operators.Bucketing]]
  * and rewrite only buckets holding changed keys) or a real table
  * format's MERGE; the stream-side shape — latest-change cut, one
  * full-outer apply per batch — is unchanged.
  */
object StreamingCdc {

  private val VersionName = "^v_(\\d+)$".r

  /** Version `v` of the snapshot under `dir`, or the empty frame when
    * there is none; always read with the caller's `schema`, so Parquet
    * columns resolve by name and no schema-inference job runs. */
  private def read(spark: SparkSession, dir: Path, v: Option[Long],
                   schema: StructType): DataFrame =
    v.map(n => spark.read.schema(schema).parquet(new Path(dir, s"v_$n").toString))
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))

  /** Read the current materialized snapshot for a consumer (empty with
    * `schema` before the first batch PUBLISHES). Resolution order:
    *  - a pointer naming a committed version wins;
    *  - a pointer that exists but is garbage or names a
    *    missing/uncommitted version (a replay rewriting its own
    *    version) falls back to the newest committed version on disk;
    *  - a MISSING pointer with a `_latest.tmp` present is the mid-swap
    *    instant, and the temp pointer resolves as the pointer would;
    *  - no pointer and no temp means nothing was ever published (e.g.
    *    only `flipPointer = false` backfill versions exist) → the EMPTY
    *    frame. The fallback must not leak deliberately unpublished
    *    snapshots. */
  def currentState(spark: SparkSession, statePath: String,
                   schema: StructType): DataFrame = {
    val dir = new Path(statePath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val resolved = Commit.readPointer(fs, dir, "_latest") match {
      case Some(v @ VersionName(n)) if Commit.isCommitted(fs, new Path(dir, v)) => Some(n.toLong)
      case Some(_) => Commit.committed(fs, dir, "v").lastOption // garbage or dangling
      case None => None // never published: the publish gate holds
    }
    read(spark, dir, resolved, schema)
  }

  /** The per-batch body, exposed so a spec (or a backfill job) can run
    * and re-run it deterministically: merge onto the newest committed
    * version older than `batchId`, write and commit `v_<batchId>`, and
    * (with `flipPointer`) publish it and vacuum. Fails when a committed
    * version newer than `batchId` exists — a reset checkpoint restarting
    * ids at 0 would otherwise merge old changes under the newest
    * snapshot. */
  def processBatch(batch: DataFrame, batchId: Long, statePath: String,
                   keyCol: String, seqCols: Seq[String], opCol: String,
                   payloadCols: Seq[String], retainVersions: Int = 2,
                   flipPointer: Boolean = true): Unit = {
    require(retainVersions >= 2,
      "retainVersions < 2 would vacuum the snapshot a pre-flip reader holds")
    val spark = batch.sparkSession
    val dir = new Path(statePath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committed = Commit.committed(fs, dir, "v")
    Commit.fence(committed.lastOption, batchId, statePath)
    val stateSchema = StructType(batch.schema.fields
      .filter(f => f.name == keyCol || payloadCols.contains(f.name)))
    val snapshot = read(spark, dir, committed.filter(_ < batchId).lastOption, stateSchema)
    val version = new Path(dir, s"v_$batchId")
    CdcMerge.applyCdc(snapshot, batch, keyCol, seqCols, opCol, payloadCols)
      .write.mode("overwrite").parquet(version.toString)
    Commit.mark(fs, version)
    if (flipPointer) {
      Commit.writePointer(fs, dir, "_latest", version.getName)
      Commit.vacuum(fs, dir, "v", retainVersions, batchId)
    }
  }

  /** Start materializing `changes` (a streaming frame carrying `keyCol`,
    * `seqCols`, `opCol`, `payloadCols`) into `statePath`.
    *
    * `retainVersions` bounds storage: after each pointer flip, all but
    * the newest N snapshot versions vacuum. Without a bound, superseded
    * `v_*` directories accumulate forever — O(snapshot) dead bytes per
    * batch. N ≥ 2 (enforced here AND in [[processBatch]] — a backfill
    * caller passing 0 would vacuum every version including the one just
    * committed) keeps the previous snapshot, which is both the grace
    * window for readers that resolved `_latest` just before the flip and
    * the input a replay of the newest batch reads. */
  def materialize(changes: DataFrame, statePath: String, checkpoint: String,
                  keyCol: String, seqCols: Seq[String], opCol: String,
                  payloadCols: Seq[String],
                  retainVersions: Int = 2): StreamingQuery = {
    require(retainVersions >= 2,
      "retainVersions < 2 would vacuum the snapshot a pre-flip reader holds")
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, statePath, keyCol, seqCols, opCol,
          payloadCols, retainVersions)
      }
      .start()
  }
}
