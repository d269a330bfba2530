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
  * transactional table), committed by [[graft.core.Commit]]: each
  * micro-batch merges into a STAGING directory, renames it into
  * `v_<batchId>` (a metadata-only swap — the merge's lazy read of the
  * previous snapshot is NEVER overwritten by its own write, which would
  * otherwise delete the live data mid-job on any plan that reads after
  * the overwrite starts), marks it committed once the rename returns,
  * and then flips the one-line `_latest` pointer. Readers resolve the
  * pointer and VALIDATE it (target committed); an invalid or mid-swap
  * pointer falls back to the newest committed version on disk, while a
  * never-published state dir (backfills with `flipPointer = false`)
  * stays EMPTY to readers — so every crash window leaves readers a
  * complete snapshot:
  *  - die during the staging write → orphan staging dir, old state
  *    intact; the replay deletes it and rewrites.
  *  - die between the `v_b` delete and the staging rename (a replay
  *    rewriting its own committed version) → the pointer names a
  *    missing dir, readers fall back to the retained previous version,
  *    and the replay's next attempt recomputes from that same fallback
  *    — which is exactly the snapshot the dead attempt read, because
  *    applying a batch is idempotent over its own result (spec-pinned).
  *  - die between the pointer delete and its rename → readers take the
  *    version the temp pointer names, the one the flip was about to
  *    publish.
  * Together with the merge's replay idempotence this is exactly-once
  * table state over an at-least-once stream.
  *
  * At 100 TB the full-rewrite merge becomes a partition-wise rewrite
  * (bucket the snapshot on the key with [[graft.operators.Bucketing]]
  * and rewrite only buckets holding changed keys) or a real table
  * format's MERGE; the stream-side shape — latest-change cut, one
  * full-outer apply per batch — is unchanged.
  */
object StreamingCdc {

  private val VersionName = "^v_(\\d+)$".r

  /** Read the current materialized snapshot (empty with `schema` before
    * the first batch PUBLISHES). Resolution order:
    *  - a pointer naming a committed version wins;
    *  - a pointer that exists but is garbage or names a
    *    missing/uncommitted version (the dangling-pointer crash window,
    *    or a replay rebuilding its own version) falls back to the
    *    newest committed version on disk;
    *  - a MISSING pointer with a `_latest.tmp` present is the mid-swap
    *    instant, and the temp pointer resolves as the pointer would;
    *  - no pointer and no temp means nothing was ever published (e.g.
    *    only `flipPointer = false` backfill versions exist) → the EMPTY
    *    frame. The fallback must not leak deliberately unpublished
    *    snapshots.
    *
    * The snapshot is always read with the caller's `schema`, exactly as
    * the empty case is built: Parquet columns resolve by name, and no
    * schema-inference job runs on every `processBatch`. */
  def currentState(spark: SparkSession, statePath: String,
                   schema: StructType): DataFrame = {
    val dir = new Path(statePath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val resolved: Option[String] = Commit.readPointer(fs, dir, "_latest") match {
      case Some(v @ VersionName(_)) if Commit.isCommitted(fs, new Path(dir, v)) => Some(v)
      case Some(_) => // garbage or dangling target: newest committed
        Commit.committed(fs, dir, "v").lastOption.map(v => s"v_$v")
      case None => None // never published: the publish gate holds
    }
    resolved.map(v => spark.read.schema(schema).parquet(new Path(dir, v).toString))
      .getOrElse(empty)
  }

  /** The per-batch body, exposed so a spec (or a backfill job) can run
    * and re-run it deterministically. Unlike
    * [[StreamingIncrementalDedup]] — whose state read must be pinned to
    * versions strictly older than the batch because re-admitting against
    * its own output would CHANGE the admissions — the CDC merge reads
    * the current snapshot (possibly its own committed `v_b` on a
    * post-commit replay) and that is safe because applying a batch is
    * IDEMPOTENT over its own result: every upsert rewrites its identical
    * winning row, every delete re-deletes an absent key (spec-pinned,
    * batches randomized). The staging-then-rename write discipline in
    * the class doc makes every crash window recoverable. */
  def processBatch(batch: DataFrame, batchId: Long, statePath: String,
                   keyCol: String, seqCols: Seq[String], opCol: String,
                   payloadCols: Seq[String], retainVersions: Int = 2,
                   flipPointer: Boolean = true): Unit = {
    require(retainVersions >= 2,
      "retainVersions < 2 would vacuum the snapshot a pre-flip reader holds")
    val spark = batch.sparkSession
    val stateSchema = StructType(batch.schema.fields
      .filter(f => f.name == keyCol || payloadCols.contains(f.name)))
    val snapshot = currentState(spark, statePath, stateSchema)
    val merged = CdcMerge.applyCdc(snapshot, batch, keyCol, seqCols,
      opCol, payloadCols)
    val dir = new Path(statePath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val version = s"v_$batchId"
    val staging = new Path(dir, s"_staging_$version")
    // stage the merge: the job's lazy read of the previous snapshot —
    // which on a replay may be v_<batchId> ITSELF — must never race its
    // own overwrite (observed failure mode of in-place overwrite: the
    // write deletes the directory before the read plan scans it,
    // killing the job AND the live snapshot); overwrite mode clears any
    // orphan staging dir from a dead attempt
    merged.write.mode("overwrite").parquet(staging.toString)
    fs.delete(new Path(dir, version), true)
    if (!fs.rename(staging, new Path(dir, version)))
      throw new java.io.IOException(s"rename $staging -> $version failed")
    // commit marker AFTER the rename returned: a crash mid-rename (an
    // object store copies object by object) leaves the version
    // invisible to readers and vacuum, and the replay rebuilds it
    Commit.mark(fs, new Path(dir, version))
    if (flipPointer) {
      Commit.writePointer(fs, dir, "_latest", version)
      // vacuum superseded versions and uncommitted debris, then orphan
      // staging dirs of other batches
      Commit.vacuum(fs, dir, "v", retainVersions, batchId)
      fs.listStatus(dir).map(_.getPath).filter(_.getName.startsWith("_staging_"))
        .foreach(fs.delete(_, true))
    }
    ()
  }

  /** Start materializing `changes` (a streaming frame carrying `keyCol`,
    * `seqCols`, `opCol`, `payloadCols`) into `statePath`.
    *
    * `retainVersions` bounds storage: after each pointer flip, all but
    * the newest N snapshot versions vacuum. Without a bound, superseded
    * `v_*` directories accumulate forever — O(snapshot) dead bytes per
    * batch. N ≥ 2 (enforced here AND in [[processBatch]] — a backfill
    * caller passing 0 would vacuum every version including the one just
    * committed) keeps the previous snapshot as a grace window for
    * readers that resolved `_latest` just before the flip; replay
    * safety is [[processBatch]]'s idempotence argument, spec-pinned
    * through the crash windows. */
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
