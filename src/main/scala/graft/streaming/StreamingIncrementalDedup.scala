package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.core.Commit
import graft.operators.{Checkpoint, Dedup}

/** Corpus-LIFETIME streaming dedup — the live-ingest form of the batch
  * incremental operators ([[graft.operators.Dedup.buildExactIndex]] /
  * `dedupDeltaExact` / `mergeExactIndex`).
  *
  * [[StreamingDedup]] answers "is this a replay within the lateness
  * horizon?" — its state store expires hashes with the watermark, which
  * is the right contract for transport-level replays but the WRONG one
  * for corpus building, where a document ingested last month must still
  * block its copy today. This operator keeps the dedup state where
  * corpus-lifetime state belongs: a persistent (content_md5, kept_id)
  * parquet index on cheap storage, NOT the streaming state store — the
  * state store scales with distinct-hashes-per-horizon, the index with
  * the corpus itself (store it bucketed on the hash at scale so each
  * micro-batch's anti-join co-locates without shuffling the index).
  *
  * State layout (the delta-file discipline — a full-index rewrite per
  * micro-batch would be O(corpus) write amplification per batch, a
  * scale-killer for exactly the corpus-lifetime contract):
  *
  *  - `d_<id>`  — the survivor DELTA of batch `id` (disjoint from all
  *    prior state by construction of the anti-join). The ONLY per-batch
  *    state write: O(delta), independent of index size.
  *  - `c_<id>`  — a COMPACTED base written by batch `id` every
  *    `compactEvery` batches, covering every state row with version
  *    ≤ id. Amortized write cost O(index / compactEvery) per batch.
  *
  * State-as-of-batch-b = newest `c_j` with j < b, plus every `d_i` with
  * j < i < b: [[graft.core.Commit]]'s as-of-batch rule. Replay safety is
  * by construction: batch b always reads versions STRICTLY OLDER than b
  * (never a pointer, which a half-finished first attempt of b itself
  * may have advanced) — a re-run of b reads the identical
  * state-as-of-(b−1), recomputes the identical admissions, and
  * overwrites its own `d_b`/`c_b` in place. The run fence is the same
  * listing: a committed `c_`/`d_` id above b means another run drives
  * the directory, and the batch fails.
  *
  * Every `c_`, `d_` and output `batch_` dir is committed by
  * [[graft.core.Commit]] once its parquet job returns. The streaming
  * path never reads a partial dir on its own (a batch's files are
  * strictly older than it, and Structured Streaming replays the failed
  * batch before advancing); the marker guards a BACKFILL caller driving
  * [[processBatch]] past a crashed batch and any reader racing a
  * replay's overwrite.
  *
  * Vacuum runs one batch LATE: batch b deletes files superseded by the
  * newest base `c_j` with j < b (older bases and deltas ≤ j). Deferring
  * to the NEXT batch keeps every file a replay of the current batch
  * still needs: only once b+1 is running is b committed (Structured
  * Streaming replays at most the last uncommitted batch), so nothing
  * b+1 deletes can ever be read again — and a replayed b+1 just
  * re-deletes idempotently. Bounded storage: ≤ compactEvery deltas +
  * one base + the current batch's writes.
  */
object StreamingIncrementalDedup {

  val IndexSchema: StructType = StructType(Seq(
    StructField("content_md5", StringType),
    StructField("kept_id", LongType)))

  /** The admitted-output contract: the batch's (doc_id, text) plus the
    * survivor's copy count. */
  val AdmittedSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("n_copies", LongType)))

  private def emptyIndex(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], IndexSchema)

  /** (compacted-base ids, delta ids) COMMITTED in `statePath`; foreign
    * names are inert, unmarked (partial) dirs invisible. */
  private def listVersions(spark: SparkSession,
                           statePath: String): (Seq[Long], Seq[Long]) = {
    val dir = new Path(statePath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (Commit.committed(fs, dir, "c"), Commit.committed(fs, dir, "d"))
  }

  /** The index state strictly older than `batchId`: newest compacted
    * base `c_j` (j < batchId) unioned with every delta in (j, batchId).
    * Listing versions instead of reading a pointer is what makes a
    * replayed batch read the same state its first attempt did. Reads
    * O(compactEvery) files, never a superseded history. */
  def indexBefore(spark: SparkSession, statePath: String,
                  batchId: Long): DataFrame =
    readIndex(spark, statePath, listVersions(spark, statePath), batchId)

  /** [[indexBefore]] over an already-taken listing. */
  private def readIndex(spark: SparkSession, statePath: String,
                        versions: (Seq[Long], Seq[Long]),
                        batchId: Long): DataFrame = {
    val (bases, deltas) = versions
    val base = bases.filter(_ < batchId).lastOption
    val floor = base.getOrElse(Long.MinValue)
    val live = deltas.filter(i => i > floor && i < batchId)
    val paths =
      base.map(j => new Path(statePath, s"c_$j").toString).toSeq ++
        live.map(i => new Path(statePath, s"d_$i").toString)
    if (paths.isEmpty) emptyIndex(spark)
    else spark.read.schema(IndexSchema).parquet(paths: _*)
  }

  /** Delete state files superseded by the newest base strictly older
    * than `batchId` (older bases, deltas at or under it) — exactly the
    * versions [[readIndex]] skips, so one listing serves both.
    * Idempotent — a replayed batch re-deletes already-missing files as a
    * no-op. */
  private def vacuum(fs: org.apache.hadoop.fs.FileSystem, dir: Path,
                     versions: (Seq[Long], Seq[Long]), batchId: Long): Unit = {
    val (bases, deltas) = versions
    bases.filter(_ < batchId).lastOption.foreach { j =>
      bases.filter(_ < j).foreach(i => fs.delete(new Path(dir, s"c_$i"), true))
      deltas.filter(_ <= j).foreach(i => fs.delete(new Path(dir, s"d_$i"), true))
    }
  }

  /** The per-batch body, exposed so a spec (or a backfill job) can run
    * and re-run it deterministically: admit against the pre-`batchId`
    * index, write admitted docs + the survivor delta `d_<id>`, compact
    * to `c_<id>` every `compactEvery` batches, vacuum what the previous
    * base superseded. */
  def processBatch(batch: DataFrame, batchId: Long,
                   statePath: String, outPath: String,
                   compactEvery: Int = 10): Unit = {
    val spark = batch.sparkSession
    val stateDir = new Path(statePath)
    val fs = stateDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = listVersions(spark, statePath)
    Commit.fence((versions._1 ++ versions._2).maxOption, batchId, statePath)
    vacuum(fs, stateDir, versions, batchId)
    val index = readIndex(spark, statePath, versions, batchId)
    // the batch feeds the anti-join AND the admitted-doc join back;
    // micro-batches re-read their source on each action otherwise.
    // dropDuplicates: an at-least-once source may deliver the same
    // record twice WITHIN one micro-batch — without the collapse the
    // admit join below fans the surviving doc out once per delivery and
    // the "deduplicated" corpus ships duplicates.
    val pinned = Checkpoint.cut(batch.select(col("doc_id"), col("text"))
      .dropDuplicates("doc_id"))
    // feeds two writes; compute the anti-join once
    val survivors = Checkpoint.cut(Dedup.dedupDeltaExact(pinned, index, "doc_id", "text"))
    val admitted = pinned.join(
      broadcast(survivors.select(col("kept_id").as("doc_id"), col("n_copies"))),
      "doc_id")
    val outDir = new Path(outPath, s"batch_$batchId")
    admitted.write.mode("overwrite").parquet(outDir.toString)
    Commit.mark(outDir.getFileSystem(spark.sparkContext.hadoopConfiguration), outDir)
    val deltaDir = new Path(stateDir, s"d_$batchId")
    survivors.select(col("content_md5"), col("kept_id")).write.mode("overwrite")
      .parquet(deltaDir.toString)
    Commit.mark(fs, deltaDir)
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0) {
      val baseDir = new Path(stateDir, s"c_$batchId")
      Dedup.mergeExactIndex(index, survivors).write.mode("overwrite")
        .parquet(baseDir.toString)
      Commit.mark(fs, baseDir)
    }
  }

  /** Start corpus-lifetime dedup of a streaming (doc_id, text) frame. */
  def ingest(docs: DataFrame, statePath: String, outPath: String,
             checkpoint: String, compactEvery: Int = 10): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, statePath, outPath, compactEvery)
      }
      .start()

  /** All admitted documents so far (the deduplicated corpus): COMMITTED
    * batch outputs only — a torn dir from a crashed attempt or a batch
    * mid-replay-overwrite never serves a truncated corpus — and a typed
    * empty frame before the first batch commits (not an unresolvable
    * glob). */
  def admittedCorpus(spark: SparkSession, outPath: String): DataFrame = {
    val dir = new Path(outPath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committed = Commit.committed(fs, dir, "batch")
      .map(b => new Path(dir, s"batch_$b").toString)
    if (committed.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], AdmittedSchema)
    else spark.read.schema(AdmittedSchema).parquet(committed: _*)
  }
}
