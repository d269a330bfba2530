package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}

import graft.operators.{MinHash, Words}

/** Streaming near-duplicate CANDIDATE detection — the online form of the
  * batch MinHash+LSH pipeline (`MinHash.signatures` → `MinHash.bands` →
  * `bucketPairs`), for an ingest that must flag "this document collides
  * with something already seen" while data is still arriving.
  *
  * Same rule as batch ([[graft.operators.MinHash]]): per document, k md5
  * minhash signatures over its word shingles, cut into bands; two
  * documents sharing any band code are candidates. The streaming twist is
  * state: instead of a corpus-wide bucket-join, each (band, code) key
  * holds the FIRST document that produced it — `flatMapGroupsWithState`
  * with an event-time timeout, so a bucket's state lives exactly one
  * lateness horizon past its last update and the store is bounded by the
  * distinct band codes inside the horizon, never corpus history. A later
  * arrival in the bucket emits a (first_id, new_id, band) candidate row.
  *
  * Only ((band_id, 32-hex md5 code) key → first doc id + timestamp)
  * enters the state store — never text, never signatures (the
  * StreamingDedup discipline). Candidates are exactly the batch
  * `bucketPairs` pairs restricted to "vs the bucket's first occupant" —
  * the O(bucket) candidate fan-out a stream can afford; verification
  * (exact Jaccard / cosine) belongs downstream in `foreachBatch` against
  * a vector store, the same split the batch pipeline makes between
  * bucketPairs and its verify stage.
  */
object StreamingNearDup {

  case class Doc(doc_id: Long, ts: Timestamp, text: String)

  case class Candidate(first_id: Long, new_id: Long, band_id: Int)

  case class Confirmed(first_id: Long, new_id: Long, n_bands: Long, jaccard: Double)

  // public: the state encoder's generated code constructs/reads it
  case class BucketState(firstId: Long, lastMs: Long)

  /** (doc_id, ts, band_id, code): the `Dedup.wordShingles` shingles
    * (n = `shingleN`) of each arriving row, signed with
    * [[graft.operators.MinHash.rowSignature]] and banded with
    * [[graft.operators.MinHash.bands]], as one shuffle-free projection.
    * A document's codes are its batch `Dedup.buildBandIndex` rows, with
    * one difference: the stream bands each arriving row on its own,
    * while the batch merges the shingles of rows that share an id. */
  private[graft] def bandCodes(docs: DataFrame, k: Int, bands: Int,
                               shingleN: Int): DataFrame = {
    val grams = array_distinct(Words.ngrams(col("__ws"), shingleN))
    val sigs = docs
      .select(col("doc_id"), col("ts"), Words.words(col("text")).as("__ws"))
      .filter(size(col("__ws")) >= shingleN)
      .select(col("doc_id"), col("ts"), grams.as("__g"))
      .select(col("doc_id") +: col("ts") +:
        (0 until k).map(i => MinHash.rowSignature(col("__g"), i).as(s"s$i")): _*)
    MinHash.bands(sigs, Seq("doc_id", "ts"), k, bands)
      .select(col("doc_id"), col("ts"), col("band_id"), col("h").as("code"))
  }

  /** Candidate pairs against each band bucket's first occupant, within
    * the watermark horizon. Emits one row per (band, code) collision of
    * a new document with the bucket's first; a document colliding with
    * the same first in several bands emits one row per band (downstream
    * dedups as it verifies — collision multiplicity is signal). */
  def candidates(docs: Dataset[Doc], delay: String,
                 k: Int = 8, bands: Int = 4,
                 shingleN: Int = 3): Dataset[Candidate] = {
    import docs.sparkSession.implicits._
    bandCodes(docs.toDF(), k, bands, shingleN)
      .withWatermark("ts", delay)
      .as[(Long, Timestamp, Int, String)]
      .groupByKey { case (_, _, bandId, code) => (bandId, code) }
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (key: (Int, String), rows: Iterator[(Long, Timestamp, Int, String)],
         state: GroupState[BucketState]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val batch = rows.toSeq.sortBy(r => (r._2.getTime, r._1))
            val out = scala.collection.mutable.ArrayBuffer.empty[Candidate]
            var st = state.getOption
            batch.foreach { case (id, ts, bandId, _) =>
              st match {
                case None =>
                  st = Some(BucketState(id, ts.getTime))
                case Some(s) =>
                  if (id != s.firstId) out += Candidate(s.firstId, id, bandId)
                  st = Some(s.copy(lastMs = math.max(s.lastMs, ts.getTime)))
              }
            }
            st.foreach { s =>
              state.update(s)
              // expire one horizon past the bucket's last activity;
              // clamped forward because Spark rejects past timeouts
              state.setTimeoutTimestamp(
                math.max(s.lastMs + 1L, state.getCurrentWatermarkMs() + 1L))
            }
            out.iterator
          }
        })
  }

  /** Batch-side verification of one micro-batch of [[candidates]]: the
    * downstream half of the candidate/verify split, identical in rule to
    * the batch pipeline's `bucketPairs` → [[graft.operators.Dedup
    * .verifyJaccard]] stage. Band collisions collapse to distinct
    * (first_id, new_id) pairs (multiplicity kept as `n_bands` — an
    * LSH-confidence signal), both ids join back to the `store`
    * (doc_id, text — at scale a keyed document/vector store table;
    * the id frame is broadcast so the store side never shuffles and its
    * scan prunes on the join key), and exact shingle Jaccard ≥
    * `threshold` keeps a pair or kills the false-positive collision.
    *
    * Returns (first_id, new_id, n_bands, jaccard, verified):
    * `verified = true` rows passed exact Jaccard ≥ threshold;
    * `verified = false` rows (null jaccard) could NOT be checked because
    * one or both documents are missing from the store — typically a
    * same-micro-batch pair whose texts are upserted only after the batch
    * (candidates fire in Append mode exactly once, so silently dropping
    * these permanently lost the near-dup; callers must retry them after
    * their store upsert, or dead-letter them). Pairs whose Jaccard fell
    * below threshold are rejected as before — that is a verified
    * false-positive collision, not a lost pair.
    */
  def verifyBatch(cands: DataFrame, store: DataFrame, threshold: Double,
                  shingleN: Int = 3): DataFrame = {
    val pairs = cands
      .groupBy(col("first_id").as("d1"), col("new_id").as("d2"))
      .agg(count(lit(1)).as("n_bands"))
    // a micro-batch's candidate ids are few; broadcast them against the
    // (huge) store so pruning is a map-side hash probe
    val ids = pairs
      .select(explode(array(col("d1"), col("d2"))).as("doc_id"))
      .distinct()
    val texts = store.join(broadcast(ids), "doc_id")
    val present = texts.select(col("doc_id")).distinct()
    val checkable = pairs
      .join(broadcast(present.select(col("doc_id").as("d1"))), Seq("d1"), "left_semi")
      .join(broadcast(present.select(col("doc_id").as("d2"))), Seq("d2"), "left_semi")
    val unverifiable = pairs
      .join(checkable.select(col("d1"), col("d2")), Seq("d1", "d2"), "left_anti")
    val shingles = graft.operators.Dedup.wordShingles(texts, "doc_id", "text", shingleN)
    graft.operators.Dedup
      .verifyJaccard(checkable.select(col("d1"), col("d2")), shingles, threshold)
      .join(pairs, Seq("d1", "d2"))
      .select(col("d1").as("first_id"), col("d2").as("new_id"),
        col("n_bands"), col("jaccard"), lit(true).as("verified"))
      .unionByName(unverifiable.select(
        col("d1").as("first_id"), col("d2").as("new_id"), col("n_bands"),
        lit(null).cast("double").as("jaccard"), lit(false).as("verified")))
  }

  /** The worked end-to-end wiring: [[candidates]] → `foreachBatch` →
    * [[verifyBatch]] against a document store → `onBatch` receives each
    * micro-batch's near-dups: `verified = true` rows are CONFIRMED
    * (false-positive band collisions already rejected by exact Jaccard),
    * `verified = false` rows await their store upsert — re-verify or
    * dead-letter them. Call `.start()` on the returned
    * writer (add `checkpointLocation` for production restarts; `store`
    * is re-read per batch, so a Delta/parquet-backed store reflects
    * upserts between batches).
    */
  def verifiedNearDups(docs: Dataset[Doc], store: DataFrame, delay: String,
                       threshold: Double, k: Int = 8, bands: Int = 4,
                       shingleN: Int = 3)
                      (onBatch: (DataFrame, Long) => Unit): DataStreamWriter[Candidate] =
    candidates(docs, delay, k, bands, shingleN)
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Candidate], batchId: Long) =>
        onBatch(verifyBatch(batch.toDF(), store, threshold, shingleN), batchId)
      }
}
