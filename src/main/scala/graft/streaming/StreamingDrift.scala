package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Similarity, Vectors}

/** Streaming embedding-distribution drift monitor — the online form of
  * the batch `Similarity.embeddingDrift` corpus comparison (reference
  * analog: the batch monitor windows that alert on count anomalies; this
  * alerts on DISTRIBUTION anomalies in an embedding ingest — an upstream
  * encoder silently swapped, a feed gone corrupt, a new unvetted source
  * appearing).
  *
  * A reference PROFILE — per-stratum centroid + count from
  * [[Similarity.strataCentroids]], |strata|·dim rows computed once from
  * a vetted corpus and stored — is all the monitor ever reads: each
  * micro-batch aggregates ITSELF to the same per-stratum shape (state
  * bounded by the batch, no corpus rescans, no growing stream state) and
  * full-outer-joins the tiny profile. A stratum alerts when its batch
  * centroid's cosine to the reference centroid drops below the floor, or
  * when the stratum is absent from the profile entirely (an unvetted
  * source). Strata the batch doesn't touch stay silent — a micro-batch
  * legitimately sees a subset.
  */
object StreamingDrift {

  /** Batch kernel (also usable standalone): per-stratum drift of `batch`
    * vs a stored `profile` (strataCol, c, n). Returns one row per
    * stratum present in EITHER side: (strataCol, n_ref, n_batch,
    * drift_cos) — n_ref = 0 marks a stratum the profile has never seen,
    * n_batch = 0 a profile stratum this batch didn't touch, null
    * drift_cos whenever a side is missing. */
  def driftVsProfile(profile: DataFrame, batch: DataFrame, strataCol: String,
                     roundTo: Int = 6): DataFrame =
    // null-SAFE key (<=>): a null stratum (unlabeled rows) must pair
    // across the profile and the batch — a USING join never matches
    // null keys, so the null stratum split into two half-rows, each
    // with a null drift_cos, and the alert cut misread the slice as
    // "unknown to the profile" + "untouched this batch" instead of
    // comparing its centroids (same hazard as embeddingDrift's).
    profile.select(col(strataCol).as("__sr"), col("c").as("__cr"),
        col("n").as("n_ref"))
      .join(Similarity.strataCentroids(batch, strataCol, roundTo = roundTo)
          .select(col(strataCol).as("__sb"), col("c").as("__cb"),
            col("n").as("n_batch")),
        col("__sr") <=> col("__sb"), "full_outer")
      .select(coalesce(col("__sr"), col("__sb")).as(strataCol),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_batch"), lit(0L)).as("n_batch"),
        Vectors.cosine(col("__cr"), col("__cb"), roundTo).as("drift_cos"))

  /** The alert cut over a [[driftVsProfile]] frame: batch-present strata
    * that are unknown to the profile (n_ref = 0), whose centroid drifted
    * below `cosFloor`, or — critically — whose comparison is UNDEFINED
    * while both sides are present: a null drift_cos there means the
    * batch centroid's length disagrees with the reference (an encoder
    * silently swapped to a different embedding dim — the monitor's
    * flagship scenario) and NaN means a zero-norm centroid (a feed gone
    * all-zeros). Both would evaluate `drift_cos < cosFloor` to
    * null/false and slip through a naive floor check. */
  def alerts(drift: DataFrame, cosFloor: Double): DataFrame =
    drift.filter(col("n_batch") > 0 &&
      (col("n_ref") === 0L || col("drift_cos") < cosFloor ||
        col("drift_cos").isNull || isnan(col("drift_cos"))))

  /** Start the monitor: per micro-batch, `stream` (strataCol, v)
    * aggregates to its per-stratum profile, compares against the stored
    * reference, and APPENDS alert rows (batch_id, strataCol, n_ref,
    * n_batch, drift_cos) to `outPath` — append-only, so replays of a
    * failed batch overwrite idempotently per batch_id partition. The
    * profile frame is |strata|-sized and re-evaluated per batch from its
    * (parquet) source, so a profile refresh lands without restarting the
    * query. */
  def monitor(stream: DataFrame, profile: () => DataFrame, strataCol: String,
              cosFloor: Double, outPath: String,
              checkpoint: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val hits = alerts(driftVsProfile(profile(), batch, strataCol), cosFloor)
          .withColumn("batch_id", lit(batchId))
        // replay-idempotent: a re-run batch rewrites ITS partition only
        hits.write.mode("overwrite")
          .parquet(s"$outPath/batch_id=$batchId")
        ()
      }
      .start()
}
