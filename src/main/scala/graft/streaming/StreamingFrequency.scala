package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Windowed heavy hitters over a live token stream — the streaming form
  * of the batch `Frequency.topGrams` sketch (what "which tokens are
  * trending in the last N minutes" monitors run; the reference's window
  * monitors count whole messages, this counts items WITHIN the payload).
  *
  * Tumbling event-time windows with a watermark; inside each window the
  * tokens fold into the same DataSketches `approx_top_k` sketch the
  * batch operator uses — fixed sketch memory per (window) key in the
  * state store, partial (map-side) sketch merge before the stateful
  * exchange, and append-mode emission once the watermark closes the
  * window. State is bounded by windows-in-horizon × sketch size, never
  * by token cardinality — the property that keeps an unbounded stream
  * runnable, exactly as the batch sketch keeps 100 TB runnable.
  */
object StreamingFrequency {

  /** Top-`k` whitespace tokens per `windowDur` tumbling window (emitted
    * at window close): (window_start, window_end, gram, cnt), counts
    * exact while distinct tokens in the window stay under `maxTracked`
    * (the batch operator's exact regime, spec-gated). */
  def windowedTopTokens(docs: DataFrame, textCol: String, tsCol: String,
                        windowDur: String, delay: String, k: Int,
                        maxTracked: Int): DataFrame =
    docs
      .withWatermark(tsCol, delay)
      .select(col(tsCol),
        explode(graft.operators.Words.words(col(textCol))).as("g"))
      .groupBy(window(col(tsCol), windowDur))
      .agg(expr(s"approx_top_k(g, $k, $maxTracked)").as("tk"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), explode(col("tk")).as("e"))
      .select(col("window_start"), col("window_end"),
        col("e.item").as("gram"), col("e.count").as("cnt"))

  /** Distinct-value cardinality per tumbling window via the same HLL
    * sketch as `Frequency.distinctCountsSketch` — "how many distinct
    * users/tokens per window" with 2^lgK registers of state per window
    * regardless of cardinality. (window_start, window_end,
    * n_distinct_est, n_rows), emitted at window close. */
  def windowedDistinct(df: DataFrame, valueCol: String, tsCol: String,
                       windowDur: String, delay: String,
                       lgK: Int = 12): DataFrame =
    df
      .withWatermark(tsCol, delay)
      .groupBy(window(col(tsCol), windowDur))
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("sk"),
        count(lit(1)).as("n_rows"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        hll_sketch_estimate(col("sk")).as("n_distinct_est"), col("n_rows"))
}
