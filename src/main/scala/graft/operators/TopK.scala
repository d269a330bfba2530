package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}

/** The one bounded rank cut of the library: per-group or global top-k.
  *
  * Adds `row_number()` over (`partitionBy`, `orderBy`) as `rankCol` and
  * keeps `rankCol <= k`, with the filter directly on the window and `k` a
  * literal. That shape is what lets Spark bound the cut map-side:
  *
  *  - keyed (`partitionBy` non-empty): a partial `WindowGroupLimit`
  *    below the window's exchange, so every task forwards at most k rows
  *    per key and a hot key never sorts in one task. Spark plans it only
  *    for k up to `spark.sql.optimizer.windowGroupLimitThreshold` (1000
  *    by default); a larger k ranks each key's rows whole in one task;
  *  - global (`partitionBy` empty): a `TakeOrderedAndProject`, each task
  *    keeping its local top-k before the single-partition merge.
  *
  * With the bound, at most k·(map tasks) rows per group ever shuffle,
  * with one exchange and one sort. A rank compared against a column, or
  * a filter separated from the window by another operator, loses the
  * bound — a caller with a per-group quota cuts at its largest value
  * here first and filters the quota on top (Spark merges both filters
  * and still takes the literal bound). PlanSpec pins the bound for each
  * cut shape.
  *
  * `orderBy` must be a total order (end it with a unique id) for the cut
  * to be deterministic. Rows the caller must not rank (null or NaN
  * scores) are the caller's to drop first: a null sorts first ascending
  * and NaN above every double, and not every caller wants them gone. */
object TopK {

  def cut(df: DataFrame, k: Int, partitionBy: Seq[Column], orderBy: Seq[Column],
          rankCol: String): DataFrame = {
    val w = Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)
    df.withColumn(rankCol, row_number().over(w)).filter(col(rankCol) <= k)
  }
}
