package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-frequency heavy hitters — "what are the most frequent
  * tokens / n-grams?", the vocabulary-building and boilerplate-mining
  * primitive a curation pipeline runs constantly.
  *
  * Delegates to Spark 4's builtin `approx_top_k` (a DataSketches
  * frequent-items sketch): each task folds its rows into a
  * fixed-capacity sketch (map-side partial aggregation — the corpus
  * never shuffles, only sketch blobs do, one per partition), and merged
  * sketches bound every reported count within n/capacity of truth. That
  * replaces the exact formulation's full (gram → count) shuffle — at
  * 100 TB the distinct-gram set is billions of rows, the sketch is a
  * fixed few MB regardless — the same compose-don't-rebuild call as
  * `approx_percentile` in `lengthQuantilesApprox`.
  *
  * In the EXACT regime (distinct items ≤ sketch capacity — the oracle
  * fixture: 16.5 k distinct trigrams under a 65 536 cap) the sketch
  * never purges, every count is exact, and a count-threshold cut is
  * deterministic — the t_top_tokens oracle gates that path against
  * DuckDB's exact GROUP BY. Beyond capacity the ε = n/capacity bound
  * applies (spec-gated: a planted hitter must survive a tiny-capacity
  * purge with its count within ε·n).
  */
object Frequency {

  /** Word n-grams with exact-regime count ≥ `minCount`, most frequent
    * first (ties on the gram text). `k` bounds the sketch report size —
    * pick it above the expected qualifier count; `maxTracked` is the
    * sketch capacity. n = 1 counts the words themselves. */
  def topGrams(docs: DataFrame, textCol: String, n: Int, k: Int,
               maxTracked: Int, minCount: Long): DataFrame = {
    val grams = ngrams(docs, textCol, n)
    grams
      .agg(expr(s"approx_top_k(g, $k, $maxTracked)").as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item").as("gram"), col("e.count").as("cnt"))
      .filter(col("cnt") >= minCount)
      .orderBy(col("cnt").desc, col("gram").asc)
  }

  /** Per-group distinct cardinality, exact: count_distinct shuffles the
    * (group, value) distinct pairs once — fine while the distinct set is
    * shuffle-sized, and the oracle-gated regime. At 100 TB prefer
    * [[distinctCountsSketch]]. */
  def distinctCounts(df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    df.groupBy(col(groupCol))
      .agg(count_distinct(col(valueCol)).as("n_distinct"),
        count(lit(1)).as("n_rows"))

  /** Per-group distinct cardinality via DataSketches HLL
    * (`hll_sketch_agg`): each task folds its rows into a 2^lgK-register
    * sketch — map-side partial aggregation, so only fixed-size sketch
    * blobs cross the exchange regardless of the distinct count (the
    * exact form shuffles every distinct pair; at corpus scale that is
    * billions of rows, the sketch is KBs). Relative error ≈
    * 1.04/√2^lgK (~1.6% at the default lgK=12), spec-bounded against
    * the exact counts. */
  def distinctCountsSketch(df: DataFrame, groupCol: String, valueCol: String,
                           lgK: Int = 12): DataFrame =
    df.groupBy(col(groupCol))
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("sk"),
        count(lit(1)).as("n_rows"))
      .select(col(groupCol), hll_sketch_estimate(col("sk")).as("n_distinct_est"),
        col("n_rows"))

  /** The shard path: materialize one HLL sketch per (shard, group) —
    * e.g. alongside each ingest batch — and merge them later with
    * `hll_union_agg`. Union is lossless at equal lgK, so the merged
    * estimate equals the single-pass sketch over the union (spec-pinned):
    * cardinality stats compose across incremental corpus builds without
    * ever rescanning old shards. */
  def shardSketches(df: DataFrame, shardCol: String, groupCol: String,
                    valueCol: String, lgK: Int = 12): DataFrame =
    df.groupBy(col(shardCol), col(groupCol))
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("sk"))

  def mergeShardSketches(shards: DataFrame, groupCol: String): DataFrame =
    shards.groupBy(col(groupCol))
      .agg(hll_union_agg(col("sk")).as("sk"))
      .select(col(groupCol), hll_sketch_estimate(col("sk")).as("n_distinct_est"))

  /** Per-key skew diagnostics — the number you need BEFORE picking a
    * salting factor or an AQE skew threshold for a join/agg on `keyCols`:
    * the `topN` hottest keys with their row counts, each key's share of
    * the table in exact integer ppm, and its ratio to the mean key size
    * (`skew_x`, 6-dp — a key at skew_x 500 needs ~500 salt buckets to
    * level its partition). Two map-side-combinable aggregations (per-key
    * counts, then 1-row global stats broadcast back); the top-N cut is
    * one global [[TopK.cut]], each task keeping its local topN before the
    * single merge, so no task ever sorts the full distinct-key set
    * (billions of keys at corpus scale). Ties break on the key columns.
    */
  def skewStats(df: DataFrame, keyCols: Seq[String], topN: Int): DataFrame = {
    // output/internal aliases must not collide with a key column — a key
    // literally named `n` made every later reference ambiguous at
    // analysis time with no useful error
    val reserved = Seq("n", "share_ppm", "skew_x", "rank", "__total", "__nkeys")
    val clash = keyCols.toSet intersect reserved.toSet
    require(clash.isEmpty,
      s"key columns ${clash.mkString(", ")} collide with skewStats " +
        "output names; rename them first")
    // the per-key count frame feeds BOTH the global-stats fold and the
    // ranked cut — pin it so the corpus scan + count shuffle run once
    // (the bpeTokenCounts lesson: an un-pinned shared frame re-runs its
    // whole lineage per consumer). With no session checkpoint dir the cut
    // is lazy: it materializes with the first action, so composing or
    // explaining runs no job. With a dir set, Checkpoint.cut materializes
    // here, at composition.
    val counts = Checkpoint.cut(df.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("n")))
    val totals = counts.agg(sum(col("n")).as("__total"),
      count(lit(1)).as("__nkeys"))
    // tie-break NULLS LAST explicitly: Spark's bare .asc sorts NULL
    // FIRST while a SQL replay (DuckDB ASC default) sorts it LAST, so
    // at the topN rank cut the NULL key group (unattributed rows — a
    // legitimate slice) survived in one engine and not the other
    // (found by the r13 hostile-events wave). NULLS LAST is also the
    // defensible semantics: at equal frequency, attributed keys
    // outrank the unattributed bucket.
    val order = col("n").desc +: keyCols.map(col(_).asc_nulls_last)
    TopK.cut(counts, topN, Nil, order, "rank")
      .crossJoin(broadcast(totals))
      .withColumn("share_ppm", expr("1000000 * n div __total"))
      // multiply in double: long×long wraps silently in non-ANSI Spark
      // once n·nkeys passes 2^63 (n≈1e10 × nkeys≈1e9 at corpus scale)
      .withColumn("skew_x",
        round(col("n").cast("double") * col("__nkeys") / col("__total"), 6))
      .select(keyCols.map(col) ++
        Seq(col("n"), col("share_ppm"), col("skew_x"), col("rank")): _*)
  }

  /** One row per word n-gram occurrence (column `g`) over
    * [[Words.words]]: the shingles of `Dedup.wordShingles` with their
    * duplicated occurrences kept (frequency counting wants multiplicity,
    * shingling wants the distinct set). */
  private[graft] def ngrams(docs: DataFrame, textCol: String, n: Int): DataFrame = {
    require(n >= 1, "n-gram size must be at least 1")
    docs.select(Words.words(col(textCol)).as("ws"))
      .filter(size(col("ws")) >= n)
      .select(explode(Words.ngrams(col("ws"), n)).as("g"))
  }
}
