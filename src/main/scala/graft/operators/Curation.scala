package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators for training-data pipelines: benchmark
  * contamination detection, deterministic stratified sampling (data
  * mixing), token-budget sequence packing, and event sessionization.
  *
  * Scale discipline:
  *  - contamination broadcasts the benchmark side (benchmark suites are
  *    KBs–MBs against a 100 TB corpus) so the corpus never shuffles for
  *    the join — only matched grams enter the pair aggregation;
  *  - sampling is a pure column expression on a content-derived hash —
  *    shuffle-free, reproducible across runs and engines, no RNG state;
  *  - packing windows partition by stratum, so parallelism is bounded by
  *    strata count — at cluster scale partition by (stratum, shard) with
  *    a deterministic shard key to restore parallelism;
  *  - sessionization shuffles once on the user key; the window sort is
  *    within-partition only.
  */
object Curation {

  /** (train_id, bench_id, coverage) pairs where ≥ `threshold` of the
    * benchmark doc's distinct word n-grams appear in the training doc —
    * the standard n-gram-overlap decontamination check run before
    * training. Benchmark grams are broadcast: the corpus side joins
    * map-side with no shuffle.
    *
    * CONTRACT: `bench` is a benchmark SUITE — KBs-to-MBs of eval docs,
    * never a corpus fraction. The broadcast() hint is unconditional (it
    * is what keeps the 100 TB training side shuffle-free), so a
    * corpus-proportional bench side grows the broadcast linearly with
    * scale until it hits the 8 GB broadcast ceiling / driver memory —
    * if the "benchmark" is itself corpus-sized, use a plain shuffle
    * join instead of this operator. (The d_contamination gate feeds a
    * ~9% fixture slice as the stand-in bench; fine at test sfs, and
    * exactly what this note exists to warn about at sf ≫ 1.)
    */
  def ngramContamination(train: DataFrame, bench: DataFrame, idCol: String,
                         textCol: String, n: Int, threshold: Double): DataFrame = {
    val tg = Dedup.wordShingles(train, idCol, textCol, n)
      .select(col("id").as("train_id"), col("g"))
    val bg = Dedup.wordShingles(bench, idCol, textCol, n)
      .select(col("id").as("bench_id"), col("g"))
    val bn = bg.groupBy(col("bench_id")).agg(count(lit(1)).as("bn"))
    tg.join(broadcast(bg), "g")
      .groupBy(col("train_id"), col("bench_id")).agg(count(lit(1)).as("i"))
      .join(broadcast(bn), "bench_id")
      .filter(col("i") / col("bn") >= threshold)
      .select(col("train_id"), col("bench_id"),
        round(col("i") / col("bn"), 6).as("coverage"))
  }

  /** Deterministic keep/drop decision for hash-based stratified sampling
    * (language/domain mixing): keep a row iff the uniform draw derived
    * from md5(salt || key) is below the stratum's rate. The hash is the
    * first 6 hex digits as an integer in [0, 16^6) — portable to any
    * engine with md5, so mixtures are reproducible byte-for-byte.
    */
  def sampleKeep(keyExpr: org.apache.spark.sql.Column,
                 strataCol: org.apache.spark.sql.Column,
                 rates: Map[String, Double], defaultRate: Double,
                 salt: String): org.apache.spark.sql.Column = {
    val u = HashDraw.u24(salt, keyExpr)
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (k, r)) =>
      when(strataCol === k, lit(r)).otherwise(acc)
    }
    u < rate * (1L << 24)
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis & Spirakis 2006,
    * "Weighted random sampling with a reservoir"): each row draws
    * key = u^(1/w) with u uniform in (0, 1], and the k largest keys form
    * an exact weighted sample — inclusion probability proportional to
    * weight, no sequential reservoir state.
    *
    * The draw is the same engine-portable md5 uniform as [[sampleKeep]]
    * ((first 6 hex digits + 1) / 16^6 ∈ (0, 1], so mixtures reproduce
    * byte for byte across engines and reruns), and the k-largest cut is
    * one global [[TopK.cut]]: every task keeps its local k largest keys
    * before the single merge, so no task ever sorts the whole corpus.
    * Rows with non-positive weight are excluded (E-S is undefined there).
    *
    * Returns (idCol, weightCol, draw = key rounded 6 dp, rank ≤ k) —
    * ranking uses the key rounded to 12 dp with the id as tiebreak, so
    * the ordering survives the ≤ 1-ulp latitude IEEE pow implementations
    * have (JVM Math.pow vs libm need not agree bit for bit; ranking on
    * the raw double lets a near-tie flip cross-engine — same determinism
    * pattern as the 6-dp-rounded cosine in bruteForceTopK).
    */
  def weightedSample(docs: DataFrame, idCol: String, weightCol: String,
                     k: Int, salt: String): DataFrame = {
    val u = (HashDraw.u24(salt, col(idCol).cast("string")) + lit(1L)).cast("double") /
      lit((1L << 24).toDouble)
    val keyed = docs
      .filter(col(weightCol) > 0)
      .select(col(idCol), col(weightCol),
        pow(u, lit(1.0) / col(weightCol).cast("double")).as("__key"))
      .withColumn("__rkey", round(col("__key"), 12))
    TopK.cut(keyed, k, Nil, Seq(col("__rkey").desc, col(idCol).asc), "rank")
      .select(col(idCol), col(weightCol), round(col("__key"), 6).as("draw"), col("rank"))
  }

  /** Contiguous token-budget packing: within each stratum, rows ordered by
    * `orderCol` are assigned batch_id = starting_token_offset div budget —
    * the deterministic "greedy fill, spill overflow" packing used to build
    * fixed-budget training batches. Adds `batch_id`.
    *
    * Reproducibility contract (all three packers): `orderCol` must be
    * UNIQUE within a stratum — the running sum uses a ROWS frame, so
    * rows tied on orderCol get an arbitrary relative order each run and
    * their batch_ids would differ run to run. Pack on a doc id, or a
    * (date, id) composite, never a bare date.
    *
    * Pure long arithmetic (`div`, no double division): exact past 2^53
    * cumulative tokens — a 100 TB corpus overflows double-precision token
    * offsets, integer division does not — and bit-identical across
    * engines.
    */
  def packBatches(rows: DataFrame, strataCol: String, orderCol: String,
                  tokensCol: String, budget: Long): DataFrame = {
    require(budget > 0, s"token budget must be positive, got $budget")
    val w = Window.partitionBy(col(strataCol))
      .orderBy(col(orderCol)).rowsBetween(Window.unboundedPreceding, 0)
    rows
      .withColumn("__tok_start", sum(col(tokensCol)).over(w) - col(tokensCol))
      .withColumn("batch_id", expr(s"__tok_start div ${budget}L"))
      .drop("__tok_start")
  }

  /** Token-budget packing with document splitting: like [[packBatches]]
    * but a document whose tokens cross a batch boundary is split across
    * the adjacent batches, so every batch except a stratum's last holds
    * exactly `budget` tokens — the Megatron-style "concatenate and chop"
    * sequence packing. Emits one row per (document, batch) chunk with
    * `batch_id` and `tokens_in_batch`. Pure long arithmetic throughout;
    * the explode adds ceil(n/budget) rows per document, no extra shuffle
    * beyond the stratum window. */
  def packBatchesSplitting(rows: DataFrame, strataCol: String, orderCol: String,
                           tokensCol: String, budget: Long): DataFrame = {
    require(budget > 0, s"token budget must be positive, got $budget")
    val w = Window.partitionBy(col(strataCol))
      .orderBy(col(orderCol)).rowsBetween(Window.unboundedPreceding, 0)
    rows
      .withColumn("__end", sum(col(tokensCol)).over(w))
      .withColumn("__start", col("__end") - col(tokensCol))
      .filter(col(tokensCol) > 0) // zero-token docs span no batch
      .withColumn("batch_id",
        explode(sequence(expr(s"__start div ${budget}L"),
          expr(s"(__end - 1) div ${budget}L"))))
      .withColumn("tokens_in_batch",
        least(col("__end"), (col("batch_id") + 1) * budget) -
          greatest(col("__start"), col("batch_id") * budget))
      .drop("__start", "__end")
  }

  /** Sharded token-budget packing — [[packBatches]] with parallelism
    * restored at cluster scale. Plain packing's running-sum window
    * partitions by stratum, so a 5-language corpus packs on 5 tasks no
    * matter how many executors exist (documented limitation on
    * [[packBatches]]). Here every row first gets a deterministic
    * md5-derived shard within its stratum; the running token offset is
    * computed within (stratum, shard) — strata × nShards parallel tasks —
    * and then lifted to an EXACT stratum-global offset by adding the
    * total tokens of all lower-numbered shards (a strata × nShards row
    * aggregate, broadcast back). `batch_id` is that global offset div
    * budget: the same greedy fill as [[packBatches]] applied to the
    * stratum's rows re-ordered by (shard, orderCol) — a deterministic,
    * engine-reproducible permutation, exact long arithmetic past 2^53
    * cumulative tokens, no per-stratum bottleneck task.
    *
    * Adds (shard_id, batch_id).
    */
  def packBatchesSharded(rows: DataFrame, strataCol: String, orderCol: String,
                         tokensCol: String, budget: Long, nShards: Int,
                         salt: String): DataFrame = {
    require(nShards >= 1, "nShards must be positive")
    require(budget > 0, s"token budget must be positive, got $budget")
    val shard = HashDraw.u24(salt, col(orderCol).cast("string")) % nShards
    val w = Window.partitionBy(col(strataCol), col("shard_id"))
      .orderBy(col(orderCol)).rowsBetween(Window.unboundedPreceding, 0)
    val sharded = rows.withColumn("shard_id", shard)
    val within = sharded
      .withColumn("__local_start", sum(col(tokensCol)).over(w) - col(tokensCol))
    val wb = Window.partitionBy(col(strataCol)).orderBy(col("shard_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // totals come from the pre-window frame: the bases branch re-evaluates
    // only a map-side-combined aggregate of the input, not the running-sum
    // window
    val bases = sharded
      .groupBy(col(strataCol), col("shard_id"))
      .agg(sum(col(tokensCol)).as("__shard_tokens"))
      .withColumn("__base",
        coalesce(sum(col("__shard_tokens")).over(wb), lit(0L)))
      .select(col(strataCol), col("shard_id"), col("__base"))
    within.join(broadcast(bases), Seq(strataCol, "shard_id"))
      .withColumn("batch_id", expr(s"(__base + __local_start) div ${budget}L"))
      .drop("__local_start", "__base")
  }

  /** Corpus-wide boilerplate token removal: tokens present in more than
    * `floor(dfRatio × corpus size)` documents form a stoplist, and every
    * document is rewritten without them (order preserved, single-space
    * joined). The CCNet/RefinedWeb-style "drop what everyone repeats"
    * cleanup.
    *
    * Shuffle shape: one map-side-combined count shuffle of (token, df) —
    * tokens are `array_distinct`ed per doc first, so shuffle volume is
    * vocabulary-bounded, not corpus-bounded. At the intended near-1
    * dfRatio the stoplist is tiny by construction (only near-universal
    * tokens qualify), ships to executors as a literal, and the rewrite is
    * a narrow map — the corpus text never shuffles.
    *
    * Scale guard: a LOW dfRatio makes the "stoplist" most of the
    * vocabulary, and collecting that to the driver is an unbounded
    * materialization. The stoplist is therefore probed with
    * `take(maxStoplistLiteral + 1)`: at or under the cap the literal
    * fast path runs; above it the rewrite switches to a broadcast
    * left-anti join over the position-exploded tokens plus a per-doc
    * reassembly — one extra hash shuffle on the doc id, bounded driver
    * memory, identical results.
    *
    * Returns (idCol, n_tokens, n_kept, clean_text).
    */
  def stripBoilerplate(docs: DataFrame, idCol: String, textCol: String,
                       dfRatio: Double, maxStoplistLiteral: Int = 65536): DataFrame = {
    // words, never "", everywhere (n_tokens, kept, df marker); a null
    // text stays null through every column (unknown, not zero)
    val ws = Words.words(col(textCol))
    // column pruning only — NOT a fan-out: Tables.fanOut was measured
    // here in r18 (+110% on t_boilerplate: tokenize is too cheap to pay
    // an extra exchange at bench scale) and deliberately reverted
    val pruned = docs.select(col(idCol), col(textCol))
    // single job, single scan: the grouped count carries a per-doc marker
    // row ("") whose df IS the corpus size, so the threshold comparison
    // stays distributed — only the tiny stoplist ever reaches the driver,
    // and the old separate docs.count() pre-scan is gone. No word is "",
    // so the marker count is exactly the corpus size.
    val counts = pruned
      .select(explode(concat(array(lit("")), array_distinct(ws))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("df"))
    val nDocs = counts.filter(col("t") === "").select(col("df").as("n"))
    // pinned lazily (as Retrieval.bpeTokenCounts pins its words): the take()
    // probe below fully runs the corpus-sized token-df aggregation, and
    // the oversized-stoplist branch reads stopDf AGAIN inside the
    // anti-join — without the pin that whole explode+groupBy lineage
    // executed twice. The materialized frame is vocabulary-bounded.
    val stopDf = Checkpoint.cut(counts
      .filter(col("t") =!= "")
      .crossJoin(broadcast(nDocs))
      .filter(col("df") > floor(lit(dfRatio) * col("n")))
      .select(col("t")))
    val probe = stopDf.take(maxStoplistLiteral + 1)
    if (probe.length <= maxStoplistLiteral) {
      val stop = probe.map(_.getString(0)).toSeq.sorted
      // set-backed membership: isInCollection lowers to In, which Catalyst's
      // OptimizeIn rewrites to a hash-set InSet past the conversion
      // threshold — O(1) per token, vs the O(|stoplist|) literal-array scan
      // array_contains would do for every token of every document
      val kept =
        if (stop.isEmpty) ws
        else filter(ws, w => !w.isInCollection(stop))
      pruned.select(
        col(idCol),
        size(ws).cast("long").as("n_tokens"),
        size(kept).cast("long").as("n_kept"),
        array_join(kept, " ").as("clean_text"))
    } else {
      // oversized stoplist: never materialize it on the driver — anti-join
      // the position-exploded tokens against it (stoplist broadcast: big
      // for a literal, still vocabulary-bounded), then reassemble each doc
      // in token order. Docs whose every token was stripped (or that had
      // none) fall out of the groupBy and come back as 0/"" via the left
      // join — same contract as the literal path.
      val toks = pruned
        .select(col(idCol), posexplode(ws))
        .withColumnRenamed("pos", "__pos").withColumnRenamed("col", "__tok")
      val rebuilt = toks
        .join(broadcast(stopDf.withColumnRenamed("t", "__tok")), Seq("__tok"), "left_anti")
        .groupBy(col(idCol))
        .agg(
          count(lit(1)).as("n_kept"),
          array_join(
            transform(
              array_sort(collect_list(struct(col("__pos"), col("__tok")))),
              p => p("__tok")),
            " ").as("clean_text"))
      pruned.select(col(idCol), size(ws).cast("long").as("n_tokens"))
        .join(rebuilt, Seq(idCol), "left")
        // null-text docs stay null through every column (unknown, not
        // zero) — branch parity with the literal path above
        .select(col(idCol), col("n_tokens"),
          when(col("n_tokens").isNotNull,
            coalesce(col("n_kept"), lit(0L))).as("n_kept"),
          when(col("n_tokens").isNotNull,
            coalesce(col("clean_text"), lit(""))).as("clean_text"))
    }
  }

  /** One-pass corpus profile per stratum — the data card a 100 TB
    * curation run publishes next to its output: document and token
    * volume, mean document length, language diversity, and the short-doc
    * share (the first thing a quality sweep cuts). Single
    * map-side-combinable aggregation; all ratios are exact integer
    * ppm/`div` arithmetic, so the report is bit-identical on any engine
    * and under any partial-agg order. Returns (strataCol, n_docs,
    * sum_tokens, mean_tokens, n_langs, short_ppm). */
  def corpusProfile(docs: DataFrame, strataCol: String, textCol: String,
                    langCol: String, shortBelowTokens: Long): DataFrame =
    docs
      .select(col(strataCol), col(langCol),
        size(Words.words(col(textCol)))
          .cast("long").as("__nt"))
      .groupBy(col(strataCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__nt")).as("sum_tokens"),
        count_distinct(col(langCol)).as("n_langs"),
        sum(when(col("__nt") < shortBelowTokens, 1L).otherwise(0L)).as("__short"))
      .select(col(strataCol), col("n_docs"), col("sum_tokens"),
        expr("sum_tokens div n_docs").as("mean_tokens"),
        col("n_langs"),
        expr("1000000 * __short div n_docs").as("short_ppm"))

  /** Temperature-based mixture weights over strata (north-star: data
    * mixing — the per-source sampling weights fed to [[sampleKeep]] when
    * building a training mix). Weight of stratum s is n_s^α / Σ n_t^α:
    * α = 1 reproduces natural proportions, α = 0 is uniform, α ≈ 0.3–0.7
    * is the usual low-resource up-weighting.
    *
    * One map-side-combinable count shuffle; the denominator is a 1-row
    * broadcast. Weights round to 6 dp so the ratio is stable across
    * summation orders. Returns (strataCol, n_docs, weight).
    */
  def mixtureWeights(docs: DataFrame, strataCol: String, alpha: Double): DataFrame = {
    val counts = docs.groupBy(col(strataCol)).agg(count(lit(1)).as("n_docs"))
    val denom = counts.agg(sum(pow(col("n_docs"), alpha)).as("denom"))
    counts.crossJoin(broadcast(denom))
      .select(col(strataCol), col("n_docs"),
        round(pow(col("n_docs"), alpha) / col("denom"), 6).as("weight"))
  }

  /** Apply mixture targets: per-stratum uniform hash sample of
    * `floor(weight · totalK)` documents — the step that turns
    * [[mixtureWeights]]' temperature-flattened targets into an actual
    * rebalanced corpus. Ranks each stratum on the portable md5-u24 draw
    * (descending, id tiebreak) and keeps the stratum's quota; the
    * weights frame broadcasts (|strata| rows). The rank is one
    * per-stratum [[TopK.cut]] bounded by `totalK` — every quota is at
    * most `totalK` for weights in [0, 1] — with the quota filtered on
    * top. Up to the keyed-cut threshold [[TopK]] names (`totalK` ≤ 1000
    * by default) each task forwards at most `totalK` rows per stratum,
    * so a dominant stratum never sorts in one task; above it each
    * stratum ranks whole in one task. A weight above 1 is out of
    * contract: its quota is capped at `totalK`.
    * Returns (strataCol, idCol, rank). */
  def rebalanceSample(docs: DataFrame, strataCol: String, idCol: String,
                      weights: DataFrame, totalK: Long, salt: String): DataFrame = {
    val quotas = broadcast(weights.select(col(strataCol),
      floor(col("weight") * totalK).cast("long").as("__kg")))
    val keyed = docs.select(col(strataCol), col(idCol))
      .join(quotas, strataCol)
      .withColumn("__u", HashDraw.u24(salt, col(idCol).cast("string")))
    // a rank never exceeds Int.MaxValue, so the clamp keeps every quota
    TopK.cut(keyed, totalK.max(0L).min(Int.MaxValue).toInt, Seq(col(strataCol)),
        Seq(col("__u").desc, col(idCol).asc), "rank")
      .filter(col("rank") <= col("__kg"))
      .select(col(strataCol), col(idCol), col("rank"))
  }

  /** Canonical form of a web URL for crawl-dedup keys (north-star: the
    * URL-level dedup every web-corpus pipeline runs before content dedup).
    *
    * Normalization steps, in order:
    *  1. trim surrounding whitespace and drop the `#fragment`;
    *  2. lowercase the `scheme://host[:port]` prefix only — paths and
    *     query strings stay case-sensitive;
    *  3. strip scheme-default ports (`https…:443`, `http…:80`);
    *  4. drop tracking query params (`utm_*`, `ref`, `fbclid`, `gclid`),
    *     preserving every other param and their order — params are never
    *     re-sorted, since order can be semantic;
    *  5. strip one trailing slash from the path.
    *
    * Pure built-in column expression: codegen'd, shuffle-free, and
    * replicable in any engine with regex + list functions (the DuckDB
    * oracle mirrors it step for step). Assumes authority-form URLs
    * (`scheme://host…`), the only form a crawl frontier emits.
    */
  def canonicalUrl(url: Column): Column = {
    val noFrag = regexp_replace(trim(url), "#.*", "")
    // lowercase scheme://host[:port] — everything before the first /?#
    // past the authority marker
    val prefix = regexp_extract(noFrag, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", 0)
    val lowered = concat(lower(prefix), noFrag.substr(length(prefix) + lit(1), lit(1 << 20)))
    val noPort = regexp_replace(
      regexp_replace(lowered, "^(https://[^/?#:]*):443([/?].*)?$", "$1$2"),
      "^(http://[^/?#:]*):80([/?].*)?$", "$1$2")
    val base = regexp_extract(noPort, "^([^?]*)", 1)
    val qs = regexp_extract(noPort, "^[^?]*\\?(.*)$", 1)
    val kept = filter(split(qs, "&"),
      p => !(p === "") && !p.rlike("^(utm_[^=]*|ref|fbclid|gclid)="))
    val baseNoSlash = regexp_replace(base, "(.)/$", "$1")
    when(size(kept) === 0, baseNoSlash)
      .otherwise(concat(baseNoSlash, lit("?"), array_join(kept, "&")))
  }

  /** URL-level dedup: group by [[canonicalUrl]], keep the smallest id.
    * One map-side-combinable hash shuffle on the canonical key — the
    * cheapest dedup pass in the pipeline, run before any content hashing.
    * Returns (canonical_url, kept_<idCol>, n_copies).
    */
  def dedupByUrl(docs: DataFrame, idCol: String, urlCol: String): DataFrame =
    docs
      .groupBy(canonicalUrl(col(urlCol)).as("canonical_url"))
      .agg(min(col(idCol)).as(s"kept_$idCol"), count(lit(1)).as("n_copies"))

  /** Deterministic hash split — train/val/test assignment from the same
    * portable md5-u24 draw as [[sampleKeep]]/[[weightedSample]], against
    * INTEGER cumulative thresholds (floor(cum·2²⁴)), so the oracle
    * replays it exactly and no float boundary can flip an assignment.
    * Properties a training pipeline needs and a random split lacks:
    * shuffle-free (a pure projection), stable under corpus growth (a
    * document's split never changes because other documents arrived),
    * and reproducible from (salt, id) alone — no stored assignment
    * table. Adds a `split` column. */
  def splitByHash(docs: DataFrame, idCol: String, salt: String,
                  fractions: Seq[(String, Double)]): DataFrame = {
    require(fractions.size >= 2, "need at least two splits")
    require(fractions.map(_._1).distinct.size == fractions.size,
      "split names must be distinct")
    require(math.abs(fractions.map(_._2).sum - 1.0) < 1e-9,
      s"fractions must sum to 1, got ${fractions.map(_._2).sum}")
    val thresholds = fractions.map(_._2).scanLeft(0.0)(_ + _).drop(1)
      .map(c => math.floor(c * (1L << 24)).toLong)
    val u = HashDraw.u24(salt, col(idCol).cast("string"))
    val first = when(u < thresholds.head, fractions.head._1)
    val split = fractions.tail.init.zip(thresholds.tail.init)
      .foldLeft(first) { case (acc, ((n, _), t)) => acc.when(u < t, n) }
      .otherwise(fractions.last._1)
    docs.withColumn("split", split)
  }

  /** Sliding-window chunking with overlap — the retrieval/context-window
    * primitive: every `stride` tokens starts a `window`-token chunk, so
    * consecutive chunks share `window - stride` tokens and no boundary
    * sentence is ever seen only cut in half. One chunk starts at every
    * stride offset below the token count (the final chunks are shorter;
    * `n_tokens` carries the actual length). Empty/whitespace-only
    * documents produce no chunks.
    *
    * Scale shape: a pure map — tokenize, slice, explode — no shuffle at
    * all; chunk multiplicity is n/stride, the explosion factor a 100 TB
    * run budgets explicitly (window/stride of 2 doubles the corpus).
    *
    * Returns (idCol, chunk_idx, chunk, n_tokens).
    */
  def chunkOverlap(docs: DataFrame, idCol: String, textCol: String,
                   window: Int, stride: Int): DataFrame = {
    require(window >= 1 && stride >= 1 && stride <= window,
      s"need 1 <= stride($stride) <= window($window)")
    val toks = Words.tokens(col(textCol))
    docs.select(col(idCol), toks.as("toks"))
      .filter(size(col("toks")) > 0 && length(trim(col(textCol))) > 0)
      .select(col(idCol), posexplode(expr(
        s"transform(sequence(0, size(toks) - 1, $stride), s -> " +
          s"struct(concat_ws(' ', slice(toks, s + 1, $window)) AS chunk, " +
          s"least($window, size(toks) - s) AS n_tokens))"))
        .as(Seq("chunk_idx", "c")))
      .select(col(idCol), col("chunk_idx"),
        col("c.chunk").as("chunk"), col("c.n_tokens").as("n_tokens"))
  }

  /** CCNet-style duplicated-chunk removal. Documents are cut into fixed
    * `chunkWords`-word windows (the pseudo-paragraph unit when the corpus
    * has no line structure); a chunk whose normalized (lowercased) text
    * appears elsewhere in the corpus is kept only at its first occurrence
    * — ordered by (id, chunk_idx) — and dropped everywhere else.
    *
    * Shuffle shape: one hash shuffle keyed on the chunk digest (the
    * row_number window), exactly how CCNet shards its paragraph-hash
    * dedup at web scale; the rebuild is a per-doc groupBy — second
    * shuffle on the doc id. No self-join, no pair explosion.
    *
    * Returns the chunk frame (idCol, chunk_idx, chunk, kept) — callers
    * aggregate back to documents with the kept chunks in order.
    */
  def dedupChunks(docs: DataFrame, idCol: String, textCol: String,
                  chunkWords: Int): DataFrame = {
    require(chunkWords >= 1, "chunkWords must be positive")
    // single-evaluation token-array discipline (same as Words.ngrams):
    // the split MUST materialize as a column before entering the transform
    // lambda — an inlined `split(...)` expression re-tokenizes the ENTIRE
    // text once per chunk, O(words × chunks) per doc. Invisible on
    // 128-char fixture docs; on the hostile multi-MB doc (400k words,
    // ~6k chunks) one task burned 20+ min of CPU re-splitting a 2.3 MB
    // string per chunk — at 100 TB a handful of long web docs would pin
    // whole executors.
    val ws = col("__ws")
    // split() never returns an empty array (empty text → [""]), so
    // nChunks ≥ 1 and the sequence below is always ascending
    val nChunks = ceil(size(ws) / lit(chunkWords.toDouble)).cast("int")
    val chunks =
      transform(sequence(lit(0), nChunks - 1),
        i => struct(i.as("idx"),
          array_join(slice(ws, i * chunkWords + 1, lit(chunkWords)), " ").as("c")))
    // chunk text as the final tie-break: duplicate ids (two corpus rows
    // sharing an id) can collide on (id, chunk_idx), and a tie inside the
    // keep-window makes the surviving row — and any case-variant chunk
    // text it carries into the hash group — nondeterministic across
    // engines/runs (hostile-DOCS wave, duplicate-id fixture row)
    val w = Window.partitionBy(md5(lower(col("chunk"))))
      .orderBy(col(idCol), col("chunk_idx"), col("chunk"))
    docs
      .select(col(idCol), Words.tokens(col(textCol)).as("__ws"))
      .select(col(idCol), explode(chunks).as("u"))
      .select(col(idCol), col("u.idx").as("chunk_idx"), col("u.c").as("chunk"))
      .withColumn("kept", row_number().over(w) === 1)
  }

  /** Deterministic global training shuffle: every row gets a content-hash
    * `sort_key` (md5 of salt + id) and a `shard_id` derived from its first
    * 6 hex digits — the "shuffle once, shard, sort within shard" pass that
    * turns a curated corpus into training-ready shards with a reproducible
    * row permutation (re-running the pipeline on the same corpus yields
    * byte-identical shards; changing the salt reshuffles).
    *
    * Assignment is a pure column expression — shuffle-free. The physical
    * write is `repartition(nShards, $"shard_id")` +
    * `sortWithinPartitions($"sort_key")`: exactly one hash shuffle of the
    * corpus, the one a global shuffle fundamentally requires, and the sort
    * is within-partition only (no global order). Shard populations are
    * md5-uniform, so sizes stay balanced at any scale.
    */
  def shardAssign(docs: DataFrame, idCol: String, nShards: Int,
                  salt: String): DataFrame = {
    require(nShards >= 1, "nShards must be positive")
    docs
      .withColumn("sort_key", md5(concat(lit(salt), col(idCol).cast("string"))))
      .withColumn("shard_id",
        HashDraw.hexU24(col("sort_key")) % nShards)
  }

  /** Gap-based sessionization: a new session starts when the time since
    * the user's previous event exceeds `gapMillis`. Adds `session_id` =
    * the session's start time in epoch millis — the same id contract as
    * the streaming [[graft.streaming.Sessionizer]], and unlike a per-user
    * ordinal it stays unique when computed incrementally (a restarted
    * stream that has forgotten a user's history can still never mint a
    * duplicate id, because session starts strictly increase). One shuffle
    * on the user key.
    */
  def sessionize(events: DataFrame, userCol: String, tsCol: String,
                 tieCol: String, gapMillis: Long): DataFrame = {
    val order = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(tieCol))
    val ms = unix_millis(col(tsCol))
    val prev = lag(ms, 1).over(order)
    val startMs = when(prev.isNull || ms - prev > gapMillis, ms)
    events
      // a NULL-timestamp event cannot be placed in a time-gap session —
      // it must DROP, never sessionize. Engines disagree on where a null
      // sorts (Spark nulls-first ASC, DuckDB nulls-last), so left in it
      // either seeded a phantom session_id = NULL group (nulls-first:
      // the null row opens the window, its own null start wins the
      // running max) or silently attached the timeless event to the
      // user's LAST session (nulls-last: null gap arithmetic reads "not
      // new") — both wrong, and each engine picked a different one.
      .filter(col(tsCol).isNotNull)
      .withColumn("session_id",
        max(startMs).over(order.rowsBetween(Window.unboundedPreceding, 0)))
  }
}
