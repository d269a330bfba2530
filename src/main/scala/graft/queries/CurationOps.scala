package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Curation, Frequency, HashDraw, Words}

/** Corpus-curation query pack: contamination, mixing, packing, profiling,
  * sessionization — the operations that sit between raw dedup and actual
  * training-batch emission in a data pipeline. Every query has a DuckDB
  * oracle replicating the identical deterministic algorithm.
  */
object CurationOps {

  private val ContamN = 5
  private val ContamThreshold = 0.5
  private val PackBudget = 2048L
  private val SessionGapMs = 86400000L // 24 h
  private val ChunkWords = 16
  // exactly ChunkWords words — one full chunk, so prepending it shifts
  // the host doc's own chunks by a whole window and nothing else changes
  private val ChunkBoilerplate =
    "cookie policy accept all terms of service privacy notice subscribe to our newsletter sign in today"

  /** Benchmark contamination: docs with doc_id % 11 == 0 stand in for a
    * held-out benchmark suite; flag training docs covering ≥ 50% of a
    * benchmark doc's distinct 5-grams. Benchmark side broadcasts. */
  def qContamination(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    Curation.ngramContamination(
      docs.filter($"doc_id" % 11 =!= 0), docs.filter($"doc_id" % 11 === 0),
      "doc_id", "text", ContamN, ContamThreshold)
      .orderBy($"train_id", $"bench_id")
  }

  /** Deterministic stratified sampling for language mixing: downsample
    * dominant English to 30%, drop zh (no quality filter for it yet),
    * keep the rest. Reproducible across engines via the md5 draw. */
  def qStratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .filter(Curation.sampleKeep(
        $"doc_id".cast("string"), $"lang",
        rates = Map("en" -> 0.3, "zh" -> 0.0), defaultRate = 1.0,
        salt = "smp:"))
      .select($"doc_id", $"lang")
      .orderBy($"doc_id")
  }

  /** Token-budget packing: per language, docs in doc_id order packed into
    * 2048-token batches; emits per-batch doc/token totals. */
  def qPackBatches(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", $"lang",
        size(Words.words($"text"))
          .cast("long").as("n_tokens"))
    Curation.packBatches(docs, "lang", "doc_id", "n_tokens", PackBudget)
      .groupBy($"lang", $"batch_id")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("batch_tokens"))
      .orderBy($"lang", $"batch_id")
  }

  /** Split-packing: same corpus as t_pack_batches but documents crossing a
    * 2048-token boundary split across batches — every batch except each
    * language's last must hold exactly 2048 tokens, which the oracle
    * verifies structurally. */
  def qPackSplit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", $"lang",
        size(Words.words($"text"))
          .cast("long").as("n_tokens"))
    Curation.packBatchesSplitting(docs, "lang", "doc_id", "n_tokens", PackBudget)
      .groupBy($"lang", $"batch_id")
      .agg(count(lit(1)).as("n_chunks"), sum($"tokens_in_batch").as("batch_tokens"))
      .orderBy($"lang", $"batch_id")
  }

  /** Sharded packing: same corpus as t_pack_batches but offsets computed
    * within 4 md5-derived shards per language and lifted to exact
    * stratum-global offsets — the variant whose window parallelism is
    * strata × shards instead of strata. Per-(lang, shard, batch) summary;
    * the oracle replays the identical shard draw and offset arithmetic. */
  def qPackSharded(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", $"lang",
        size(Words.words($"text"))
          .cast("long").as("n_tokens"))
    Curation.packBatchesSharded(docs, "lang", "doc_id", "n_tokens",
      PackBudget, nShards = 4, salt = "psh:")
      .groupBy($"lang", $"shard_id", $"batch_id")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("batch_tokens"))
      .orderBy($"lang", $"shard_id", $"batch_id")
  }

  /** Corpus length profiling: exact interpolated token-count quantiles per
    * language. At 100 TB this becomes approx_percentile (t-digest); the
    * exact form is the oracle-checkable reference semantics. */
  def qLengthQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"lang",
        size(Words.words($"text"))
          .cast("long").as("n_tokens"))
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        round(expr("percentile(n_tokens, 0.5)"), 4).as("p50_tokens"),
        round(expr("percentile(n_tokens, 0.9)"), 4).as("p90_tokens"))
      .orderBy($"lang")
  }

  /** The 100 TB sketch path of [[qLengthQuantiles]]: `approx_percentile`
    * (Greenwald–Khanna summary, here at accuracy 10⁴) instead of the exact
    * sort-based percentile. Below the accuracy bound the GK summary never
    * compresses, so it is provably exact and returns the element at
    * 1-based rank ⌈p·n⌉ of the sorted group, where n counts the NON-NULL
    * inputs (aggregates skip NULLs — a null-text row contributes to
    * n_docs but not to the rank denominator) — the oracle reproduces that
    * rank arithmetic with a window function, gating the sketch path's
    * semantics (an actual corpus element, no interpolation), not just its
    * row shape. */
  def qLengthQuantilesApprox(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"lang",
        size(Words.words($"text"))
          .cast("long").as("n_tokens"))
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        expr("approx_percentile(n_tokens, 0.5, 10000)").as("p50_tokens"),
        expr("approx_percentile(n_tokens, 0.9, 10000)").as("p90_tokens"))
      .orderBy($"lang")
  }

  /** Repetition scoring: fraction of each doc's word bigrams taken by its
    * most frequent bigram (Gopher-style quality rule). */
  def qRepetition(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.operators.TextAnalysis
      .topNgramFraction(Tables.documents(spark, dir), "doc_id", "text", 2)
      .withColumnRenamed("id", "doc_id")
      .orderBy($"doc_id")
  }

  /** Corpus-wide boilerplate removal: tokens in > 79% of documents form a
    * stoplist; every doc is rewritten without them. One vocabulary-bounded
    * count shuffle; the rewrite is a narrow map (text never shuffles). */
  def qBoilerplate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Curation.stripBoilerplate(Tables.documents(spark, dir), "doc_id", "text",
      dfRatio = 0.79)
      .orderBy($"doc_id")
  }

  /** Gap-based sessionization of the events stream (24 h inactivity gap):
    * per-session event counts, value totals, duration. The value total is
    * summed in exact integer micro-units (floor(value·10^6), a long):
    * double-sum results depend on aggregation order, which varies with
    * partitioning — integer sums are bit-identical on any engine at any
    * parallelism. */
  def qSessionize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Curation.sessionize(Tables.events(spark, dir), "user_id", "ts", "event_id",
      SessionGapMs)
      .groupBy($"user_id", $"session_id")
      .agg(
        count(lit(1)).as("n_events"),
        sum(Micros.micros($"value")).as("total_value_micros"),
        (unix_millis(max($"ts")) - unix_millis(min($"ts"))).as("duration_ms"))
      .orderBy($"user_id", $"session_id")
  }

  /** Edit-distance fuzzy self-join (north-star: entity resolution /
    * fuzzy key dedup — near-identical titles, names, OCR'd codes): all
    * unordered doc pairs whose 12-char text prefix sits within
    * Levenshtein distance 2, found by PassJoin segment blocking (no
    * false negatives by pigeonhole) + exact banded-Levenshtein verify.
    * Because the verify is exact, the OUTPUT contract is independent of
    * the blocking — the oracle replays the naive quadratic definition
    * while Spark runs the blocked plan. */
  def qFuzzyPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val keyed = Tables.documents(spark, dir)
      .select($"doc_id", substring($"text", 1, 12).as("k12"))
    graft.operators.Dedup.editDistancePairs(keyed, "doc_id", "k12", maxDist = 2)
      .select($"id_a", $"id_b", $"dist")
      .orderBy($"id_a", $"id_b")
  }

  /** URL-level dedup (north-star: crawl-frontier dedup — the cheapest
    * pass, run before any content hashing). The corpus has no URL column,
    * so a deterministic messy URL is derived per doc — four variants
    * cycling by doc_id: clean; SHOUTING-case scheme/host with an explicit
    * :443; tracking-tagged (where the non-tracking `id=7` must survive);
    * fragment + trailing slash. Each 4-doc group canonicalizes to exactly
    * 2 URLs, so the gate checks every normalization step: case, default
    * port, param filtering, fragment, trailing slash. The oracle
    * re-derives the same mess and must agree on every canonical group. */
  def qUrlDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val g = expr("doc_id div 4").cast("string")
    val h = expr("(doc_id div 4) % 10").cast("string")
    val base = concat(lit("https://d"), h, lit(".example.com/docs/"), g)
    val url = when($"doc_id" % 4 === 0, base)
      .when($"doc_id" % 4 === 1,
        concat(lit("HTTPS://D"), h, lit(".EXAMPLE.com:443/docs/"), g))
      .when($"doc_id" % 4 === 2, concat(base, lit("/?utm_source=feed&id=7&ref=tw")))
      .otherwise(concat(base, lit("/#sec-2")))
    Curation.dedupByUrl(
      Tables.documents(spark, dir).select($"doc_id", url.as("url")),
      "doc_id", "url")
      .orderBy($"kept_doc_id")
  }

  /** The planted-banner fixture: every 5th doc gets the 16-word
    * [[ChunkBoilerplate]] banner prepended — ONE definition shared by
    * all four chunk/substring gates (and mirrored by [[banneredSql]] on
    * the oracle side). */
  private def bannered(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select($"doc_id",
      when($"doc_id" % 5 === 0, concat(lit(ChunkBoilerplate + " "), $"text"))
        .otherwise($"text").as("text"))
  }

  /** CCNet-style chunk dedup: docs are cut into 16-word windows and a
    * window duplicated anywhere in the corpus survives only at its first
    * occurrence. Every 5th doc gets a fixed 16-word boilerplate banner
    * prepended — exactly one chunk wide — so those docs share a
    * duplicated chunk 0 and everything else stays unique. Output is the
    * per-doc rebuild summary (content-addressed by md5 so the gate checks
    * the reassembled text, not just counts). */
  def qChunkDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = bannered(spark, dir)
    Curation.dedupChunks(docs, "doc_id", "text", ChunkWords)
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        count(when($"kept", 1)).as("n_kept"),
        md5(array_join(
          transform(
            array_sort(collect_list(when($"kept", struct($"chunk_idx", $"chunk")))),
            p => p("chunk")),
          " ")).as("clean_md5"))
      .orderBy($"doc_id")
  }

  /** Exact-substring dedup (Lee et al. 2021 at 8-token window
    * granularity): every 5th doc gets the 16-word boilerplate banner
    * prepended, so each banner'd doc after the first shares the banner's
    * 9 fully-interior 8-token windows — overlap semantics a chunk-aligned
    * dedup can't see — plus whatever verbatim spans the corpus itself
    * repeats. Output is per-doc window/duplicate counts. */
  def qSubstringDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = bannered(spark, dir)
    graft.operators.Dedup.substringDupWindows(docs, "doc_id", "text", w = 8)
      .orderBy($"doc_id")
  }

  /** The removal ACTION of substring dedup: same planted-banner fixture
    * as d_substring_dedup, but duplicated spans are actually excised —
    * the first doc carrying the banner keeps it, every later copy loses
    * those tokens, and the rebuilt clean text is hash-compared string
    * for string (the strongest gate in the dedup family). */
  def qSubstringRemoval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = bannered(spark, dir)
    graft.operators.Dedup.removeDupSpans(docs, "doc_id", "text", w = 8)
      .orderBy($"doc_id")
  }

  /** The SAMPLED substring-dedup path (the 100 TB volume knob), oracle-
    * gated: same planted-banner fixture as d_substring_dedup but with
    * content-defined sampling at selectMod = 4 — only windows whose
    * md5-derived selection value ≡ 0 (mod 4) participate, so both copies
    * of a shared span select the same windows and shuffle volume drops
    * ~4×. The portable md5 family lets DuckDB replay the selection digit
    * for digit; production runs the same path on xxhash64. */
  def qSubstringSampled(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = bannered(spark, dir)
    graft.operators.Dedup.substringDupWindows(docs, "doc_id", "text", w = 8,
      selectMod = 4, portableHash = true)
      .orderBy($"doc_id")
  }

  /** Temperature-based mixture weights per source (α = 0.5): the data-mix
    * computation that decides per-source sampling rates before
    * [[Curation.sampleKeep]] draws. The oracle mirrors power/sum/round. */
  def qMixtureWeights(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Curation.mixtureWeights(Tables.documents(spark, dir), "source", alpha = 0.5)
      .orderBy($"source")
  }

  /** Rabin–Karp rolling-hash fingerprint summary per doc: window count,
    * min hash (the 1-row fingerprint) and distinct-window count — via the
    * native single-pass [[graft.functions.RollingFingerprint64]] (the
    * O(len·w) interpreted HOF twin [[graft.operators.TextAnalysis
    * .rollingHashes]] exists only for cross-engine identity specs). The
    * oracle replays the identical stepwise-mod fold via list_reduce, so
    * the gate pins the exact polynomial arithmetic, not just the shape. */
  def qRollingFingerprint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fp = graft.functions.RollingFingerprint64.rolling_fingerprint($"text", 8)
    Tables.documents(spark, dir)
      .select($"doc_id", fp.as("fp"))
      .select($"doc_id", $"fp.n_windows".as("n_windows"),
        $"fp.min_hash".as("min_hash"), $"fp.n_distinct".as("n_distinct"))
      .orderBy($"doc_id")
  }

  /** Efraimidis–Spirakis weighted sample: 100 docs drawn without
    * replacement with inclusion odds ∝ token count — the
    * quality/length-weighted corpus subset draw. The oracle replays the
    * identical md5 uniform and u^(1/w) key; both engines rank on the key
    * rounded to 12 dp (id tiebreak) so a 1-ulp pow divergence between
    * JVM Math.pow and libm cannot flip a near-tie rank. */
  def qWeightedSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id",
        size(Words.words($"text"))
          .cast("long").as("weight"))
    Curation.weightedSample(docs, "doc_id", "weight", k = 100, salt = "ws:")
      .orderBy($"rank")
  }

  /** Heavy-hitter trigrams via the builtin approx_top_k sketch, gated on
    * its exact regime: the fixture's distinct trigrams (~16.5 k at
    * sf0.01, ~27 k at sf0.1) sit under the 65 536 sketch capacity, so
    * every count is exact and the cnt ≥ 5 cut matches DuckDB's exact
    * GROUP BY row for row. k = capacity so the top-k cut never binds
    * inside the exact regime — a smaller k would truncate at an
    * arbitrary-tie count boundary the oracle can't replay (sf0.1 has
    * 25 831 qualifying trigrams; k = 1024 cut them). The purge
    * (approximate) regime is spec-gated instead. */
  def qTopTokens(spark: SparkSession, dir: String): DataFrame =
    Frequency.topGrams(Tables.documents(spark, dir), "text", n = 3,
      k = 65536, maxTracked = 65536, minCount = 5L)

  /** Sliding-window chunking with overlap (north-star: RAG/context
    * chunking) — 32-token windows every 24 tokens (8-token overlap), a
    * pure shuffle-free map; the oracle replays the identical slice
    * arithmetic. */
  def qChunkOverlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Curation.chunkOverlap(Tables.documents(spark, dir), "doc_id", "text",
        window = 32, stride = 24)
      .orderBy($"doc_id", $"chunk_idx")
  }

  /** Deterministic 80/10/10 train/val/test split (north-star: corpus
    * split assignment) — portable md5-u24 draw vs integer thresholds,
    * replayed exactly by the oracle. */
  def qSplitHash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Curation.splitByHash(Tables.documents(spark, dir), "doc_id", "sp8:",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select($"doc_id", $"split")
      .orderBy($"doc_id")
  }

  /** Mixture rebalancing end to end (north-star: domain-mix application):
    * α=0.5 temperature weights per source → per-source uniform hash
    * quota sample of floor(weight·200) docs. Oracle replays weights,
    * quotas, draw and ranking. */
  def qRebalance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val weights = Curation.mixtureWeights(docs, "source", alpha = 0.5)
    Curation.rebalanceSample(docs, "source", "doc_id", weights,
        totalK = 200L, salt = "rb8:")
      .orderBy($"source", $"rank")
  }

  /** Per-key skew diagnostics over the event stream keyed on user_id —
    * the pre-flight number for sizing salt buckets / AQE skew thresholds
    * before a join or aggregation on that key. Top-20 hottest users with
    * exact share (integer ppm) and ratio to the mean key size. */
  def qSkewStats(spark: SparkSession, dir: String): DataFrame =
    Frequency.skewStats(Tables.events(spark, dir), Seq("user_id"), topN = 20)

  /** Per-source corpus data card: volume, mean length, language
    * diversity, short-doc share — all exact integer arithmetic. */
  def qCorpusProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Curation.corpusProfile(Tables.documents(spark, dir), "source", "text",
        "lang", shortBelowTokens = 20L)
      .orderBy($"source")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t_corpus_profile" -> (qCorpusProfile _),
    "q_skew_stats" -> (qSkewStats _),
    "t_chunk_overlap" -> (qChunkOverlap _),
    "t_split_hash" -> (qSplitHash _),
    "t_rebalance" -> (qRebalance _),
    "t_weighted_sample" -> (qWeightedSample _),
    "t_top_tokens" -> (qTopTokens _),
    "d_contamination" -> (qContamination _),
    "t_stratified_sample" -> (qStratifiedSample _),
    "t_pack_batches" -> (qPackBatches _),
    "t_pack_split" -> (qPackSplit _),
    "t_pack_sharded" -> (qPackSharded _),
    "t_length_quantiles" -> (qLengthQuantiles _),
    "t_length_quantiles_approx" -> (qLengthQuantilesApprox _),
    "t_repetition" -> (qRepetition _),
    "t_boilerplate" -> (qBoilerplate _),
    "q_sessionize" -> (qSessionize _),
    "d_url_dedup" -> (qUrlDedup _),
    "d_fuzzy_pairs" -> (qFuzzyPairs _),
    "d_chunk_dedup" -> (qChunkDedup _),
    "d_substring_dedup" -> (qSubstringDedup _),
    "d_substring_sampled" -> (qSubstringSampled _),
    "d_substring_removal" -> (qSubstringRemoval _),
    "t_mixture_weights" -> (qMixtureWeights _),
    "t_rolling_fp" -> (qRollingFingerprint _)
  )

  /** The planted-banner fixture as a CTE — the ONE oracle-side
    * definition of the %5 banner rule (was hand-duplicated inside four
    * SQL strings; a banner edit required four synchronized string
    * edits). Interpolates [[ChunkBoilerplate]] so the Spark fixture and
    * every oracle share the literal. */
  private val banneredSql =
    s"""t AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 5 = 0
                       THEN '$ChunkBoilerplate ' || text
                       ELSE text END AS tx
           FROM documents)"""

  private val gramSql =
    s"""sh AS (
         SELECT doc_id AS id, unnest(list_distinct(${Words.ngramsSql("ws", 5)})) AS g
         FROM (SELECT doc_id, ${Words.wordsSql("text")} AS ws FROM documents)
         WHERE len(ws) >= 5)"""

  /** The banner'd corpus's 8-token windows `wnd` (doc_id, idx, g), idx
    * 0-based, over the raw tokens `d.ws`: the
    * [[graft.operators.Dedup.tokenWindows]] twin the three substring
    * oracles share. */
  private val substringWindowsSql =
    s"""$banneredSql,
         d AS (SELECT doc_id, ${Words.tokensSql("tx")} AS ws FROM t),
         wnd AS (SELECT doc_id, i - 1 AS idx, g FROM (
                   SELECT doc_id, unnest(gs) AS g, generate_subscripts(gs, 1) AS i
                   FROM (SELECT doc_id, ${Words.ngramsSql("ws", 8)} AS gs
                         FROM d WHERE len(ws) >= 8)))"""

  val oracles: Map[String, String] = Map(
    "t_corpus_profile" ->
      s"""WITH d AS (
           SELECT source, lang,
                  len(${Words.wordsSql("text")})::BIGINT AS nt
           FROM documents)
         SELECT source, count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS sum_tokens,
                CAST(sum(nt) // count(*) AS BIGINT) AS mean_tokens,
                count(DISTINCT lang) AS n_langs,
                CAST(1000000 * sum(CASE WHEN nt < 20 THEN 1 ELSE 0 END) // count(*) AS BIGINT)
                  AS short_ppm
         FROM d GROUP BY source ORDER BY source""",
    "q_skew_stats" ->
      """WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS total, count(*) AS nkeys FROM c),
         r AS (SELECT user_id, n,
                      1000000 * n // total AS share_ppm,
                      round(n * nkeys / total, 6) AS skew_x,
                      row_number() OVER (ORDER BY n DESC, user_id ASC NULLS LAST) AS rank
               FROM c, t)
         SELECT user_id, n, share_ppm, skew_x, rank
         FROM r WHERE rank <= 20 ORDER BY rank""",
    "t_rebalance" ->
      s"""WITH s AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
         d AS (SELECT sum(power(n_docs, 0.5)) AS denom FROM s),
         wt AS (SELECT source, round(power(n_docs, 0.5) / denom, 6) AS weight
                FROM s, d),
         k AS (SELECT source, CAST(floor(weight * 200) AS BIGINT) AS kg FROM wt),
         u AS (SELECT doc_id, source,
                      ${HashDraw.u24Sql("rb8:", "doc_id")} AS u24
               FROM documents),
         r AS (SELECT source, doc_id,
                      row_number() OVER (PARTITION BY source
                                         ORDER BY u24 DESC, doc_id ASC) AS rank
               FROM u)
         SELECT r.source AS source, r.doc_id, r.rank
         FROM r JOIN k ON r.source = k.source
         WHERE r.rank <= k.kg
         ORDER BY r.source, r.rank""",
    "t_split_hash" ->
      s"""WITH u AS (
           SELECT doc_id,
                  ${HashDraw.u24Sql("sp8:", "doc_id")} AS u24
           FROM documents)
         SELECT doc_id,
                CASE WHEN u24 < 13421772 THEN 'train'
                     WHEN u24 < 15099494 THEN 'val'
                     ELSE 'test' END AS split
         FROM u ORDER BY doc_id""",
    "t_chunk_overlap" ->
      s"""WITH t AS (SELECT doc_id, ${Words.tokensSql("text")} AS toks
                    FROM documents WHERE length(trim(text)) > 0),
          s AS (SELECT doc_id, toks, unnest(range(0, len(toks), 24)) AS st FROM t)
          SELECT doc_id, CAST(st // 24 AS INTEGER) AS chunk_idx,
                 array_to_string(toks[st + 1 : st + 32], ' ') AS chunk,
                 CAST(least(32, len(toks) - st) AS INTEGER) AS n_tokens
          FROM s ORDER BY doc_id, chunk_idx""",
    "t_weighted_sample" ->
      s"""WITH w AS (
           SELECT doc_id,
                  CAST(len(${Words.wordsSql("text")}) AS BIGINT) AS weight,
                  ${HashDraw.u24Sql("ws:", "doc_id")} AS u24
           FROM documents),
         keyed AS (
           SELECT doc_id, weight,
                  power((u24 + 1) / 16777216.0, 1.0 / weight) AS key
           FROM w WHERE weight > 0),
         ranked AS (
           SELECT doc_id, weight, round(key, 6) AS draw,
                  row_number() OVER (ORDER BY round(key, 12) DESC, doc_id ASC) AS rank
           FROM keyed)
         SELECT doc_id, weight, draw, rank
         FROM ranked WHERE rank <= 100 ORDER BY rank""",
    "t_top_tokens" ->
      s"""WITH w AS (SELECT ${Words.wordsSql("text")} AS ws
                    FROM documents),
         grams AS (
           SELECT unnest(${Words.ngramsSql("ws", 3)}) AS g
           FROM w WHERE len(ws) >= 3),
         cnt AS (SELECT g AS gram, count(*) AS cnt FROM grams GROUP BY 1)
         SELECT gram, cnt FROM cnt WHERE cnt >= 5
         ORDER BY cnt DESC, gram ASC""",
    "d_contamination" ->
      s"""WITH $gramSql,
          bench AS (SELECT * FROM sh WHERE id % 11 = 0),
          train AS (SELECT * FROM sh WHERE id % 11 <> 0),
          bn AS (SELECT id, count(*) AS bn FROM bench GROUP BY 1),
          inter AS (
            SELECT t.id AS train_id, b.id AS bench_id, count(*) AS i
            FROM train t JOIN bench b ON t.g = b.g GROUP BY 1, 2)
          SELECT train_id, bench_id, round(i * 1.0 / bn.bn, 6) AS coverage
          FROM inter JOIN bn ON bench_id = bn.id
          WHERE i * 1.0 / bn.bn >= 0.5
          ORDER BY train_id, bench_id""",
    "t_stratified_sample" ->
      s"""SELECT doc_id, lang
         FROM (
           SELECT doc_id, lang,
                  ${HashDraw.u24Sql("smp:", "doc_id")} AS u
           FROM documents)
         WHERE u < (CASE lang WHEN 'en' THEN 0.3 WHEN 'zh' THEN 0.0
                    ELSE 1.0 END) * 16777216
         ORDER BY doc_id""",
    "t_pack_batches" ->
      s"""WITH toks AS (
           SELECT doc_id, lang,
                  CAST(len(${Words.wordsSql("text")}) AS BIGINT) AS n_tokens
           FROM documents),
         packed AS (
           SELECT lang, doc_id, n_tokens,
                  CAST((CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
                        - n_tokens) // 2048 AS BIGINT) AS batch_id
           FROM toks)
         SELECT lang, batch_id, count(*) AS n_docs,
                CAST(sum(n_tokens) AS BIGINT) AS batch_tokens
         FROM packed GROUP BY 1, 2 ORDER BY lang, batch_id""",
    "t_pack_split" ->
      s"""WITH toks AS (
           SELECT doc_id, lang,
                  CAST(len(${Words.wordsSql("text")}) AS BIGINT) AS n
           FROM documents),
         pos AS (
           SELECT lang, doc_id, n,
                  CAST(sum(n) OVER (PARTITION BY lang ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS e
           FROM toks),
         chunks AS (
           SELECT lang, doc_id, n, e, e - n AS s,
                  unnest(generate_series((e - n) // 2048, (e - 1) // 2048)) AS batch_id
           FROM pos WHERE n > 0),
         sized AS (
           SELECT lang, CAST(batch_id AS BIGINT) AS batch_id,
                  least(e, (batch_id + 1) * 2048) - greatest(s, batch_id * 2048) AS t
           FROM chunks)
         SELECT lang, batch_id, count(*) AS n_chunks,
                CAST(sum(t) AS BIGINT) AS batch_tokens
         FROM sized GROUP BY 1, 2 ORDER BY lang, batch_id""",
    "t_pack_sharded" ->
      s"""WITH toks AS (
           SELECT doc_id, lang,
                  CAST(len(${Words.wordsSql("text")}) AS BIGINT) AS n_tokens
           FROM documents),
         sh AS (
           SELECT doc_id, lang, n_tokens,
                  ${HashDraw.u24Sql("psh:", "doc_id")} % 4 AS shard_id
           FROM toks),
         loc AS (
           SELECT lang, shard_id, doc_id, n_tokens,
                  CAST(sum(n_tokens) OVER (PARTITION BY lang, shard_id
                                           ORDER BY doc_id
                                           ROWS UNBOUNDED PRECEDING) AS BIGINT)
                    - n_tokens AS local_start
           FROM sh),
         tot AS (SELECT lang, shard_id, CAST(sum(n_tokens) AS BIGINT) AS st
                 FROM sh GROUP BY 1, 2),
         base AS (
           SELECT lang, shard_id,
                  CAST(coalesce(sum(st) OVER (PARTITION BY lang ORDER BY shard_id
                                              ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND 1 PRECEDING), 0) AS BIGINT) AS b
           FROM tot),
         packed AS (
           SELECT l.lang, l.shard_id, l.n_tokens,
                  (b.b + l.local_start) // 2048 AS batch_id
           FROM loc l JOIN base b ON l.lang = b.lang AND l.shard_id = b.shard_id)
         SELECT lang, shard_id, batch_id, count(*) AS n_docs,
                CAST(sum(n_tokens) AS BIGINT) AS batch_tokens
         FROM packed GROUP BY 1, 2, 3 ORDER BY lang, shard_id, batch_id""",
    "t_length_quantiles" ->
      s"""SELECT lang, count(*) AS n_docs,
                round(quantile_cont(n_tokens, 0.5), 4) AS p50_tokens,
                round(quantile_cont(n_tokens, 0.9), 4) AS p90_tokens
         FROM (SELECT lang, len(${Words.wordsSql("text")}) AS n_tokens
               FROM documents)
         GROUP BY lang ORDER BY lang""",
    "t_length_quantiles_approx" ->
      // rank arithmetic over NON-NULL token counts only: approx_percentile
      // (like every SQL aggregate) skips NULL inputs, so a null-text row
      // (n_tokens NULL, hostile-DOCS fixture) must not inflate the rank
      // denominator n — it still counts in n_docs, matching Spark's
      // count(lit(1)). NULLS LAST parks null rows at ranks > n =
      // count(n_tokens), so they can never match ceil(p*n) — no extra
      // null guard needed (r15 ADVICE)
      s"""WITH d AS (SELECT lang,
                    CAST(len(${Words.wordsSql("text")}) AS BIGINT) AS n_tokens
                    FROM documents),
         r AS (SELECT lang, n_tokens,
                      row_number() OVER (PARTITION BY lang
                                         ORDER BY n_tokens NULLS LAST) AS rn,
                      count(n_tokens) OVER (PARTITION BY lang) AS n
               FROM d)
         SELECT lang, count(*) AS n_docs,
                max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                         THEN n_tokens END) AS p50_tokens,
                max(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT)
                         THEN n_tokens END) AS p90_tokens
         FROM r GROUP BY lang ORDER BY lang""",
    "t_repetition" ->
      s"""WITH grams AS (
           SELECT doc_id,
                  unnest(${Words.ngramsSql("ws", 2)}) AS g
           FROM (SELECT doc_id,
                        ${Words.wordsSql("lower(text)")} AS ws
                 FROM documents)
           WHERE len(ws) >= 2),
         counts AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2)
         SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_ngrams,
                CAST(max(c) AS BIGINT) AS top_ngram_n,
                CAST((1000000 * max(c)) // CAST(sum(c) AS BIGINT) AS BIGINT)
                  AS top_ngram_ppm
         FROM counts GROUP BY doc_id ORDER BY doc_id""",
    "t_boilerplate" ->
      s"""WITH d AS (SELECT doc_id, ${Words.wordsSql("text")} AS ws,
                           row_number() OVER (PARTITION BY doc_id
                                              ORDER BY text) AS sub
                    FROM documents),
         toks AS (SELECT doc_id, sub, unnest(ws) AS tok,
                         generate_subscripts(ws, 1) AS pos FROM d),
         -- df is ROW-based ((doc_id, sub), not DISTINCT doc_id): a document
         -- is a corpus row — duplicate doc_ids are two documents — and the
         -- denominator is rows WITH text (a null-text row contributes no
         -- tokens and no corpus mass), matching the operator's marker-row
         -- count exactly; at df exactly on the floor(ratio*n) boundary a
         -- one-row denominator skew flipped the whole stoplist (hostile-DOCS
         -- wave: token at df 403 vs floors 402/403)
         dfreq AS (SELECT tok, count(*) AS df FROM
                     (SELECT DISTINCT doc_id, sub, tok FROM toks) GROUP BY 1),
         hot AS (SELECT tok FROM dfreq
                 WHERE df > floor(0.79 * (SELECT count(*) FROM d
                                          WHERE ws IS NOT NULL))),
         kept AS (SELECT t.doc_id, t.sub, t.pos, t.tok
                  FROM toks t ANTI JOIN hot h ON t.tok = h.tok),
         agg AS (SELECT doc_id, sub, count(*) AS n_kept,
                        string_agg(tok, ' ' ORDER BY pos) AS clean_text
                 FROM kept GROUP BY 1, 2)
         SELECT d.doc_id,
                CASE WHEN d.ws IS NULL THEN NULL
                     ELSE CAST(len(d.ws) AS BIGINT) END AS n_tokens,
                CASE WHEN d.ws IS NULL THEN NULL
                     ELSE CAST(coalesce(a.n_kept, 0) AS BIGINT) END AS n_kept,
                CASE WHEN d.ws IS NULL THEN NULL
                     ELSE coalesce(a.clean_text, '') END AS clean_text
         FROM d LEFT JOIN agg a ON d.doc_id = a.doc_id AND d.sub = a.sub
         ORDER BY d.doc_id""",
    "q_sessionize" ->
      s"""WITH ordered AS (
           -- ts IS NOT NULL mirrors the operator: a timeless event drops
           -- (engines disagree on null sort position, so left in it either
           -- seeded a phantom NULL session or silently joined the last one)
           SELECT user_id, event_id, ts, value,
                  lag(epoch_ms(ts)) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS prev_ms
           FROM events WHERE ts IS NOT NULL),
         flagged AS (
           SELECT user_id, event_id, ts, value,
                  CASE WHEN prev_ms IS NULL
                            OR epoch_ms(ts) - prev_ms > 86400000
                       THEN 1 ELSE 0 END AS is_new
           FROM ordered),
         numbered AS (
           SELECT user_id, ts, value,
                  CAST(max(CASE WHEN is_new = 1 THEN epoch_ms(ts) END)
                         OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
                    AS session_id
           FROM flagged)
         SELECT user_id, session_id, count(*) AS n_events,
                CAST(sum(${Micros.sql("value")}) AS BIGINT)
                  AS total_value_micros,
                epoch_ms(max(ts)) - epoch_ms(min(ts)) AS duration_ms
         FROM numbered GROUP BY 1, 2 ORDER BY user_id, session_id""",
    "d_fuzzy_pairs" ->
      """WITH k AS (SELECT doc_id, substr(text, 1, 12) AS k FROM documents)
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                levenshtein(a.k, b.k) AS dist
         FROM k a, k b
         WHERE a.doc_id < b.doc_id AND levenshtein(a.k, b.k) <= 2
         ORDER BY id_a, id_b""",
    "d_url_dedup" ->
      """WITH b AS (
           SELECT doc_id,
                  concat('https://d', (doc_id // 4) % 10,
                         '.example.com/docs/', doc_id // 4) AS base,
                  (doc_id // 4) % 10 AS h, doc_id // 4 AS g
           FROM documents),
         u AS (
           SELECT doc_id,
                  CASE doc_id % 4
                    WHEN 0 THEN base
                    WHEN 1 THEN concat('HTTPS://D', h, '.EXAMPLE.com:443/docs/', g)
                    WHEN 2 THEN base || '/?utm_source=feed&id=7&ref=tw'
                    ELSE base || '/#sec-2' END AS url
           FROM b),
         c1 AS (SELECT doc_id, regexp_replace(trim(url), '#.*', '') AS s FROM u),
         c2 AS (SELECT doc_id, s,
                       regexp_extract(s, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', 0) AS pre
                FROM c1),
         c3 AS (SELECT doc_id, lower(pre) || substr(s, length(pre) + 1) AS s FROM c2),
         c4 AS (SELECT doc_id,
                       regexp_replace(
                         regexp_replace(s, '^(https://[^/?#:]*):443([/?].*)?$', '\1\2'),
                         '^(http://[^/?#:]*):80([/?].*)?$', '\1\2') AS s
                FROM c3),
         c5 AS (SELECT doc_id,
                       regexp_extract(s, '^([^?]*)', 1) AS base,
                       regexp_extract(s, '^[^?]*\?(.*)$', 1) AS qs
                FROM c4),
         c6 AS (SELECT doc_id,
                       regexp_replace(base, '(.)/$', '\1') AS b2,
                       list_filter(string_split(qs, '&'),
                         p -> p <> '' AND NOT regexp_matches(p,
                                '^(utm_[^=]*|ref|fbclid|gclid)=')) AS kept
                FROM c5),
         canon AS (SELECT doc_id,
                          CASE WHEN len(kept) = 0 THEN b2
                               ELSE b2 || '?' || array_to_string(kept, '&') END
                            AS canonical_url
                   FROM c6)
         SELECT canonical_url, min(doc_id) AS kept_doc_id, count(*) AS n_copies
         FROM canon GROUP BY 1 ORDER BY kept_doc_id""",
    "d_chunk_dedup" ->
      s"""WITH $banneredSql,
         toks AS (SELECT doc_id, ${Words.tokensSql("tx")} AS ws FROM t),
         ch AS (SELECT doc_id, u.idx AS chunk_idx, u.c AS chunk FROM (
                  SELECT doc_id,
                         unnest([{'idx': i - 1,
                                  'c': array_to_string(ws[(i-1)*16+1:(i-1)*16+16], ' ')}
                                 for i in range(1, cast(ceil(len(ws)/16.0) AS int) + 1)]) AS u
                  FROM toks)),
         k AS (SELECT doc_id, chunk_idx, chunk,
                      row_number() OVER (PARTITION BY md5(lower(chunk))
                                         ORDER BY doc_id, chunk_idx, chunk) AS rn
               FROM ch)
         SELECT doc_id, count(*) AS n_chunks,
                count(*) FILTER (WHERE rn = 1) AS n_kept,
                md5(coalesce(
                  array_to_string(list(chunk ORDER BY chunk_idx, chunk)
                                    FILTER (WHERE rn = 1),
                                  ' '), '')) AS clean_md5
         FROM k GROUP BY 1 ORDER BY doc_id""",
    "d_substring_dedup" ->
      s"""WITH $substringWindowsSql,
         r AS (SELECT doc_id, idx,
                      row_number() OVER (PARTITION BY g ORDER BY doc_id, idx) AS rn
               FROM wnd)
         SELECT doc_id, count(*) AS n_windows,
                count(*) FILTER (WHERE rn > 1) AS n_dup_windows
         FROM r GROUP BY 1 ORDER BY doc_id""",
    "d_substring_removal" ->
      s"""WITH $substringWindowsSql,
         r AS (SELECT doc_id, idx,
                      row_number() OVER (PARTITION BY g ORDER BY doc_id, idx) AS rn
               FROM wnd),
         dup AS (SELECT doc_id, idx, idx + 8 AS e FROM r WHERE rn > 1),
         isl AS (
           SELECT doc_id, idx, e,
                  CASE WHEN max(e) OVER w IS NULL OR idx > max(e) OVER w
                       THEN 1 ELSE 0 END AS nw
           FROM dup
           WINDOW w AS (PARTITION BY doc_id ORDER BY idx, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         grp AS (
           SELECT doc_id, idx, e,
                  sum(nw) OVER (PARTITION BY doc_id ORDER BY idx, e
                                ROWS UNBOUNDED PRECEDING) AS g
           FROM isl),
         merged AS (SELECT doc_id, min(idx) AS s, max(e) AS e
                    FROM grp GROUP BY doc_id, g),
         ivs AS (SELECT doc_id, list([s, e] ORDER BY s) AS iv
                 FROM merged GROUP BY doc_id),
         joined AS (
           SELECT d.doc_id, d.ws,
                  coalesce(ivs.iv, CAST([] AS BIGINT[][])) AS iv
           FROM d LEFT JOIN ivs USING (doc_id)),
         kept AS (
           SELECT doc_id, ws,
                  list_filter(ws, (x, i) ->
                    len(list_filter(iv, v -> i - 1 >= v[1] AND i - 1 < v[2])) = 0)
                    AS ks
           FROM joined)
         SELECT doc_id,
                coalesce(array_to_string(ks, ' '), '') AS clean_text,
                CAST(len(ws) AS BIGINT) AS n_tokens,
                CAST(len(ws) - len(ks) AS BIGINT) AS n_removed
         FROM kept ORDER BY doc_id""",
    "d_substring_sampled" ->
      s"""WITH $substringWindowsSql,
         sel AS (SELECT doc_id, idx, h FROM (SELECT doc_id, idx, md5(g) AS h FROM wnd)
                 WHERE ${HashDraw.hexU24Sql("h")} % 4 = 0),
         r AS (SELECT doc_id, idx,
                      row_number() OVER (PARTITION BY h ORDER BY doc_id, idx) AS rn
               FROM sel)
         SELECT doc_id, count(*) AS n_windows,
                count(*) FILTER (WHERE rn > 1) AS n_dup_windows
         FROM r GROUP BY 1 ORDER BY doc_id""",
    "t_mixture_weights" ->
      """WITH s AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
         d AS (SELECT sum(power(n_docs, 0.5)) AS denom FROM s)
         SELECT source, n_docs, round(power(n_docs, 0.5) / denom, 6) AS weight
         FROM s, d ORDER BY source""",
    "t_rolling_fp" ->
      """WITH c AS (
           SELECT doc_id, text,
                  [unicode(text[i]) for i in range(1, length(text)+1)]::BIGINT[] AS cs
           FROM documents),
         h AS (SELECT doc_id,
                      CASE WHEN length(text) < 8 THEN []::BIGINT[]
                           ELSE [list_reduce(cs[i:i+7],
                                             (a, x) -> (a*257 + x) % 1000000007)
                                 for i in range(1, length(text) - 6)] END AS hs
               FROM c)
         SELECT doc_id,
                len(hs) AS n_windows,
                list_min(hs) AS min_hash,
                CAST(len(list_distinct(hs)) AS BIGINT) AS n_distinct
         FROM h ORDER BY doc_id"""
  )
}
