package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Curation, HashDraw, Retrieval, Temporal, Vectors, Words}

/** Retrieval / temporal / training-shuffle query pack: BM25 lexical
  * retrieval, BPE merge-pair counting, the deterministic shard plan, and
  * the as-of join. Every query has a DuckDB oracle replicating the exact
  * integer arithmetic (or window semantics) step for step.
  */
object RetrievalOps {

  private val Bm25Terms = Seq("spark", "window", "hash", "vector")
  private val Bm25K = 15
  private val BpeTopK = 20
  private val BpeTrainMerges = 8
  private val NShards = 8
  private val ShardSalt = "shard:"

  /** Lexical top-k: the 15 docs most relevant to a 4-term probe query
    * under the integer-exact BM25 variant. The corpus token stream is
    * filtered to the query vocabulary before any shuffle; df/corpus stats
    * broadcast. */
  def qBm25TopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Retrieval.bm25TopK(Tables.documents(spark, dir), "doc_id", "text",
      Bm25Terms, Bm25K)
      .orderBy($"score_ppm".desc, $"doc_id")
  }

  /** Shared hybrid-retrieval front end: the BM25 lexical run over a
    * (query_id, term) table and the dense cosine run from probe vector
    * q−1 for each query q, both as (query_id, doc_id, rank), plus the
    * embedding frame for downstream diversity scoring.
    *
    * Single-query callers go through the MULTI-query retriever with a
    * 1-query set: identical scores to `Retrieval.bm25TopK` (the
    * documented contract of `Retrieval.bm25TopKMulti`), but the rank
    * window partitions by a REAL query column — attaching lit(1) and
    * partitioning by it constant-folds back to an unpartitioned
    * WindowExec, this doesn't, and the plan shape is the one a
    * many-query batch runs. The query fan-out ships as a map literal,
    * so the keyed-window shape costs no extra scheduling jobs at 1
    * query. On the dense side the probe_id stays the VECTOR id through
    * the search so the self-exclusion contract (a probe never retrieves
    * itself) keeps its meaning, then maps to the query id. */
  private def hybridRuns(spark: SparkSession, dir: String,
                         queries: Seq[(Long, String)])
      : (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    val lex = Retrieval.bm25TopKMulti(Tables.documents(spark, dir),
        "doc_id", "text", queries, "query_id", k = Bm25K)
      .select($"query_id", $"doc_id", $"rank")
    val vecs = Tables.vectors(spark, dir)
    val probeIds = queries.map(_._1 - 1L).distinct.sorted
    val probes = vecs.filter($"vec_id".isin(probeIds: _*))
      .select($"vec_id".as("probe_id"), $"v".as("p"))
    val dense = graft.operators.Similarity.bruteForceTopK(vecs, probes, k = Bm25K)
      .select(($"probe_id" + 1L).as("query_id"), $"vec_id".as("doc_id"), $"rank")
    (lex, dense, vecs)
  }

  /** The shared fuse→normalize→diversify tail of the hybrid chain (see
    * [[qHybridMmr]] for the contract): RRF top-10 per query, ppm-of-best
    * relevance, embedding join, greedy MMR with λ = 0.7, n = 5. */
  private def hybridMmrTail(lex: DataFrame, dense: DataFrame,
                            vecs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fused = Retrieval.rrfFuse(Seq(lex, dense), "query_id", "doc_id", "rank",
      k = 10)
    val cands = fused
      .withColumn("__mx",
        max(col("rrf_ppm")).over(Window.partitionBy(col("query_id"))))
      .withColumn("rel_ppm", expr("(1000000 * rrf_ppm) DIV __mx"))
      .join(vecs.select(col("vec_id").as("doc_id"), col("v")), "doc_id")
    graft.operators.Similarity
      .mmrSelect(cands, "query_id", "doc_id", "rel_ppm", "v",
        n = 5, lambdaPpm = 700000L)
  }

  /** Hybrid retrieval by reciprocal-rank fusion: the BM25 lexical run
    * (the sim_bm25_topk fixture query) and a dense cosine run (brute-force
    * top-15 for the probe embedding vec 0) fuse via `Retrieval.rrfFuse` —
    * per candidate Σ_runs 1000000 div (60 + rank), exact integer ppm, so
    * a doc surfaced by only one retriever still scores and rank
    * positions (not incomparable raw scores) carry the evidence. The
    * oracle replays both runs and the fused integer ranking step for
    * step. */
  def qHybridRrf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (lex, dense, _) = hybridRuns(spark, dir, Bm25Terms.map((1L, _)))
    Retrieval.rrfFuse(Seq(lex, dense), "query_id", "doc_id", "rank", k = 10)
      .orderBy($"rank")
  }

  /** The COMPOSED deployment shape, gated end to end: BM25 lexical run ⊕
    * dense cosine run → reciprocal-rank fusion → greedy-MMR diverse
    * selection — retrieve, fuse, diversify, exactly the chain a RAG
    * context packer runs. The fused top-10's integer rrf_ppm normalizes
    * per query to ppm-of-best (non-negative `div`, replayable), becomes
    * MMR's relevance, and the fused candidates join to their embeddings
    * for the diversity penalty (a candidate surfaced only by the lexical
    * run with no embedding row cannot be diversity-scored and drops —
    * the join IS that contract). λ = 0.7, n = 5; the oracle replays the
    * BM25 arithmetic, both rankings, the fused integer scores, the
    * normalization, and the sequential greedy loop via recursive CTE. */
  def qHybridMmr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (lex, dense, vecs) = hybridRuns(spark, dir, Bm25Terms.map((1L, _)))
    hybridMmrTail(lex, dense, vecs).orderBy($"sel_rank")
  }

  /** The composed hybrid→MMR chain at ≥ 2 queries — the shape that
    * exercises per-query parallelism end to end: BOTH retrieval runs,
    * the fusion rank, the per-query ppm-of-best normalization, and the
    * greedy MMR all partition by query_id (every window in the plan is
    * keyed — no single-partition WindowExec anywhere), so the chain's
    * shuffle width scales with the query batch instead of serializing
    * on one key. Query 1 is the sim_hybrid_mmr fixture (BM25 terms +
    * dense probe vec 0); query 2 uses the sim_bm25_multi overlap terms
    * and dense probe vec 1. The oracle replays both retrievals, the
    * fused integer scores per query, and the per-query greedy loops via
    * the same recursive CTE (written per-qid from the start). */
  def qHybridMmrMulti(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (lex, dense, vecs) = hybridRuns(spark, dir, Seq(
      (1L, "spark"), (1L, "window"), (1L, "hash"), (1L, "vector"),
      (2L, "hash"), (2L, "data"), (2L, "model")))
    hybridMmrTail(lex, dense, vecs).orderBy($"query_id", $"sel_rank")
  }

  /** Multi-query BM25: three probe queries scored in one pass — query 1
    * is the single-query fixture (its rows must agree with sim_bm25_topk),
    * query 2 overlaps it partially, query 3 mixes a stopword-common term
    * with a likely-absent one. Per-(doc, term) work is shared; the
    * per-term query fan-out ships as a map literal. */
  def qBm25Multi(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val queries = Seq(
      (1L, "spark"), (1L, "window"), (1L, "hash"), (1L, "vector"),
      (2L, "hash"), (2L, "data"), (2L, "model"),
      (3L, "the"), (3L, "zzzunseen"))
    Retrieval.bm25TopKMulti(Tables.documents(spark, dir), "doc_id",
        "text", queries, "query_id", k = Bm25K)
      .orderBy($"query_id", $"rank")
  }

  /** Tokenizer-fertility review queue: the 20 documents whose BPE
    * tokens-per-word ratio (exact integer ppm) is worst under the fixed
    * 12-merge table — the garbled-text curation filter. Shares the
    * t_bpe_apply encode; docs under 5 words drop as ratio noise. */
  def qFertility(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val merges = Seq(
      ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"),
      ("e", "r"), ("o", "n"), ("r", "e"), ("the", "</w>"), ("er", "</w>"),
      ("o", "u"), ("in", "g"))
    Retrieval.fertilityOutliers(Tables.documents(spark, dir), "doc_id", "text",
        merges, k = 20, minWords = 5L)
      .orderBy($"fertility_ppm".desc, $"doc_id")
  }

  /** Tokenizer training step 0: global BPE symbol-pair counts (chars +
    * `</w>` marker), top 20. Pair explosion runs over the distinct-word
    * vocabulary, weighted by word counts — never over the corpus. */
  def qBpePairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Retrieval.bpePairCounts(Tables.documents(spark, dir), "text", BpeTopK)
      .orderBy($"n_occurrences".desc, $"pair")
  }

  /** Tokenizer apply: per-doc BPE token counts under a fixed 12-merge
    * table seeded from common English digraphs — the inference half of
    * the tokenizer story (t_bpe_pairs is the training half). The greedy
    * encode loop runs once per distinct corpus word; documents join back
    * by broadcast. Hash-gated: the DuckDB oracle replays the greedy
    * lowest-(rank, position) merge loop as a recursive CTE over the
    * symbol list (one merge per recursion step; the fixpoint row per word
    * is the one with the minimal symbol count), plus the hand-computed
    * RetrievalSpec encodings. */
  def qBpeApply(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val merges = Seq(
      ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"),
      ("e", "r"), ("o", "n"), ("r", "e"), ("the", "</w>"), ("er", "</w>"),
      ("o", "u"), ("in", "g"))
    Retrieval.bpeTokenCounts(Tables.documents(spark, dir), "doc_id", "text", merges)
      .orderBy($"doc_id")
  }

  /** Tokenizer training: the first 8 learned BPE merges over the corpus
    * (count pairs → take the most frequent, ties to the smallest "a b"
    * string → greedily merge it everywhere → repeat). Corpus-sized work
    * happens once (the vocabulary collapse); each iteration touches only
    * the collapsed vocabulary frame. The oracle unrolls the identical 8
    * iterations as chained CTEs — each word rides as a `|sym|`-wrapped
    * string so one `replace()` call IS the greedy left-to-right
    * non-overlapping merge. */
  def qBpeTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Retrieval.bpeTrain(Tables.documents(spark, dir), "text", nMerges = BpeTrainMerges)
      .zipWithIndex
      .map { case ((a, b, n), i) => (i + 1, a, b, n) }
      .toDF("merge_rank", "left_sym", "right_sym", "n_occurrences")
      .orderBy($"merge_rank")
  }

  /** The [[qBpeTrain]] oracle: `nMerges` unrolled count→argmax→merge
    * iterations. Words travel as strings with every symbol wrapped in
    * `|…|` sentinels (symbols are whitespace-free and the fixture corpus
    * has no `|`), so merging pair (a, b) is `replace(s, '|a||b|',
    * '|ab|')` — SQL replace is left-to-right and non-overlapping, exactly
    * the greedy rule, and the wrap keeps matches symbol-aligned. */
  private def bpeTrainOracle(nMerges: Int): String = {
    val a = "string_split(pair, ' ')[1]"
    val b = "string_split(pair, ' ')[2]"
    val iters = (1 to nMerges).map { i =>
      s"""p$i AS (SELECT n, unnest([sy[j] || ' ' || sy[j+1] for j in range(1, len(sy))]) AS pair
                FROM (SELECT string_split(trim(s, '|'), '||') AS sy, n FROM v${i - 1})),
         b$i AS (SELECT pair, CAST(sum(n) AS BIGINT) AS cnt FROM p$i GROUP BY 1
                 ORDER BY cnt DESC, pair LIMIT 1),
         v$i AS (SELECT replace(s, '|' || $a || '||' || $b || '|',
                                '|' || $a || $b || '|') AS s, n
                 FROM v${i - 1}, b$i)"""
    }.mkString(",\n")
    val out = (1 to nMerges).map(i =>
      s"""SELECT $i AS merge_rank, $a AS left_sym, $b AS right_sym,
                 cnt AS n_occurrences FROM b$i""")
      .mkString("\n UNION ALL ")
    s"""WITH wt AS (SELECT unnest(${Words.wordsSql("lower(text)")}) AS w
                    FROM documents),
       vv AS (SELECT w, count(*) AS n FROM wt GROUP BY 1),
       v0 AS (SELECT array_to_string(
                       list_transform(
                         list_append([w[i] for i in range(1, length(w)+1)], '</w>'),
                         x -> '|' || x || '|'), '') AS s, n
              FROM vv),
       $iters
       SELECT * FROM ($out) ORDER BY merge_rank"""
  }

  /** Deterministic training-shuffle shard plan: md5-derived shard ids and
    * within-shard permutation, summarized per shard as (count, md5 of the
    * ordered id list) — the perm_md5 pins the exact row permutation the
    * shard writer would emit, not just the sizes. */
  def qShardPlan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Curation.shardAssign(
      Tables.documents(spark, dir).select($"doc_id"), "doc_id", NShards, ShardSalt)
      .groupBy($"shard_id")
      .agg(
        count(lit(1)).as("n_docs"),
        md5(array_join(
          transform(
            array_sort(collect_list(struct($"sort_key", $"doc_id"))),
            p => p("doc_id").cast("string")),
          ",")).as("perm_md5"))
      .orderBy($"shard_id")
  }

  /** Point-in-time enrichment: every purchase event joined to the same
    * user's most recent click at or before the purchase (backward
    * inclusive as-of; ties on ts break to the greatest event_id) — the
    * attribution lookup every feature store performs. Purchases with no
    * prior click keep null click columns. Single key shuffle, linear — no
    * (purchase × earlier-click) pair blowup. */
  def qAsofJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id", $"ts".as("pts"))
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"ts", $"event_id",
        Micros.micros($"value").as("value_micros"))
    Temporal.asofJoin(purchases, clicks,
      leftKey = "user_id", rightKey = "user_id",
      leftTs = "pts", rightTs = "ts",
      tieCol = "event_id", payloadCols = Seq("event_id", "ts", "value_micros"))
      .select($"purchase_id", $"user_id",
        unix_millis($"pts").as("purchase_ms"),
        $"event_id".as("click_id"),
        unix_millis($"ts").as("click_ms"),
        $"value_micros".as("click_value_micros"))
      .orderBy($"purchase_id")
  }

  /** Incident-window range join: every event inside the 30-minute window
    * opened by an error event of the SAME user, aggregated per window —
    * the time-containment join as a bucketized equi-join (10-minute
    * buckets, so each window explodes to ≤ 4 bucket rows) instead of the
    * nested-loop a non-equi join would plan. The oracle runs the direct
    * range join — bucketization must be invisible in the result. */
  def qRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"event_id", $"user_id", unix_millis($"ts").as("ms"),
        Micros.micros($"value").as("value_micros"),
        $"event_type")
    val windows = ev.filter($"event_type" === "error")
      .select($"event_id".as("iid"), $"user_id",
        $"ms".as("t0"), ($"ms" + 1800000L).as("t1"))
    Temporal.rangeJoin(
      ev.select($"event_id", $"user_id", $"ms", $"value_micros"), "ms",
      windows, "t0", "t1", Seq("user_id"), bucketMs = 600000L)
      .groupBy($"iid")
      .agg(count(lit(1)).as("n_events"),
        sum($"value_micros").as("total_value_micros"))
      .orderBy($"iid")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_bm25_topk" -> (qBm25TopK _),
    "sim_bm25_multi" -> (qBm25Multi _),
    "sim_hybrid_rrf" -> (qHybridRrf _),
    "sim_hybrid_mmr" -> (qHybridMmr _),
    "sim_hybrid_mmr_multi" -> (qHybridMmrMulti _),
    "t_bpe_pairs" -> (qBpePairs _),
    "t_fertility" -> (qFertility _),
    "t_bpe_apply" -> (qBpeApply _),
    "t_bpe_train" -> (qBpeTrain _),
    "t_shard_plan" -> (qShardPlan _),
    "q_asof_join" -> (qAsofJoin _),
    "q_range_join" -> (qRangeJoin _)
  )

  /** The fixed-12-merge BPE word-encode CTE chain (distinct-word
    * vocabulary → char-symbol init → greedy best-rank merge recursion →
    * per-word token count + the doc-word explode) shared by the
    * t_bpe_apply and t_fertility oracles. */
  private val bpeEncodeCtes: String =
    s"""mt(pairs) AS (SELECT ['t h','th e','i n','a n','an d','e r','o n','r e',
                               'the </w>','er </w>','o u','in g']),
         wt AS (SELECT unnest(${Words.wordsSql("lower(text)")}) AS w
                FROM documents),
         v AS (SELECT DISTINCT w FROM wt),
         init AS (SELECT w, list_append([w[i] for i in range(1, length(w)+1)],
                                        '</w>') AS syms
                  FROM v),
         enc AS (
           SELECT w, syms FROM init
           UNION ALL
           SELECT w,
                  list_concat(list_concat(syms[1:best[2]-1],
                                          [syms[best[2]] || syms[best[2]+1]]),
                              syms[best[2]+2:]) AS syms
           FROM (
             SELECT w, syms,
                    (list_sort([[list_position(pairs, syms[i] || ' ' || syms[i+1]), i]
                                for i in range(1, len(syms))
                                if list_position(pairs, syms[i] || ' ' || syms[i+1]) > 0]
                    ))[1] AS best
             FROM enc, mt)
           WHERE best IS NOT NULL),
         wtok AS (SELECT w, min(len(syms)) AS wtok FROM enc GROUP BY 1),
         dw AS (SELECT doc_id, unnest(${Words.wordsSql("lower(text)")}) AS w
                FROM documents)"""

  /** The shared BM25-lexical + dense-cosine -> reciprocal-rank-fusion
    * CTE chain (through the fused `ranked` frame) - the sim_hybrid_rrf
    * oracle publishes it directly; the sim_hybrid_mmr oracle appends
    * the normalization + recursive-CTE greedy-MMR replay on top. */
  private val hybridRrfCtes: String =
    s"""d AS (SELECT doc_id, ${Words.tokensSql("lower(text)")} AS ws
                    FROM documents),
         toks AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl,
                         list_filter(ws, w -> w IN ('spark','window','hash','vector')) AS hit
                  FROM d),
         stats AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS t FROM toks),
         tfc AS (SELECT doc_id, dl, u.term, count(*) AS tf
                 FROM (SELECT doc_id, dl, unnest(hit) AS term FROM toks
                       WHERE len(hit) > 0) u
                 GROUP BY 1, 2, 3),
         dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY 1),
         sc AS (SELECT doc_id,
                       (1000000 * (n - df + 1)) // (df + 1) AS idf_ppm,
                       tf,
                       250000 + (750 * ((1000000 * dl * n) // t)) // 1000 AS inner_ppm
                FROM tfc JOIN dfc USING (term) CROSS JOIN stats),
         co AS (SELECT doc_id,
                       (idf_ppm * ((tf * 2200 * 1000000000) //
                                   (tf * 1000000 + (1200 * inner_ppm) // 1000)))
                         // 1000000 AS contrib
                FROM sc),
         bm AS (SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS score_ppm
                FROM co GROUP BY doc_id
                ORDER BY score_ppm DESC, doc_id LIMIT 15),
         lex AS (SELECT doc_id,
                        row_number() OVER (ORDER BY score_ppm DESC, doc_id) AS r
                 FROM bm),
         v AS (${Tables.VectorsSql}),
         p AS (SELECT e AS pe FROM v WHERE vec_id = 0),
         scored AS (
           SELECT vec_id,
                  ${Vectors.cosineSql("pe", "e", LlmOps.EmbDim, 4)} AS cosine
           FROM v, p WHERE vec_id <> 0),
         dense AS (
           SELECT doc_id, r FROM (
             SELECT vec_id AS doc_id,
                    row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS r
             FROM scored) WHERE r <= 15),
         runs AS (SELECT doc_id, r FROM lex
                  UNION ALL SELECT doc_id, r FROM dense),
         fused AS (SELECT doc_id, count(*) AS n_runs,
                          CAST(sum(1000000 // (60 + r)) AS BIGINT) AS rrf_ppm
                   FROM runs GROUP BY doc_id),
         ranked AS (SELECT doc_id, n_runs, rrf_ppm,
                           row_number() OVER (ORDER BY rrf_ppm DESC, doc_id) AS rank
                    FROM fused)"""

  /** The greedy-MMR recursive-CTE replay + final per-query unroll — ONE
    * copy shared by the sim_hybrid_mmr and sim_hybrid_mmr_multi oracles
    * (it was written per-qid from the start, so the single-query oracle
    * runs it with a one-row qid domain). Expects a `cand(qid, id, rel,
    * e)` CTE upstream; a change to the MMR/ppm arithmetic here lands in
    * both gates or neither — two hand-synced copies previously meant a
    * one-sided edit would hash-red one query and silently diverge the
    * other. */
  private val MmrGreedyReplaySql: String =
    s"""
         ps AS (
           SELECT a.qid, a.id AS a, b.id AS b,
                  CAST(round(${Vectors.cosineSql("a.e", "b.e", LlmOps.EmbDim, 6)} * 1000000, 0)
                       AS BIGINT) AS sp
           FROM cand a JOIN cand b ON a.qid = b.qid AND a.id <> b.id),
         sel AS (
           SELECT qid, 0 AS step, CAST([] AS BIGINT[]) AS chosen
           FROM (SELECT DISTINCT qid FROM cand)
           UNION ALL
           SELECT sel.qid, step + 1,
                  list_append(chosen, (
                    SELECT id FROM (
                      SELECT c.id,
                             700000 * c.rel - 300000 *
                               COALESCE((SELECT max(sp) FROM ps
                                         WHERE ps.qid = c.qid AND ps.a = c.id
                                           AND list_contains(sel.chosen, ps.b)), 0)
                               AS score
                      FROM cand c
                      WHERE c.qid = sel.qid
                        AND NOT list_contains(sel.chosen, c.id)
                      ORDER BY score DESC, c.id ASC LIMIT 1)))
           FROM sel
           WHERE step < 5
             AND EXISTS (SELECT 1 FROM cand c WHERE c.qid = sel.qid
                         AND NOT list_contains(sel.chosen, c.id))),
         best AS (
           SELECT qid, chosen FROM sel
           QUALIFY row_number() OVER (PARTITION BY qid ORDER BY step DESC) = 1)
         SELECT qid AS query_id, CAST(r AS INTEGER) AS sel_rank,
                chosen[r] AS doc_id
         FROM best, range(1, 6) t(r)
         WHERE r <= len(chosen)
         ORDER BY query_id, sel_rank"""


  /** The sim_hybrid_mmr_multi oracle: the multi-query retrieval CTEs
    * (BM25 over the 2-query term table, dense runs from the per-query
    * probe-vector map) feeding the SAME per-qid recursive greedy-MMR
    * replay the single-query oracle uses (that recursion was written
    * per-qid from the start — only the retrieval front end changes). */
  private val hybridMmrMultiOracle: String =
    s"""WITH RECURSIVE
         q(query_id, term) AS (VALUES
           (CAST(1 AS BIGINT), 'spark'), (1, 'window'), (1, 'hash'), (1, 'vector'),
           (2, 'hash'), (2, 'data'), (2, 'model')),
         d AS (SELECT doc_id, ${Words.tokensSql("lower(text)")} AS ws
               FROM documents),
         toks AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl,
                         list_filter(ws, w -> w IN ('spark','window','hash',
                                                    'vector','data','model')) AS hit
                  FROM d),
         stats AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS t FROM toks),
         tfc AS (SELECT doc_id, dl, u.term, count(*) AS tf
                 FROM (SELECT doc_id, dl, unnest(hit) AS term FROM toks
                       WHERE len(hit) > 0) u
                 GROUP BY 1, 2, 3),
         dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY 1),
         sc AS (SELECT doc_id, term,
                       (1000000 * (n - df + 1)) // (df + 1) AS idf_ppm,
                       tf,
                       250000 + (750 * ((1000000 * dl * n) // t)) // 1000 AS inner_ppm
                FROM tfc JOIN dfc USING (term) CROSS JOIN stats),
         co AS (SELECT doc_id, term,
                       (idf_ppm * ((tf * 2200 * 1000000000) //
                                   (tf * 1000000 + (1200 * inner_ppm) // 1000)))
                         // 1000000 AS contrib
                FROM sc),
         pq AS (SELECT q.query_id, co.doc_id,
                       CAST(sum(contrib) AS BIGINT) AS score_ppm
                FROM co JOIN q ON co.term = q.term
                GROUP BY 1, 2),
         lex AS (SELECT query_id, doc_id, r FROM (
                   SELECT query_id, doc_id,
                          row_number() OVER (PARTITION BY query_id
                                             ORDER BY score_ppm DESC, doc_id) AS r
                   FROM pq) WHERE r <= 15),
         v AS (${Tables.VectorsSql}),
         pm(query_id, pvec) AS (VALUES (CAST(1 AS BIGINT), 0), (2, 1)),
         p AS (SELECT pm.query_id, pm.pvec, v.e AS pe
               FROM v JOIN pm ON v.vec_id = pm.pvec),
         scored AS (
           SELECT p.query_id, v.vec_id,
                  ${Vectors.cosineSql("pe", "e", LlmOps.EmbDim, 4)} AS cosine
           FROM v, p WHERE v.vec_id <> p.pvec),
         dense AS (
           SELECT query_id, doc_id, r FROM (
             SELECT query_id, vec_id AS doc_id,
                    row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, vec_id ASC) AS r
             FROM scored) WHERE r <= 15),
         runs AS (SELECT query_id, doc_id, r FROM lex
                  UNION ALL SELECT query_id, doc_id, r FROM dense),
         fused AS (SELECT query_id, doc_id, count(*) AS n_runs,
                          CAST(sum(1000000 // (60 + r)) AS BIGINT) AS rrf_ppm
                   FROM runs GROUP BY 1, 2),
         ranked AS (SELECT query_id, doc_id, rrf_ppm,
                           row_number() OVER (PARTITION BY query_id
                                              ORDER BY rrf_ppm DESC, doc_id) AS rank
                    FROM fused),
         cand0 AS (SELECT query_id, doc_id, rrf_ppm FROM ranked WHERE rank <= 10),
         mx AS (SELECT query_id, max(rrf_ppm) AS m FROM cand0 GROUP BY 1),
         cand AS (SELECT c.query_id AS qid, c.doc_id AS id,
                         (1000000 * c.rrf_ppm) // mx.m AS rel, v.e
                  FROM cand0 c JOIN v ON v.vec_id = c.doc_id
                  JOIN mx ON mx.query_id = c.query_id),""" +
      MmrGreedyReplaySql

  // the hybrid-chain oracles read embeddings too: route them through the
  // same valid-vector guard as the LlmOps family (one definition)
  val oracles: Map[String, String] = LlmOps.guardVecs(Map(
    "sim_bm25_topk" ->
      s"""WITH d AS (SELECT doc_id, ${Words.tokensSql("lower(text)")} AS ws
                    FROM documents),
         toks AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl,
                         list_filter(ws, w -> w IN ('spark','window','hash','vector')) AS hit
                  FROM d),
         stats AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS t FROM toks),
         tfc AS (SELECT doc_id, dl, u.term, count(*) AS tf
                 FROM (SELECT doc_id, dl, unnest(hit) AS term FROM toks
                       WHERE len(hit) > 0) u
                 GROUP BY 1, 2, 3),
         dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY 1),
         sc AS (SELECT doc_id,
                       (1000000 * (n - df + 1)) // (df + 1) AS idf_ppm,
                       tf,
                       250000 + (750 * ((1000000 * dl * n) // t)) // 1000 AS inner_ppm
                FROM tfc JOIN dfc USING (term) CROSS JOIN stats),
         co AS (SELECT doc_id,
                       (idf_ppm * ((tf * 2200 * 1000000000) //
                                   (tf * 1000000 + (1200 * inner_ppm) // 1000)))
                         // 1000000 AS contrib
                FROM sc)
         SELECT doc_id, count(*) AS n_terms_matched,
                CAST(sum(contrib) AS BIGINT) AS score_ppm
         FROM co GROUP BY doc_id
         ORDER BY score_ppm DESC, doc_id LIMIT 15""",
    "sim_hybrid_rrf" -> s"""WITH $hybridRrfCtes
         SELECT CAST(1 AS BIGINT) AS query_id, doc_id, n_runs, rrf_ppm, rank
         FROM ranked WHERE rank <= 10
         ORDER BY rank""",
    "sim_hybrid_mmr" -> (s"""WITH RECURSIVE $hybridRrfCtes,
         cand0 AS (SELECT doc_id, rrf_ppm FROM ranked WHERE rank <= 10),
         mx AS (SELECT max(rrf_ppm) AS m FROM cand0),
         cand AS (SELECT CAST(1 AS BIGINT) AS qid, c.doc_id AS id,
                         (1000000 * c.rrf_ppm) // mx.m AS rel, v.e
                  FROM cand0 c JOIN v ON v.vec_id = c.doc_id CROSS JOIN mx),""" +
      MmrGreedyReplaySql),
    "sim_hybrid_mmr_multi" -> hybridMmrMultiOracle,
    "sim_bm25_multi" ->
      s"""WITH q(query_id, term) AS (VALUES
           (CAST(1 AS BIGINT), 'spark'), (1, 'window'), (1, 'hash'), (1, 'vector'),
           (2, 'hash'), (2, 'data'), (2, 'model'),
           (3, 'the'), (3, 'zzzunseen')),
         d AS (SELECT doc_id, ${Words.tokensSql("lower(text)")} AS ws
               FROM documents),
         toks AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl,
                         list_filter(ws, w -> w IN ('spark','window','hash','vector',
                                                    'data','model','the','zzzunseen')) AS hit
                  FROM d),
         stats AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS t FROM toks),
         tfc AS (SELECT doc_id, dl, u.term, count(*) AS tf
                 FROM (SELECT doc_id, dl, unnest(hit) AS term FROM toks
                       WHERE len(hit) > 0) u
                 GROUP BY 1, 2, 3),
         dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY 1),
         sc AS (SELECT doc_id, term,
                       (1000000 * (n - df + 1)) // (df + 1) AS idf_ppm,
                       tf,
                       250000 + (750 * ((1000000 * dl * n) // t)) // 1000 AS inner_ppm
                FROM tfc JOIN dfc USING (term) CROSS JOIN stats),
         co AS (SELECT doc_id, term,
                       (idf_ppm * ((tf * 2200 * 1000000000) //
                                   (tf * 1000000 + (1200 * inner_ppm) // 1000)))
                         // 1000000 AS contrib
                FROM sc),
         pq AS (SELECT q.query_id, co.doc_id, count(*) AS n_terms_matched,
                       CAST(sum(contrib) AS BIGINT) AS score_ppm
                FROM co JOIN q ON co.term = q.term
                GROUP BY 1, 2),
         ranked AS (SELECT query_id, doc_id, n_terms_matched, score_ppm,
                           row_number() OVER (PARTITION BY query_id
                                              ORDER BY score_ppm DESC, doc_id) AS rank
                    FROM pq)
         SELECT query_id, doc_id, n_terms_matched, score_ppm, rank
         FROM ranked WHERE rank <= 15
         ORDER BY query_id, rank""",
    "t_bpe_pairs" ->
      s"""WITH wt AS (SELECT unnest(${Words.tokensSql("lower(text)")}) AS wd
                     FROM documents),
         v AS (SELECT wd, count(*) AS n FROM wt WHERE wd <> '' GROUP BY 1),
         s AS (SELECT n, list_append([wd[i] for i in range(1, length(wd) + 1)],
                                     '</w>') AS sy
               FROM v),
         p AS (SELECT n, unnest([sy[i] || ' ' || sy[i+1]
                                 for i in range(1, len(sy))]) AS pair
               FROM s)
         SELECT pair, CAST(sum(n) AS BIGINT) AS n_occurrences
         FROM p GROUP BY 1 ORDER BY n_occurrences DESC, pair LIMIT 20""",
    "t_bpe_apply" -> s"""WITH RECURSIVE
         $bpeEncodeCtes
         SELECT doc_id, count(*) AS n_words, CAST(sum(wtok) AS BIGINT) AS n_bpe_tokens
         FROM dw
         JOIN wtok USING (w)
         GROUP BY doc_id ORDER BY doc_id""",
    "t_fertility" -> s"""WITH RECURSIVE
         $bpeEncodeCtes,
         f AS (SELECT doc_id, count(*) AS n_words,
                      CAST(sum(wtok) AS BIGINT) AS n_bpe_tokens
               FROM dw
               JOIN wtok USING (w)
               GROUP BY doc_id)
         SELECT doc_id, n_words, n_bpe_tokens,
                CAST((1000000 * n_bpe_tokens) // n_words AS BIGINT) AS fertility_ppm
         FROM f WHERE n_words >= 5
         ORDER BY fertility_ppm DESC, doc_id LIMIT 20""",
    "t_bpe_train" -> bpeTrainOracle(BpeTrainMerges),
    "t_shard_plan" ->
      s"""WITH a AS (SELECT doc_id, md5('shard:' || doc_id) AS sk FROM documents),
         b AS (SELECT doc_id, sk,
                      ${HashDraw.hexU24Sql("sk")} % 8 AS shard_id
               FROM a)
         SELECT shard_id, count(*) AS n_docs,
                md5(string_agg(doc_id::VARCHAR, ',' ORDER BY sk, doc_id)) AS perm_md5
         FROM b GROUP BY 1 ORDER BY shard_id""",
    "q_asof_join" ->
      s"""WITH m AS (
           SELECT p.event_id AS purchase_id, p.user_id,
                  epoch_ms(p.ts) AS purchase_ms,
                  c.event_id AS click_id, epoch_ms(c.ts) AS click_ms,
                  ${Micros.sql("c.value")} AS cvm,
                  row_number() OVER (PARTITION BY p.event_id
                                     ORDER BY c.ts DESC, c.event_id DESC) AS rn
           FROM (SELECT * FROM events WHERE event_type = 'purchase') p
           LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
             ON c.user_id = p.user_id AND c.ts <= p.ts)
         SELECT purchase_id, user_id, purchase_ms,
                click_id, click_ms AS click_ms,
                cvm AS click_value_micros
         FROM m WHERE rn = 1 ORDER BY purchase_id""",
    "q_range_join" ->
      s"""WITH e AS (
           SELECT event_id, user_id, epoch_ms(ts) AS ms,
                  ${Micros.sql("value")} AS value_micros
           FROM events),
         win AS (
           SELECT event_id AS iid, user_id,
                  epoch_ms(ts) AS t0, epoch_ms(ts) + 1800000 AS t1
           FROM events WHERE event_type = 'error')
         SELECT iid, count(*) AS n_events,
                CAST(sum(value_micros) AS BIGINT) AS total_value_micros
         FROM win JOIN e
           ON e.user_id = win.user_id AND e.ms >= win.t0 AND e.ms < win.t1
         GROUP BY 1 ORDER BY iid"""
  ))
}
