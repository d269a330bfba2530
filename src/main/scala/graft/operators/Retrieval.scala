package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Lexical retrieval and tokenizer-training operators for corpus curation:
  * BM25 term scoring (finding the training docs most relevant to a probe
  * query — the lexical complement to embedding ANN in `Similarity`) and
  * BPE merge-pair counting (the inner loop of tokenizer training).
  *
  * Scale discipline:
  *  - BM25 filters the corpus token stream to the query vocabulary BEFORE
  *    any shuffle, so the (doc, term) aggregation is query-bounded, not
  *    corpus-bounded; corpus stats (N, total tokens) and per-term document
  *    frequencies are 1-row / |terms|-row broadcasts — the corpus text
  *    never shuffles;
  *  - pair counting collapses the corpus to its vocabulary FIRST (one
  *    map-side-combined word count), then explodes character pairs over
  *    distinct words only — pair volume is vocabulary-bounded, which is
  *    what makes BPE training tractable on a 100 TB corpus.
  *
  * Both scores are pure integer arithmetic (`div`, scaled ppm) — results
  * are bit-identical across engines and aggregation orders. The three
  * intermediates whose products can exceed signed 64-bit (the dlnorm
  * numerator 10^6·dl·N, the saturation numerator tf·(1000+k1)·10^9, and
  * the idf×sat product) are computed in DECIMAL(38,0); their quotients,
  * and the final per-doc scores, fit in signed 64-bit to N ≈ 10^12 docs
  * (`div` on decimals is IntegralDivide and still returns BIGINT, so the
  * output schema is unchanged).
  */
object Retrieval {

  /** BM25 saturation constants k1 = 1.2 and b = 0.75, in milli-units. */
  private val K1Milli = 1200L
  private val BMilli = 750L

  /** Top-k documents for a bag-of-terms query under a log-free BM25
    * variant, integer-exact end to end.
    *
    * Per matched (doc, term):
    * {{{
    *   idf_ppm    = (10^6 · (N − df + 1)) div (df + 1)        // RSJ idf, log-free
    *   dlnorm_ppm = (10^6 · dl · N) div T                      // dl / avgdl
    *   inner_ppm  = (10^6 − 1000·b‰) + (b‰ · dlnorm_ppm) div 1000
    *   denom_ppm  = 10^6·tf + (k1‰ · inner_ppm) div 1000
    *   sat_ppm    = (tf · (1000 + k1‰) · 10^9) div denom_ppm
    *   contrib    = (idf_ppm · sat_ppm) div 10^6
    * }}}
    * where N = corpus size, T = total tokens, dl = doc length, df/tf the
    * usual frequencies, k1‰ = 1200 and b‰ = 750 the BM25 constants in
    * milli-units. The saturation term is the standard
    * tf·(k1+1)/(tf + k1·((1−b)+b·dl/avgdl)); the idf is the
    * Robertson–Spärck-Jones form with the log dropped — monotone in df per
    * term (zero float surface), but because rare terms weigh relatively
    * more than under log-idf, multi-term score sums are a ranking variant
    * of BM25, not rank-identical to it.
    *
    * Returns (id, n_terms_matched, score_ppm) for the k highest-scoring
    * docs, ties broken by ascending id.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               terms0: Seq[String], k: Int): DataFrame = {
    require(terms0.nonEmpty && k > 0)
    // corpus tokens are lower()'d, so query terms must normalize the same
    // way — a verbatim 'Transformer' would silently match nothing;
    // distinct so 'Spark' + 'spark' can't double-count a tf.
    // Locale.ROOT: Spark's lower() is locale-independent, while a bare
    // String.toLowerCase follows the JVM default locale (tr-TR maps
    // 'TITLE' to dotless-ı 'tıtle' — the term would silently match zero
    // docs on a Turkish-locale driver)
    val terms = terms0.map(_.toLowerCase(java.util.Locale.ROOT)).distinct
    bm25Contribs(docs, idCol, textCol, terms)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_terms_matched"), sum(col("contrib")).as("score_ppm"))
      .orderBy(col("score_ppm").desc, col("id"))
      .limit(k)
      .select(col("id").as(idCol), col("n_terms_matched"), col("score_ppm"))
  }

  /** Multi-query BM25: top-k documents for EVERY query in a driver-local
    * (query_id, term) set, with the per-(doc, term) arithmetic of
    * [[bm25TopK]] — a query's rows here equal the single-query call with
    * its terms, ranked per query with ties to the ascending doc id.
    *
    * The corpus is scanned once for the union vocabulary of all queries,
    * and each (doc, term) contribution fans out to the queries holding
    * the term through a map literal (`explode(element_at(map, term))`),
    * so 1000 queries sharing a vocabulary pay the corpus scan once and no
    * job runs to collect or broadcast a query table. The rank is the
    * keyed [[TopK.cut]] on a real query column, the plan shape a
    * many-query batch runs even at one query.
    *
    * Returns (qidCol, idCol, n_terms_matched, score_ppm, rank ≤ k).
    */
  def bm25TopKMulti(docs: DataFrame, idCol: String, textCol: String,
                    queries: Seq[(Long, String)], qidCol: String,
                    k: Int): DataFrame = {
    require(queries.nonEmpty && k > 0)
    // lower() beside the corpus tokens (Locale.ROOT — see [[bm25TopK]]),
    // distinct so case-variant duplicates within a query can't
    // double-count a term
    val qn = queries
      .map { case (q, t) => (q, t.toLowerCase(java.util.Locale.ROOT)) }.distinct
    val termToQids: Map[String, Seq[Long]] =
      qn.groupBy(_._2).map { case (t, qs) => (t, qs.map(_._1).sorted) }
    val scored = bm25Contribs(docs, idCol, textCol, termToQids.keys.toSeq.sorted)
      .select(col("id"), col("contrib"),
        explode(element_at(typedLit(termToQids), col("term"))).as("__qid"))
      .groupBy(col("__qid"), col("id"))
      .agg(count(lit(1)).as("n_terms_matched"), sum(col("contrib")).as("score_ppm"))
    TopK.cut(scored, k, Seq(col("__qid")), Seq(col("score_ppm").desc, col("id")), "rank")
      .select(col("__qid").as(qidCol), col("id").as(idCol),
        col("n_terms_matched"), col("score_ppm"), col("rank"))
  }

  /** The BM25 front end of both retrievers: per-(doc, term) contributions
    * (id, term, contrib) for the lower-case `vocab`, under the formula
    * documented on [[bm25TopK]]. The corpus token stream is filtered to
    * the vocabulary before any shuffle, so the (doc, term) aggregation is
    * query-bounded; document frequencies and the 1-row corpus stats
    * (n, t) broadcast. */
  private def bm25Contribs(docs: DataFrame, idCol: String, textCol: String,
                           vocab: Seq[String]): DataFrame = {
    val ws = Words.tokens(lower(col(textCol)))
    // pinned (lazily): corpus stats AND tf both consume the per-doc
    // (id, dl, hits) frame — without the checkpoint each consumer re-runs
    // the regex tokenize over the full corpus text (the dominant cost;
    // measured 2 scans per run). The materialized frame is narrow: a
    // long dl plus only query-vocabulary hits per doc — a tiny fraction
    // of corpus bytes even at 100 TB.
    val perDoc = Checkpoint.cut(docs.select(col(idCol).as("id"), ws.as("__ws"))
      .select(col("id"), size(col("__ws")).cast("long").as("dl"),
        // query-vocabulary filter BEFORE explode: only query-term hits
        // ever leave the scan
        filter(col("__ws"), w => w.isInCollection(vocab)).as("__hit")))
    val stats = perDoc.agg(count(lit(1)).as("n"), sum(col("dl")).as("t"))
    val tf = perDoc
      .filter(size(col("__hit")) > 0)
      .select(col("id"), col("dl"), explode(col("__hit")).as("term"))
      .groupBy(col("id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // document frequencies only depend on which docs contain which vocab
    // terms, so they come from the tf frame
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .select(col("id"), col("term"),
        expr("(1000000L * (n - df + 1)) div (df + 1)").as("idf_ppm"),
        expr("(cast(1000000 as decimal(38,0)) * dl * n) div t").as("dlnorm_ppm"),
        col("tf"))
      .select(col("id"), col("term"), col("idf_ppm"), col("tf"),
        expr(s"(1000000L - ${BMilli}L * 1000L) + (${BMilli}L * dlnorm_ppm) div 1000L")
          .as("inner_ppm"))
      .select(col("id"), col("term"), col("idf_ppm"),
        expr(s"(cast(tf as decimal(38,0)) * ${1000L + K1Milli}L * 1000000000L) div " +
          s"(tf * 1000000L + (${K1Milli}L * inner_ppm) div 1000L)")
          .as("sat_ppm"))
      .select(col("id"), col("term"),
        expr("(cast(idf_ppm as decimal(38,0)) * sat_ppm) div 1000000L").as("contrib"))
  }

  /** The BPE family's corpus word stream: every lower-cased
    * [[Words.words]] word of `textCol` as `w`, beside the `keep` columns. */
  private def corpusWords(docs: DataFrame, textCol: String, keep: Column*): DataFrame =
    docs.select(keep :+ explode(Words.words(lower(col(textCol)))).as("w"): _*)

  /** Greedy BPE encode of one word under a ranked merge table — the
    * standard lowest-rank-first loop (Sennrich et al. 2016 `apply_bpe`):
    * start from characters + `</w>`, repeatedly merge the adjacent pair
    * with the smallest rank until no pair is ranked. Pure function, used
    * once per DISTINCT word (see [[bpeTokenCounts]]). */
  def bpeEncodeWord(word: String, ranks: Map[(String, String), Int]): Vector[String] = {
    // split by CODE POINTS, not Java chars: `word.map(_.toString)` iterates
    // UTF-16 code units, so an astral-plane char (emoji, math letters —
    // real web-corpus content) became two lone-surrogate symbols and this
    // JVM fast path silently counted 2 tokens where the Catalyst substr
    // split and the SQL replay (both codepoint-based) count 1
    // (hostile-DOCS wave find).
    var syms = word.codePoints().toArray
      .map(cp => new String(Character.toChars(cp))).toVector :+ "</w>"
    var done = syms.size < 2
    while (!done) {
      val best = syms.indices.dropRight(1)
        .flatMap(i => ranks.get((syms(i), syms(i + 1))).map(r => (r, i)))
        .sortBy(identity).headOption
      best match {
        case Some((_, i)) =>
          syms = (syms.take(i) :+ (syms(i) + syms(i + 1))) ++ syms.drop(i + 2)
          done = syms.size < 2
        case None => done = true
      }
    }
    syms
  }

  /** Tokenizer APPLY over the corpus: per-document BPE token counts under
    * a ranked merge table — the inference half of the tokenizer story
    * ([[bpePairCounts]] is the training half), and the real token counter
    * behind every "token budget" decision upstream (packing, mixing,
    * length filtering).
    *
    * Vocabulary-first, like training: the corpus collapses to its
    * distinct words (one map-side-combined shuffle, vocabulary-bounded),
    * the greedy merge loop runs ONCE per distinct word inside
    * `mapPartitions` over that small frame (merge ranks ship in the task
    * closure — merge tables are KBs–MBs), and documents join back to the
    * per-word token counts keyed on the word. A 100 TB corpus pays the
    * encode loop |vocab| times, not |tokens| times, and the corpus text
    * never shuffles.
    *
    * The join-back broadcast is CAPPED (same two-path shape as the
    * stoplist guard of `Curation.stripBoilerplate`): a 100 TB corpus has a
    * 10⁷–10⁸-entry distinct-word set, and broadcasting a multi-GB
    * per-word frame kills the driver. The vocabulary is probed with
    * `limit(maxVocabBroadcast + 1).count()` — at or under the cap the
    * per-word counts broadcast; above it the join falls back to a plain
    * word-keyed hash join (both sides vocabulary/corpus-token bounded,
    * identical results — spec-pinned with the cap forced to 1).
    *
    * Returns (idCol, n_words, n_bpe_tokens).
    */
  def bpeTokenCounts(docs: DataFrame, idCol: String, textCol: String,
                     merges: Seq[(String, String)],
                     maxVocabBroadcast: Int = 1 << 20): DataFrame = {
    val ranks = merges.zipWithIndex.toMap
    // pinned: the broadcast-cap probe below is an action over this frame,
    // and without the cut the wordTokens lineage would re-run the full
    // corpus tokenize+distinct a second time when the join executes.
    // With no session checkpoint dir the cut is lazy and the probe fills
    // it; with a dir set Checkpoint.cut runs its own job here, at
    // composition. Either way the encode loop reads the distinct-word
    // blocks back.
    val words = Checkpoint.cut(corpusWords(docs, textCol).distinct())
    import words.sparkSession.implicits._
    val wordTokens = words.mapPartitions { it =>
      it.map(r => (r.getString(0), bpeEncodeWord(r.getString(0), ranks).size.toLong))
    }.toDF("w", "wtok")
    val fits = words.limit(maxVocabBroadcast + 1).count() <= maxVocabBroadcast
    corpusWords(docs, textCol, col(idCol))
      .join(if (fits) broadcast(wordTokens) else wordTokens, "w")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("wtok")).as("n_bpe_tokens"))
  }

  /** BPE merge-table LEARNING (Sennrich et al. 2016 §3) — the missing
    * middle of the tokenizer story between [[bpePairCounts]] (iteration 0
    * of the count) and [[bpeTokenCounts]] (applying a learned table).
    * Classic alternating loop: count adjacent-pair occurrences over the
    * vocabulary, take the most frequent pair (ties to the
    * lexicographically smallest `"a b"` string — the same `(count desc,
    * pair asc)` order [[bpePairCounts]] publishes), merge every
    * left-to-right non-overlapping occurrence of that pair in every
    * vocabulary word, repeat `nMerges` times (or until no pair is left).
    *
    * Scale shape: the corpus collapses to (symbols, count) ONCE — the
    * same one vocabulary-bounded map-side-combined shuffle as
    * [[bpePairCounts]] — and every iteration after that touches only the
    * collapsed vocabulary frame: one vocabulary-bounded pair count + a
    * 1-row argmax to the driver + one narrow merge projection,
    * localCheckpointed so plan depth stays constant in the iteration
    * count. A 100 TB corpus pays corpus-sized work exactly once.
    *
    * The merge application is a left fold over the symbol array: append
    * each symbol unless the accumulator ends with `a` and the symbol is
    * `b`, in which case the tail becomes `a+b`. Because `a+b` can never
    * equal `a` (symbols are non-empty), the fold is exactly the greedy
    * left-to-right non-overlapping replacement BPE defines.
    *
    * The merge loop itself runs DRIVER-SIDE whenever the collapsed
    * vocabulary fits `driverTailRows`: the vocab row count is fixed from
    * iteration 0 (merges fuse symbols, they never add or remove words),
    * and a real tokenizer build is ~32 k merges — as per-iteration Spark
    * jobs that is ~64 k driver-scheduled jobs over a frame that fit in
    * memory the whole time. Under the cap the frame collects once and
    * the loop is pure Scala (identical pair counting, UTF-8-binary
    * tie-break matching Spark/DuckDB string order — spec-pinned
    * identical merge tables on both paths); over it the distributed
    * per-iteration loop below runs unchanged. A 100 TB corpus still
    * pays corpus-sized work exactly once either way (the initial
    * collapse); its ~10⁷-word vocab frame is a few hundred MB — cap
    * accordingly, or pass 0 to force the distributed loop.
    *
    * Returns the learned table in merge order as (left, right,
    * n_occurrences) — feed `.map(m => (m._1, m._2))` to
    * [[bpeTokenCounts]].
    */
  def bpeTrain(docs: DataFrame, textCol: String, nMerges: Int,
               driverTailRows: Int = 1 << 20): Seq[(String, String, Long)] = {
    require(nMerges >= 1, "bpeTrain needs at least one merge")
    val syms = concat(
      transform(sequence(lit(1), length(col("w"))),
        i => col("w").substr(i, lit(1))),
      array(lit("</w>")))
    var vocab = Checkpoint.cut(corpusWords(docs, textCol)
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .select(syms.as("sy"), col("n")))
    if (vocab.limit(driverTailRows + 1).count() <= driverTailRows)
      return bpeTrainDriver(
        vocab.collect().map(r => (r.getSeq[String](0).toArray, r.getLong(1))),
        nMerges)
    val learned = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var done = false
    for (_ <- 0 until nMerges if !done) {
      val top = vocab
        .filter(size(col("sy")) >= 2)
        .select(col("n"), explode(transform(sequence(lit(1), size(col("sy")) - 1),
          i => struct(element_at(col("sy"), i).as("a"),
            element_at(col("sy"), i + 1).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, concat_ws(" ", col("a"), col("b")))
        .head(1)
      if (top.isEmpty) done = true
      else {
        val (a, b, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        learned += ((a, b, cnt))
        val mergedSy = aggregate(
          col("sy"),
          expr("cast(array() as array<string>)"),
          (acc, s) => when(
            size(acc) > 0 && element_at(acc, size(acc)) === lit(a) && (s === lit(b)),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
            .otherwise(concat(acc, array(s))))
        vocab = Checkpoint.cut(vocab.select(mergedSy.as("sy"), col("n")))
      }
    }
    learned.toSeq
  }

  /** UTF-8 byte-order comparison — Spark's and DuckDB's binary string
    * collation, which Java's UTF-16 `compareTo` does not match for
    * supplementary-plane text. The driver tail must break count ties on
    * exactly the order the distributed `orderBy(col("a b"))` uses. */
  private def utf8Lt(x: String, y: String): Boolean = {
    val a = x.getBytes("UTF-8")
    val b = y.getBytes("UTF-8")
    var i = 0
    while (i < a.length && i < b.length) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    a.length < b.length
  }

  /** The in-memory tail of [[bpeTrain]]: the identical
    * count-argmax-merge loop over a collected (symbols, count) vocab —
    * every position's adjacent pair counts (weighted by word count),
    * ties to the UTF-8-smallest `"a b"`, greedy left-to-right
    * non-overlapping merge. */
  private def bpeTrainDriver(vocab0: Array[(Array[String], Long)],
                             nMerges: Int): Seq[(String, String, Long)] = {
    var vocab = vocab0
    val learned = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var done = false
    for (_ <- 0 until nMerges if !done) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (sy, n) =>
        var i = 0
        while (i < sy.length - 1) {
          val p = (sy(i), sy(i + 1))
          counts.update(p, counts.getOrElse(p, 0L) + n)
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((a, b), cnt) = counts.minBy { case ((x, y), c) => (-c, x + " " + y) }(
          Ordering.Tuple2(Ordering.Long, new Ordering[String] {
            def compare(x: String, y: String): Int =
              if (x == y) 0 else if (utf8Lt(x, y)) -1 else 1
          }))
        learned += ((a, b, cnt))
        vocab = vocab.map { case (sy, n) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          sy.foreach { s =>
            if (out.nonEmpty && out.last == a && s == b)
              out(out.length - 1) = a + b
            else out += s
          }
          (out.toArray, n)
        }
      }
    }
    learned.toSeq
  }

  /** Global adjacent-symbol pair counts over the corpus — the first
    * iteration of BPE tokenizer training (Sennrich et al. 2016). Words are
    * whitespace tokens lowercased; symbols are single characters plus the
    * `</w>` end-of-word marker; every adjacent pair in every word counts
    * once per corpus occurrence of the word.
    *
    * The corpus collapses to (word, count) FIRST — one map-side-combined
    * shuffle bounded by vocabulary size — and pairs explode over distinct
    * words only, weighted by the count. A 100 TB corpus with a 10 M-word
    * vocabulary explodes ~100 M pair rows, not trillions. Returns the
    * `topK` pairs as (pair, n_occurrences), ties broken by ascending pair.
    */
  def bpePairCounts(docs: DataFrame, textCol: String, topK: Int): DataFrame = {
    val vocab = corpusWords(docs, textCol)
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
    val syms = concat(
      transform(sequence(lit(1), length(col("w"))),
        i => col("w").substr(i, lit(1))),
      array(lit("</w>")))
    vocab
      .select(col("n"), syms.as("__s"))
      .select(col("n"), explode(transform(sequence(lit(1), size(col("__s")) - 1),
        i => concat(element_at(col("__s"), i), lit(" "),
          element_at(col("__s"), i + 1)))).as("pair"))
      .groupBy(col("pair")).agg(sum(col("n")).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("pair"))
      .limit(topK)
  }

  /** Tokenizer-fertility quality signal: per document, BPE tokens per
    * word in exact integer ppm (`1000000·n_bpe_tokens div n_words`) —
    * garbled/boilerplate/wrong-script text tokenizes BADLY under a
    * vocabulary trained on clean text, so fertility is a standard
    * curation filter (cf. the compression-ratio heuristics in quality
    * pipelines). Shares [[bpeTokenCounts]]'s one vocabulary-bounded
    * encode (corpus-sized work happens once); docs under `minWords`
    * drop (a two-word doc's ratio is noise, not signal). Integer-exact
    * to n_bpe_tokens ≈ 9·10¹². */
  def fertility(docs: DataFrame, idCol: String, textCol: String,
                merges: Seq[(String, String)], minWords: Long): DataFrame = {
    require(minWords >= 1L, "minWords < 1 would divide by a zero word count")
    bpeTokenCounts(docs, idCol, textCol, merges)
      .filter(col("n_words") >= minWords)
      .withColumn("fertility_ppm",
        expr("1000000L * n_bpe_tokens div n_words"))
  }

  /** The k worst-fertility documents — the review/drop queue.
    * A global `orderBy.limit` plans as TakeOrderedAndProject (per-task
    * top-k before the single merge — no full sort materializes). */
  def fertilityOutliers(docs: DataFrame, idCol: String, textCol: String,
                        merges: Seq[(String, String)], k: Int,
                        minWords: Long = 5L): DataFrame =
    fertility(docs, idCol, textCol, merges, minWords)
      .orderBy(col("fertility_ppm").desc, col(idCol))
      .limit(k)

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher 2009) — the
    * standard hybrid-retrieval combiner: given N ranked candidate runs
    * per query (a BM25 lexical run, an ANN dense run, …), each
    * candidate's fused score is Σ_runs 1/(c + rank), so a document only
    * one retriever surfaces still scores, and rank positions — not
    * incomparable raw scores — carry the evidence. Scored in exact
    * integer ppm (`1000000 div (c + rank)` per run, summed), so fusion
    * is bit-identical across engines and fold orders, matching the
    * BM25/linear-score house contract.
    *
    * Input runs are (queryCol, idCol, rankCol) frames — each a PER-QUERY
    * TOP-K list from an upstream retriever, so the union is bounded by
    * |queries|·Σkᵣ rows, never corpus-sized; the fusion group-by
    * map-side-combines and the final per-query window ranks ≤ Σkᵣ
    * candidates per query (bounded by construction — this is a
    * presentation step over already-cut lists, not a corpus window).
    *
    * Returns (queryCol, idCol, n_runs, rrf_ppm, rank ≤ k); ties break on
    * ascending id.
    */
  def rrfFuse(runs: Seq[DataFrame], queryCol: String, idCol: String,
              rankCol: String, k: Int, c: Int = 60): DataFrame = {
    require(runs.nonEmpty && k > 0 && c >= 0)
    // out-of-contract rows (rank < 1 — no retriever emits them) DROP
    // instead of null-dividing at rank = −c and carrying a null score
    // into the ranking
    val tagged = runs.map(_.select(col(queryCol).as("__q"),
      col(idCol).as("__id"), col(rankCol).cast("long").as("__r"))
      .filter(col("__r") >= 1L))
    // ONE exchange for the whole fusion tail (guide §2.4): hash on __q
    // alone satisfies BOTH the (__q, __id) aggregate's clustered
    // distribution (partitioning keys ⊆ grouping keys) and the rank
    // window's per-query distribution, so the groupBy and the window
    // below share this shuffle instead of each planning their own —
    // 2 Exchanges → 1 in every hybrid chain. Rows per query at this
    // point are bounded by Σ_runs k (each run emits a top-k), so a
    // per-query partition cannot be skewed; sums/counts are exact
    // integers and the rank order is a total order per query —
    // partitioning cannot move a result bit.
    val fused = tagged.reduce(_ unionByName _)
      .repartition(col("__q"))
      .groupBy(col("__q"), col("__id"))
      .agg(count(lit(1)).as("n_runs"),
        sum(expr(s"1000000L div (${c}L + __r)")).as("rrf_ppm"))
    TopK.cut(fused, k, Seq(col("__q")), Seq(col("rrf_ppm").desc, col("__id").asc), "rank")
      .select(col("__q").as(queryCol), col("__id").as(idCol),
        col("n_runs"), col("rrf_ppm"), col("rank"))
  }
}
