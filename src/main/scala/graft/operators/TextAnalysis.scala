package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines: language identification,
  * token classing, quality signals (north-star requirements). All pure
  * column expressions — codegen'd, shuffle-free, safe at any scale.
  */
object TextAnalysis {

  /** Tiny per-language stopword profiles for the n-gram/stopword
    * heuristic. Deliberately small: language ID here is a routing signal,
    * not a classifier — precision comes from downstream filtering. */
  val StopwordProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "is", "of", "and", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "los", "las", "y", "una"),
    "fr" -> Seq("le", "les", "et", "est", "une"))

  private def hits(tokens: Column, words: Seq[String]): Column =
    size(filter(tokens, t => t.isin(words.map(lit(_)): _*)))

  /** Stopword-profile hit counts per language: struct(en, de, es, fr). */
  def languageScores(tokens: Column): Column =
    struct(StopwordProfiles.map { case (lang, words) =>
      hits(tokens, words).as(lang)
    }: _*)

  /** Argmax language with deterministic precedence (en > de > es > fr),
    * 'und' when no profile hits at all. */
  def languageGuess(tokens: Column): Column = {
    val s = languageScores(tokens)
    val (en, de, es, fr) =
      (s.getField("en"), s.getField("de"), s.getField("es"), s.getField("fr"))
    when(en >= de && en >= es && en >= fr && en > 0, "en")
      .when(de >= es && de >= fr && de > 0, "de")
      .when(es >= fr && es > 0, "es")
      .when(fr > 0, "fr")
      .otherwise("und")
  }

  /** BPE-ish token classing over raw text: alphabetic words, numbers,
    * and symbol tokens, counted separately (token-count estimation
    * without a real tokenizer in the loop). A symbol is any character
    * but a letter, a digit or [[Words]]' whitespace class, spelled out
    * because Java's `\s` holds the vertical tab and RE2's does not. */
  def tokenClassCounts(text: Column): (Column, Column, Column) = {
    val lowered = lower(text)
    (size(regexp_extract_all(lowered, lit("[a-z]+"), lit(0))).cast("long"),
      size(regexp_extract_all(lowered, lit("[0-9]+"), lit(0))).cast("long"),
      size(regexp_extract_all(lowered, lit("[^a-z0-9 \\t\\n\\f\\r]"), lit(0))).cast("long"))
  }

  /** Free-text PII patterns: deliberately simple regexes (no lookaround,
    * no \b, explicit [A-Za-z] classes instead of a case-insensitive flag)
    * so they behave identically under Java regex (Spark) and RE2
    * (DuckDB/engines) — redaction must be reproducible across the fleet.
    * Mixed-case emails (John.Doe@Example.COM) are real; a lowercase-only
    * pattern silently leaks them through the scrub. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
  val PhoneRe = "[0-9]{3}-[0-9]{4}"

  /** Redact emails then phone-like numbers (the text-level PII scrub every
    * web-corpus pipeline runs; the schema-flagged payload scrub in
    * `functions.Scrub` is the structured-data counterpart). Pure column
    * expression — codegen'd, shuffle-free. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailRe, "<EMAIL>"),
      PhoneRe, "<PHONE>")

  /** (email, phone) match counts — the audit signal logged alongside
    * redaction. Phones are counted on the EMAIL-REDACTED text, exactly
    * mirroring [[redactPii]]'s replacement order: a phone-shaped digit
    * run inside an email (bob555-1234@mail.com) is replaced as part of
    * the email, so counting it as a phone too would claim a redaction
    * that never happened and break scrub-count reconciliation. */
  def piiCounts(text: Column): (Column, Column) =
    (size(regexp_extract_all(text, lit(EmailRe), lit(0))).cast("long"),
      size(regexp_extract_all(regexp_replace(text, EmailRe, "<EMAIL>"),
        lit(PhoneRe), lit(0))).cast("long"))

  /** Rabin–Karp rolling hashes over the character stream (north-star:
    * rolling-hash document fingerprinting). Every `w`-char window gets the
    * polynomial hash `((…(c₁·B + c₂)·B + …)·B + c_w) mod M` with B = 257,
    * M = 1e9+7 — the classic content-defined fingerprint primitive; the
    * per-doc min-hash / distinct-count summary is a near-identity key that
    * survives small edits (only windows crossing the edit change).
    *
    * Stepwise mod keeps every intermediate below 2⁶³; mathematically it
    * equals the big-integer polynomial mod M, which is how the DuckDB
    * oracle computes it — an explicit cross-engine identity check on the
    * modular arithmetic. Pure column expression, shuffle-free. NOT a
    * scale path: the inner `codes` expression is inlined into the outer
    * lambda, so Catalyst re-derives the full per-char code array once per
    * window position — O(len²) per doc as evaluated, which on a multi-MB
    * doc never finishes. This HOF exists ONLY as the cross-engine
    * identity reference for the shipped O(len) native expressions
    * ([[graft.functions.RollingHash]], RollingFingerprint64), which every
    * query path uses; specs pin `rolling_min_hash == array_min(this)` on
    * short fixture docs. Docs shorter than `w` yield an empty hash array.
    */
  def rollingHashes(text: Column, w: Int = 8): Column = {
    val B = 257L
    val M = 1000000007L
    val codes = transform(sequence(lit(1), length(text)),
      i => ascii(text.substr(i, lit(1))).cast("long"))
    when(length(text) < w, array().cast("array<bigint>")).otherwise(
      transform(sequence(lit(1), length(text) - (w - 1)),
        i => aggregate(slice(codes, i, lit(w)), lit(0L),
          (a, c) => (a * B + c) % M)))
  }

  /** Stopword list for the Gopher "contains ≥ 2 stopwords" document rule —
    * the published heuristic's own list. Counted over total occurrences,
    * not distinct hits. */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with", "a", "in", "is", "for")

  /** Gopher-style composite document-quality rule set (north-star:
    * quality filtering before training). Emits one flag per rule plus the
    * per-doc word count; callers AND the flags into the keep decision.
    *
    * Rules (Rae et al. 2021, §A1.1, thresholds adapted):
    *  - word count within [minWords, maxWords];
    *  - mean word length within [3, 10] characters;
    *  - ≥ 80% of words contain at least one alphabetic character;
    *  - ≤ 10% of words are bare symbol tokens (`#`, `...`);
    *  - at least 2 stopword occurrences ([[GopherStopwords]]).
    *
    * Every rule is integer-exact — ratio thresholds are cross-multiplied
    * (`5·n_alpha ≥ 4·n`, never `n_alpha/n ≥ 0.8`) so there is no float
    * rounding surface and any engine agrees bit for bit. Pure column
    * expression: codegen'd, shuffle-free.
    */
  def qualityFlags(text: Column, minWords: Int = 10, maxWords: Int = 1000): Column = {
    val ws = Words.words(text)
    val n = size(ws)
    val wchars = aggregate(ws, lit(0), (a, w) => a + length(w))
    val nAlpha = size(filter(ws, w => w.rlike("[A-Za-z]")))
    val nSym = size(filter(ws, w => w === "#" || w === "..."))
    val nStop = size(filter(ws, w => w.isin(GopherStopwords.map(lit(_)): _*)))
    struct(
      n.cast("long").as("n_words"),
      (n >= minWords && n <= maxWords).as("ok_word_count"),
      // a zero-word doc has no mean word length — the rule is not
      // evaluable and reports NULL (hostile-DOCS lockstep: the SQL
      // replay's list_sum([]) is NULL, so `BETWEEN` is NULL there; a
      // silent `true` here mislabeled empty docs as length-OK). keep
      // still ANDs to false through ok_word_count.
      when(n > 0, wchars >= n * 3 && wchars <= n * 10).as("ok_mean_word_len"),
      (nAlpha * 5 >= n * 4).as("ok_alpha_ratio"),
      (nSym * 10 <= n).as("ok_symbol_ratio"),
      (nStop >= 2).as("ok_stopwords"))
  }

  /** CCNet-style language-model quality score (north-star: perplexity
    * filtering before training), in an integer-exact formulation.
    *
    * A bigram model is counted over `train` (in CCNet: a clean reference
    * corpus; here any sampled subset), then every document in `docs` is
    * scored by its mean add-one-smoothed bigram probability, expressed in
    * ppm: per bigram `(10⁶·(c₁₂+1)) div (c₁+V)` where c₁₂/c₁ are training
    * counts and V is the training vocabulary size. Summing integer ppm
    * instead of float log-probs makes the score independent of
    * aggregation order — bit-identical on any engine at any parallelism —
    * while ranking documents the same way a perplexity filter does
    * (higher = more in-distribution).
    *
    * Shuffle shape at 100 TB: model counts are vocabulary-bounded
    * (map-side combined); both model tables broadcast to the corpus scan
    * (a reference LM is MBs against a 100 TB corpus), so scoring is one
    * narrow pass plus the per-doc partial-sum groupBy — the corpus text
    * never shuffles.
    *
    * Returns (idCol, n_bigrams, avg_bigram_ppm); documents with fewer
    * than two tokens have no bigrams and drop out.
    */
  def lmScore(docs: org.apache.spark.sql.DataFrame,
              train: org.apache.spark.sql.DataFrame,
              idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.DataFrame
    def bigrams(df: DataFrame): DataFrame = {
      val ws = col("__ws")
      df.select(col(idCol).as("id"), Words.tokens(col(textCol)).as("__ws"))
        .filter(size(ws) >= 2)
        .select(col("id"), explode(transform(sequence(lit(1), size(ws) - 1),
          i => struct(element_at(ws, i).as("w1"), element_at(ws, i + 1).as("w2")))).as("b"))
        .select(col("id"), col("b.w1"), col("b.w2"))
    }
    val trainBi = bigrams(train).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val trainUni = train
      .select(explode(Words.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val vocab = trainUni.agg(count(lit(1)).as("v"))
    bigrams(docs)
      .join(broadcast(trainBi), Seq("w1", "w2"), "left")
      .join(broadcast(trainUni.withColumnRenamed("w", "w1")), Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("id"),
        expr("(1000000 * (coalesce(c12, 0) + 1)) div (coalesce(c1, 0) + v)").as("ppm"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("ppm")).as("__s"))
      .select(col("id").as(idCol), col("n_bigrams"),
        expr("__s div n_bigrams").as("avg_bigram_ppm"))
  }

  /** Hashed linear text classifier — the fastText-style quality-scorer
    * plumbing (Joulin et al. 2016: bag of hashed token features · weight
    * vector): each token hashes into one of `weights.length` buckets
    * (hashing trick — no vocabulary table, fixed model size), the
    * document's score is the mean bucket weight, and `label` thresholds
    * it. This is how learned quality/domain classifiers actually deploy
    * inside a curation pipeline: the model is a flat weight array that
    * rides into every task as a plan literal; scoring is ONE shuffle-free
    * projection over the corpus (the aggregate folds the token array in
    * place — the text never leaves its scan partition).
    *
    * Determinism contract (what makes an SQL oracle replay it exactly):
    * the bucket is the portable md5-u24 draw (`HashDraw.u24(salt, token)
    * mod buckets` — the draw of [[graft.operators.Curation]]'s sampling),
    * weights are INTEGERS (a learned float model quantizes to
    * `round(w·1000)` — the same trick [[lmScore]] uses with ppm), so the
    * fold sum `sum_w` is exact in any order, and `label` is decided by
    * integer cross-multiplication (`1000·sum_w ≥ round(τ·10⁶)·n_tokens`,
    * the [[qualityFlags]] rule: never divide where a threshold compares) —
    * zero float surface end to end. `score` is the float presentation of
    * the same ratio for human consumption; it is NOT part of the exactness
    * contract (a rational like sum_w/(1000·n) can land exactly on a 6-dp
    * rounding boundary where two engines' round() legitimately disagree by
    * 1 ulp — sf0.1 produced such a doc).
    *
    * Returns (idCol, n_tokens, sum_w, score, label) with
    * score = round(sum_w / (1000·n_tokens), 6); empty documents drop
    * (no tokens → no score).
    */
  def hashedLinearScore(docs: org.apache.spark.sql.DataFrame, idCol: String,
                        textCol: String, weights: Array[Int], salt: String,
                        threshold: Double): org.apache.spark.sql.DataFrame = {
    val nb = weights.length
    require(nb > 0, "weights must be non-empty")
    val ws = col("__ws")
    val w = typedLit(weights.toSeq)
    val bucket = (t: Column) =>
      pmod(HashDraw.u24(salt, t), lit(nb.toLong))
    val sumW = aggregate(
      transform(ws, t => element_at(w, (bucket(t) + 1).cast("int")).cast("long")),
      lit(0L), (acc, x) => acc + x)
    val thresholdMicro = math.round(threshold * 1e6)
    docs
      .select(col(idCol), Words.words(col(textCol)).as("__ws"))
      .filter(size(ws) >= 1)
      .select(col(idCol), size(ws).cast("long").as("n_tokens"), sumW.as("sum_w"))
      .select(col(idCol), col("n_tokens"), col("sum_w"),
        round(col("sum_w") / (col("n_tokens") * 1000.0), 6).as("score"),
        (col("sum_w") * 1000L >= lit(thresholdMicro) * col("n_tokens"))
          .cast("int").as("label"))
  }

  /** Deterministic pseudo-weights for the classifier fixture/oracle: the
    * same md5-u24 draw mapped to an integer in [−1000, 1000] per bucket —
    * what a quantized learned model would look like, regenerable by any
    * engine with md5. */
  def pseudoWeights(salt: String, nBuckets: Int): Array[Int] = {
    Array.tabulate(nBuckets) { b =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$salt$b".getBytes("UTF-8"))
        .take(3).map(x => f"$x%02x").mkString
      (java.lang.Long.parseLong(hex, 16) % 2001L).toInt - 1000
    }
  }

  /** Gopher-style repetition signal: the share of a document's word
    * n-grams taken by its single most frequent n-gram, reported in exact
    * integer parts-per-million (`top_ngram_ppm`). High values mark
    * degenerate/templated text that dedup alone won't catch. Pure integer
    * arithmetic end-to-end: the score is bit-identical on any engine and
    * under any aggregation order — no float rounding surface.
    *
    * Shuffle shape: explode n-grams (pipelined) → (id, gram) count with
    * map-side combine → per-id max/sum fold. Gram strings never cross the
    * second shuffle — only the per-id counts do.
    */
  def topNgramFraction(docs: org.apache.spark.sql.DataFrame, idCol: String,
                       textCol: String, n: Int): org.apache.spark.sql.DataFrame = {
    docs
      .select(col(idCol).as("id"), Words.words(lower(col(textCol))).as("__ws"))
      .filter(size(col("__ws")) >= n)
      .select(col("id"), explode(Words.ngrams(col("__ws"), n)).as("g"))
      .groupBy(col("id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("id"))
      .agg(sum(col("c")).as("n_ngrams"), max(col("c")).as("top_ngram_n"))
      .select(col("id"), col("n_ngrams"), col("top_ngram_n"),
        expr("(1000000 * top_ngram_n) div n_ngrams").as("top_ngram_ppm"))
  }
}
