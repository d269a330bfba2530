package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication primitives for training-data pipelines.
  *
  * Designed around the shuffle structure that survives 100 TB:
  *  - shingling explodes each document into (doc_id, shingle) rows — the
  *    dominant intermediate; `array_distinct` before explode keeps it
  *    minimal and the explode is pipelined (no shuffle);
  *  - MinHash signatures reduce via partial min() aggregation — one
  *    shuffle of k×32-byte digests per doc, independent of doc length;
  *  - LSH banding turns all-pairs O(n²) into an equi-join on
  *    (band_id, band_hash) — only colliding docs meet; hot buckets (boiler-
  *    plate shingles) are the skew risk → AQE skew join or salt the band
  *    key at scale;
  *  - exact Jaccard verification runs only on LSH candidates.
  *
  * Hashes are md5-hex with lexicographic min — deliberately portable
  * (identical in any engine) so results are reproducible across the fleet
  * and against the DuckDB oracle.
  */
object Dedup {

  /** Distinct word n-gram shingles: (id, g), over [[Words.words]]. */
  def wordShingles(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    // spread a one-split scan across the cluster before the tokenize +
    // explode (and the MinHash md5 signatures pipelined on top of it)
    // evaluate — identity at corpus scale, see [[graft.Tables.fanOut]]
    graft.Tables.fanOut(docs.select(col(idCol).as("id"), col(textCol).as("__t")))
      .select(col("id"), Words.words(col("__t")).as("__ws"))
      .filter(size(col("__ws")) >= n)
      .select(col("id"), explode(array_distinct(Words.ngrams(col("__ws"), n))).as("g"))

  /** Overlapping w-token windows WITH positions: (id, idx, g), idx
    * 0-based, over the raw [[Words.tokens]]. Unlike [[wordShingles]]
    * this keeps duplicates and window order — the unit of exact-substring
    * dedup, where the same window repeated (within or across documents)
    * is precisely the signal.
    */
  def tokenWindows(docs: DataFrame, idCol: String, textCol: String, w: Int): DataFrame =
    // same one-split-scan spread as [[wordShingles]]
    graft.Tables.fanOut(docs.select(col(idCol).as("id"), col(textCol).as("__t")))
      .select(col("id"), Words.tokens(col("__t")).as("__ws"))
      .filter(size(col("__ws")) >= w)
      .select(col("id"), posexplode(Words.ngrams(col("__ws"), w)).as(Seq("idx", "g")))
      .select(col("id"), col("idx").cast("long").as("idx"), col("g"))

  /** Exact-substring dedup at w-token window granularity (the Spark-shaped
    * adaptation of Lee et al. 2021, "Deduplicating Training Data Makes
    * Language Models Better": any ≥ w-token span shared verbatim between
    * two places in the corpus is a duplicate, and only its first
    * occurrence — ordered by (doc, position) — is original). Every
    * overlapping w-token window is keyed by hash; window k of a shared
    * span of length L ≥ w yields L − w + 1 duplicated windows, so
    * `n_dup_windows` measures duplicated-span coverage per document.
    *
    * Shuffle shape: the window text never shuffles — windows reduce to
    * (id, idx, xxhash64) 24-byte rows before the one hash shuffle (the
    * d_chunk_dedup shape at token granularity, corpus-tokens row volume);
    * first-occurrence-wins is a row_number over the window hash. Hash
    * granularity means a 2⁻⁶⁴ collision false-positive rate — the same
    * trade the paper's suffix-array buckets make, and the DuckDB oracle
    * groups on the raw window text, so the gate would catch a collision
    * at test scale.
    *
    * Returns (idCol, n_windows, n_dup_windows); documents shorter than w
    * tokens have no windows and are absent.
    *
    * `selectMod` is the 100 TB volume knob: with `selectMod = p > 1` only
    * windows whose hash ≡ 0 (mod p) participate — content-defined
    * sampling, so BOTH copies of a shared span select exactly the same
    * windows and a selected duplicate is still a true duplicate (no false
    * positives beyond hash collisions). Shuffle volume drops to ~1/p of
    * the corpus token count; the price is recall on short spans: a shared
    * span of length L carries L − w + 1 windows and goes unsampled with
    * probability ≈ (1 − 1/p)^(L−w+1), vanishing for the long verbatim
    * spans substring dedup exists to catch. `n_windows` then counts
    * SELECTED windows, so the dup fraction stays an unbiased estimate of
    * duplicated-span coverage — but note the absence semantics widen: on
    * the sampled path a document vanishes from the output EITHER because
    * it is shorter than w tokens OR because none of its windows were
    * selected, so consumers computing corpus-wide dup fractions must
    * treat absence as "no evidence", not "zero duplication". The default
    * p = 1 is exhaustive — the oracle-gated path.
    *
    * `portableHash = true` swaps the window hash family from xxhash64 to
    * md5 (identity = the hex digest, selection = the first 6 hex digits
    * as an integer, mod p) — the cross-engine-replicable family the
    * DuckDB oracle regenerates digit for digit, for the sampled path.
    * Production stays on xxhash64:
    * pure long arithmetic, no hex-string materialization in the shuffle.
    */
  def substringDupWindows(docs: DataFrame, idCol: String, textCol: String,
                          w: Int, selectMod: Int = 1,
                          portableHash: Boolean = false): DataFrame = {
    require(selectMod >= 1, "selectMod must be positive")
    val first = org.apache.spark.sql.expressions.Window
      .partitionBy(col("h")).orderBy(col("id"), col("idx"))
    val wins = tokenWindows(docs, idCol, textCol, w)
    val hashed =
      if (portableHash) wins.select(col("id"), col("idx"), md5(col("g")).as("h"))
      else wins.select(col("id"), col("idx"), xxhash64(col("g")).as("h"))
    val sampled =
      if (selectMod == 1) hashed
      else if (portableHash)
        hashed.filter(HashDraw.hexU24(col("h")) % selectMod === 0)
      else hashed.filter(pmod(col("h"), lit(selectMod.toLong)) === 0)
    sampled
      .withColumn("__rn", row_number().over(first))
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_windows"),
        count(when(col("__rn") > 1, 1)).as("n_dup_windows"))
      .select(col("id").as(idCol), col("n_windows"), col("n_dup_windows"))
  }

  /** The REMOVAL half of exact-substring dedup (Lee et al. 2021 §4 cut
    * the duplicated span, keep its first occurrence): every token covered
    * by a duplicated window — one with an earlier (doc, position)
    * occurrence of the same w-token text anywhere in the corpus — is
    * excised, and the document is rebuilt from the surviving tokens
    * (whitespace-normalized: single spaces, like every token-level
    * rewrite here). First occurrences keep their text, so exactly one
    * copy of every duplicated span survives corpus-wide.
    *
    * Plan shape: stage 1 is [[substringDupWindows]]' hash shuffle —
    * 24-byte (id, idx, hash) rows, never window text; stage 2 shuffles
    * ONLY the duplicate windows back to their doc and merges overlapping
    * [idx, idx+w) ranges with a gaps-and-islands window (running max of
    * interval ends — duplicated regions collapse to a handful of merged
    * spans per doc no matter how many windows cover them); stage 3 joins
    * the merged-span sets to the corpus on the doc key — the one
    * corpus-text shuffle, inherent to any rewrite that must put spans and
    * text together — and drops covered tokens with a single
    * index-filtered projection. Output: (idCol, clean_text,
    * n_tokens, n_removed).
    */
  def removeDupSpans(docs: DataFrame, idCol: String, textCol: String,
                     w: Int): DataFrame = {
    val first = org.apache.spark.sql.expressions.Window
      .partitionBy(col("h")).orderBy(col("id"), col("idx"))
    val dups = tokenWindows(docs, idCol, textCol, w)
      .select(col("id"), col("idx"), xxhash64(col("g")).as("h"))
      .withColumn("__rn", row_number().over(first))
      .filter(col("__rn") > 1)
      .select(col("id"), col("idx"), (col("idx") + w).as("e"))
    val wOrder = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("idx"), col("e"))
    val wPrev = wOrder.rowsBetween(Long.MinValue, -1)
    val spans = dups
      .withColumn("__maxe", max(col("e")).over(wPrev))
      .withColumn("__new",
        when(col("__maxe").isNull || col("idx") > col("__maxe"), 1L).otherwise(0L))
      .withColumn("__grp", sum(col("__new")).over(wOrder))
      .groupBy(col("id"), col("__grp"))
      .agg(min(col("idx")).as("s"), max(col("e")).as("e"))
      .groupBy(col("id"))
      .agg(array_sort(collect_list(struct(col("s"), col("e")))).as("__ivs"))
    docs
      .select(col(idCol).as("id"), Words.tokens(col(textCol)).as("__ws"))
      .join(spans, Seq("id"), "left")
      .withColumn("__ivs", coalesce(col("__ivs"),
        expr("CAST(array() AS array<struct<s:bigint,e:bigint>>)")))
      .withColumn("__kept", expr(
        "filter(__ws, (x, i) -> NOT exists(__ivs, iv -> i >= iv.s AND i < iv.e))"))
      .select(col("id").as(idCol),
        concat_ws(" ", col("__kept")).as("clean_text"),
        size(col("__ws")).cast("long").as("n_tokens"),
        (size(col("__ws")) - size(col("__kept"))).cast("long").as("n_removed"))
  }

  /** Unordered within-bucket pairs via collect_list + pair explode.
    *
    * The naive formulation is a bucket-key self-join, but that evaluates
    * the bucket frame's WHOLE lineage twice (for LSH that means the
    * signature aggregation — the dominant shuffle — runs 2×) and emits k²
    * join rows per bucket. Grouping once and exploding emits k(k−1)/2
    * pairs off a single evaluation. Items sort ascending within the
    * bucket, so `x < y` holds per pair by construction. Output columns:
    * `x`, `y` (structs of `pid` + optional `pval`), one row per
    * co-bucketed pair, duplicated across buckets — caller dedups.
    *
    * Scale note: a bucket of k items makes a k-element array in one task;
    * same k² skew exposure as the self-join, concentrated in collect_list.
    * `maxBucket` drops buckets above a size cap — standard LSH hygiene: a
    * band key shared by thousands of documents is boilerplate (headers,
    * license text, templating), its pairs are low-value, and its k² cost
    * is exactly the skew that kills the stage at corpus scale. Uncapped by
    * default because capping changes results (the oracle-gated queries
    * keep exhaustive semantics).
    */
  def bucketPairs(buckets: DataFrame, keyCols: Seq[String], idCol: String,
                  valCol: Option[String] = None,
                  maxBucket: Option[Int] = None): DataFrame = {
    val item = valCol match {
      case Some(v) => struct(col(idCol).as("pid"), col(v).as("pval"))
      case None    => struct(col(idCol).as("pid"))
    }
    val capped = maxBucket match {
      // hot keys found with a map-side-combined count (shuffles one long
      // per key, never the rows), then removed with a broadcast anti-join
      // BEFORE the collect_list shuffle — the capped bucket's array is
      // never materialized, so one hot key can't blow a task's memory.
      case Some(cap) =>
        val hot = buckets.groupBy(keyCols.map(col): _*)
          .agg(count(lit(1)).as("__bk")).filter(col("__bk") > cap)
          .select(keyCols.map(col): _*)
        buckets.join(broadcast(hot), keyCols, "left_anti")
      case None => buckets
    }
    capped
      .groupBy(keyCols.map(col): _*)
      .agg(sort_array(collect_list(item)).as("items"))
      .filter(size(col("items")) >= 2)
      .select(explode(expr(
        """flatten(transform(items, (x, i) ->
             transform(slice(items, i + 2, size(items)), y -> struct(x, y))))"""))
        .as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"))
  }

  /** Candidate pairs (d1 < d2) sharing at least one LSH band. */
  def lshCandidatePairs(bands: DataFrame): DataFrame =
    bucketPairs(bands, Seq("band_id", "h"), "id")
      .select(col("x.pid").as("d1"), col("y.pid").as("d2"))
      .distinct()

  /** Portable 64-bit SimHash fingerprints: (id, f).
    *
    * Token hash = first 16 hex digits of md5(token), bit votes extracted
    * digit-wise with integer arithmetic only — bit-identical in any engine
    * that has md5/substring/instr, which is what lets the DuckDB oracle
    * replicate it. The Murmur3-based [[graft.functions.SimHash64]]
    * expression is the faster (no hex-string materialization) in-engine
    * variant with the same semantics.
    *
    * Shuffle shape: explode tokens (pipelined, no shuffle) → one hash
    * shuffle of 64 int partial sums per doc — map-side combined, so the
    * shuffle volume is docs × 256 bytes regardless of doc length.
    */
  def simhashFingerprints(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // same one-split-scan spread as [[wordShingles]]; the integer vote
    // sums are partition-order-exact
    val toks = graft.Tables
      .fanOut(docs.select(col(idCol).as("id"), col(textCol).as("__t")))
      .select(col("id"),
        explode(Words.tokens(lower(col("__t")))).as("t"))
      .select(col("id"), substring(md5(col("t")), 1, 16).as("h16"))
    val votes = (0 until 64).map { b =>
      val digit = s"(instr('0123456789abcdef', substring(h16, ${1 + b / 4}, 1)) - 1)"
      sum(expr(s"(($digit div ${1 << (b % 4)}) % 2) * 2 - 1")).as(s"v$b")
    }
    val sums = toks.groupBy(col("id")).agg(votes.head, votes.tail: _*)
    val fp = (0 until 64)
      .map(b => shiftleft(when(col(s"v$b") > 0, lit(1L)).otherwise(lit(0L)), b))
      .reduce(_ + _)
    sums.select(col("id"), fp.as("f"))
  }

  /** Near-dup pairs by SimHash Hamming distance, via banded self-join.
    *
    * With `bands` bands of 64/bands bits, any pair within Hamming distance
    * `maxHamming ≤ bands - 1` matches exactly on at least one band
    * (pigeonhole), so the banded join is EXACT — same result as the
    * all-pairs O(n²) scan, at the cost of an equi-join on (band, code).
    */
  def simhashNearDups(fps: DataFrame, maxHamming: Int = 3, bands: Int = 4): DataFrame = {
    require(maxHamming < bands, s"exactness needs maxHamming < bands (pigeonhole)")
    require(64 % bands == 0, s"bands=$bands must divide 64")
    val bits = 64 / bands
    // bands = 1 => bits = 64, and Scala shifts wrap mod 64: (1L << 64) - 1
    // is 0, which would collapse EVERY fingerprint to band code 0 — one
    // corpus-sized bucket instead of exact 64-bit matching
    val mask = if (bits == 64) -1L else (1L << bits) - 1
    val bandCols = (0 until bands).map(b => struct(
      lit(b).as("band"),
      shiftrightunsigned(col("f"), b * bits).bitwiseAND(lit(mask)).as("code")))
    val codes = fps
      .select(col("id"), col("f"), explode(array(bandCols: _*)).as("bc"))
      .select(col("id"), col("f"), col("bc.band").as("band"), col("bc.code").as("code"))
    bucketPairs(codes, Seq("band", "code"), "id", Some("f"))
      .select(col("x.pid").as("d1"), col("y.pid").as("d2"),
        bit_count(col("x.pval").bitwiseXOR(col("y.pval"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Connected components over a near-dup pair graph: (doc_id,
    * cluster_rep) where cluster_rep = min doc id reachable through the
    * pairs. Dedup pipelines need clusters, not pairs — the canonical
    * document per cluster is what survives, everything else drops.
    *
    * Min-label propagation: each round every node takes the min of its own
    * label and its neighbors' labels, until no label changes — O(cluster
    * diameter) rounds, and near-dup clusters are shallow (most are
    * 2-3 docs, so 1-2 rounds). Each round shuffles (edges + nodes) keyed
    * rows; checkpointing truncates the growing lineage so round N doesn't
    * re-run rounds 1..N-1.
    *
    * The per-round label cuts go through [[Checkpoint.cut]]: lazy and
    * executor-local by default, reliable and materialized at composition
    * time when the session has a checkpoint dir. The edge frame is never
    * checkpointed — it persists with FULL lineage (recoverable by
    * recompute), pre-partitioned on the loop's join key; see the layout
    * note in the body.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val edges = ccEdgeLayout(pairs)
    try connectedComponentsLoop(edges, maxIter)
    // release the cache entry on EVERY exit — including the loud
    // non-convergence require and any mid-loop job failure — so nothing
    // persists across invocations (a fresh call re-caches from its own
    // inputs; within-one-call reuse only, not cross-run state). The
    // returned labels read the final round's already-materialized
    // checkpoint blocks, never edges, so the release is safe even
    // though the frame escapes this scope.
    finally edges.unpersist(blocking = false)
  }

  /** The loop's edge frame: both directions via explode (not union — a
    * union of two branches would evaluate the pair frame's whole
    * lineage, for LSH clusters the signature + verify pipeline, twice),
    * persisted ALREADY partitioned and sorted on the loop's join key
    * (guide §2.4 "two operations keyed the same way can share one
    * exchange"). An InMemoryRelation preserves the cached plan's
    * outputPartitioning/outputOrdering — a checkpoint does NOT (under
    * AQE its LogicalRDD records UnknownPartitioning; PlanSpec pins the
    * distinction) — so every label-propagation round's edges-side join
    * reads the cache co-partitioned and pre-sorted: no per-round
    * Exchange and no per-round Sort on the BIG side of the iteration,
    * which previously re-shuffled 2·|pairs| rows once per round. The
    * persist also replaces the former eager checkpoint: lineage stays
    * INTACT (an executor loss recomputes lost blocks from the source —
    * strictly safer than localCheckpoint's truncated lineage, with no
    * checkpoint dir needed) and MEMORY_AND_DISK spills instead of
    * OOMing. The partition count is pinned to the session's shuffle
    * parallelism (scale-adaptive conf, not a constant) because an
    * explicit count keeps AQE from coalescing the one-off layout
    * shuffle into a partitioning the loop's EnsureRequirements-inserted
    * labels-side exchanges couldn't match. The trade: AQE can split a
    * skewed shuffle input but not a cached partition, so pinning the
    * edges disables skew-join splitting for every per-round join — a
    * hub node's whole edge list stays in one task each round, the first
    * place to look if hub-heavy graphs regress at scale. Callers own
    * the unpersist. */
  private def ccEdgeLayout(pairs: DataFrame): DataFrame = {
    val nParts = pairs.sparkSession.sessionState.conf.numShufflePartitions
    pairs
      .select(explode(array(
        struct(col("d1").as("a"), col("d2").as("b")),
        struct(col("d2").as("a"), col("d1").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .repartition(nParts, col("b"))
      .sortWithinPartitions(col("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  private def connectedComponentsLoop(edges: DataFrame, maxIter: Int): DataFrame = {
    // with the default (lazy) cut, ONE action per round: the convergence
    // check itself materializes the round's checkpoint blocks (Spark
    // completes a lazily-checkpointed RDD's missing partitions at the end
    // of the same action), so each round schedules one job instead of
    // two — the eager-chk-then-isEmpty form doubled the loop's fixed job
    // cost for zero extra information. Same math, same checkpointed
    // lineage truncation, same loud non-convergence contract.
    var labels = Checkpoint.cut(edges.select(col("a").as("id")).distinct()
      .select(col("id"), col("id").as("rep")))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val neighborMin = edges
        .join(labels.select(col("id").as("b"), col("rep").as("nrep")), "b")
        .groupBy(col("a").as("id")).agg(min(col("nrep")).as("nmin"))
      val updated = Checkpoint.cut(labels
        .join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("rep"),
          least(col("rep"), coalesce(col("nmin"), col("rep"))).as("next")))
      converged = updated.filter(col("next") < col("rep")).isEmpty
      labels = updated.select(col("id"), col("next").as("rep"))
      iter += 1
    }
    // fail LOUDLY on a maxIter exit: partially-propagated labels split
    // one true cluster into several, and selectRepresentatives would
    // then silently keep multiple copies of the same content. Min-label
    // propagation needs ~graph-diameter rounds — raise maxIter for
    // long near-dup chains.
    require(converged,
      s"connectedComponents did not converge within maxIter=$maxIter " +
        "iterations (labels would be wrong); raise maxIter")
    labels.select(col("id").as("doc_id"), col("rep").as("cluster_rep"))
  }

  /** Exact-dedup index: one row per distinct content hash with the id
    * that owns it — (content_md5, kept_id). The persistent state of
    * INCREMENTAL exact dedup: build once over the corpus, then every new
    * ingestion batch checks against the stored index instead of
    * rescanning 100 TB of history. At scale, write it with
    * [[Bucketing.writeBucketed]] on `content_md5` so each delta join
    * co-locates exchange-free on the index side (the index is
    * corpus-sized; the delta is the only thing that should ever shuffle).
    */
  def buildExactIndex(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_md5"))
      .agg(min(col(idCol)).as("kept_id"))

  /** Incremental exact dedup of a delta batch against a stored
    * [[buildExactIndex]] frame: drops every delta row whose content hash
    * already exists in the index (anti-join — index side static), then
    * collapses within-delta duplicates to the smallest id. Returns the
    * surviving NEW content: (content_md5, kept_id, n_copies), exactly the
    * rows to append to the index ([[mergeExactIndex]]) and to admit into
    * the corpus. The delta is one hash shuffle (map-side combinable); the
    * corpus never rescans.
    */
  def dedupDeltaExact(delta: DataFrame, index: DataFrame,
                      idCol: String, textCol: String): DataFrame =
    delta.select(col(idCol).as("id"), md5(col(textCol)).as("content_md5"))
      .join(index.select(col("content_md5")), Seq("content_md5"), "left_anti")
      .groupBy(col("content_md5"))
      .agg(min(col("id")).as("kept_id"), count(lit(1)).as("n_copies"))

  /** The index after admitting a [[dedupDeltaExact]] survivor batch —
    * pure union (survivor hashes are disjoint from the index by
    * construction of the anti-join). */
  def mergeExactIndex(index: DataFrame, survivors: DataFrame): DataFrame =
    index.select(col("content_md5"), col("kept_id"))
      .union(survivors.select(col("content_md5"), col("kept_id")))

  /** Near-dup band index: the (band_id, h, id) LSH bucket table of the
    * corpus under the [[MinHash]] rule — the persistent state of
    * incremental NEAR-dup detection. Same storage advice as
    * [[buildExactIndex]]: bucket the stored table by (band_id, h) so
    * delta probes co-locate without shuffling the index. */
  def buildBandIndex(docs: DataFrame, idCol: String, textCol: String,
                     n: Int, k: Int, bands: Int): DataFrame =
    MinHash.bands(MinHash.signatures(wordShingles(docs, idCol, textCol, n), k), Seq("id"), k, bands)

  /** Incremental near-dup candidates: a delta batch's documents banded
    * with the SAME minhash family as the stored [[buildBandIndex]] frame,
    * then joined against it on (band_id, h) — each (corpus_id, delta_id)
    * pair that collides in ≥ 1 band, distinct. Only the delta pays the
    * shingle→signature→band pipeline; the corpus contributes stored
    * (band_id, 32-hex md5 code, id) rows. Verify exactly afterwards with [[verifyJaccard]]
    * over the union's shingles (same contract as the batch LSH path —
    * banding proposes, Jaccard disposes). */
  def incrementalNearDupCandidates(index: DataFrame, delta: DataFrame,
                                   idCol: String, textCol: String,
                                   n: Int, k: Int, bands: Int): DataFrame = {
    val db = buildBandIndex(delta, idCol, textCol, n, k, bands)
      .withColumnRenamed("id", "delta_id")
    index.join(db, Seq("band_id", "h"))
      // a doc present in BOTH the stored index and the delta (a replayed
      // batch after a partial ingestion failure) would otherwise pair
      // with itself, score Jaccard 1.0 downstream, and be dropped as a
      // duplicate of itself
      .filter(col("id") =!= col("delta_id"))
      .select(col("id").as("corpus_id"), col("delta_id"))
      .distinct()
  }

  /** Canonical-representative selection — the KEEP half of cluster-level
    * dedup: given near-dup clusters ([[connectedComponents]] output:
    * (doc_id, cluster_rep)) and a per-document quality score, each
    * cluster keeps its highest-quality member (ties to the smaller id)
    * and drops the rest. Cluster members missing from the quality frame
    * are excluded (inner join) — score every candidate document, or
    * default-fill before calling. Returns (cluster_rep, kept_doc_id,
    * n_members, best_q). One shuffle keyed on the cluster id; the max_by/min
    * aggregation is map-side combinable, so a boilerplate mega-cluster
    * combines locally instead of sorting in one task (no window, no
    * per-group row_number). */
  def selectRepresentatives(clusters: DataFrame, quality: DataFrame,
                            idCol: String, qCol: String): DataFrame =
    clusters
      .join(quality.select(col(idCol).as("doc_id"), col(qCol).as("__q")), "doc_id")
      .groupBy(col("cluster_rep"))
      .agg(
        // argmin by (-quality, id): struct comparison is field-wise, so
        // minimizing (-q, id) maximizes quality and breaks ties on the
        // SMALLER id. (The previous max_by over (q, -id) negated the doc
        // id, which threw under ANSI for the string ids every other
        // dedup operator supports.)
        min_by(col("doc_id"), struct((-col("__q")).as("nq"), col("doc_id")))
          .as("kept_doc_id"),
        count(lit(1)).as("n_members"),
        max(col("__q")).as("best_q"))

  /** Exact Jaccard over the shingle sets of the given pairs only. */
  def verifyJaccard(pairs: DataFrame, shingles: DataFrame, threshold: Double): DataFrame = {
    val sizes = shingles.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val sa = shingles.select(col("id").as("d1"), col("g"))
    val sb = shingles.select(col("id").as("d2"), col("g"))
    val inter = pairs
      .join(sa, "d1").join(sb, Seq("d2", "g"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("i"))
    val jac: Column = col("i") / (col("n1") + col("n2") - col("i"))
    inter
      .join(sizes.withColumnRenamed("id", "d1").withColumnRenamed("n", "n1"), "d1")
      .join(sizes.withColumnRenamed("id", "d2").withColumnRenamed("n", "n2"), "d2")
      .filter(jac >= threshold)
      .select(col("d1"), col("d2"), round(jac, 6).as("jaccard"))
  }

  /** Edit-distance self-join over a short key column — the entity-
    * resolution / fuzzy-match primitive (near-identical titles, names,
    * normalized URLs, OCR'd codes) the token-level near-dup family
    * cannot express: PassJoin (Li, Deng & Feng 2011) partition blocking
    * via the native [[graft.functions.PassJoinKeys]] generator (every
    * true pair collides on ≥ 1 segment key — pigeonhole, NO false
    * negatives, spec-pinned against brute force), an equi-join on the
    * encoded keys, one distinct over the candidate pairs, and an exact
    * banded-Levenshtein verify (`levenshtein(a, b, threshold)` — O(d·n)
    * per candidate, not O(n²)) that kills every false candidate, so the
    * OUTPUT contract is exactly "all unordered pairs with
    * lev(key_a, key_b) ≤ d" regardless of blocking internals — which is
    * why the oracle replays the naive quadratic definition while this
    * runs the blocked plan.
    *
    * Scale shape: ALL blocking, candidate dedup, and Levenshtein
    * verification run in DISTINCT-KEY space — one representative row per
    * key value — and only the final fan-out joins the (dist ≤ d) key
    * pairs back to their member ids. This is the hot-key guard: a
    * mass-identical key distribution (the LSH-hot-bucket analog; every
    * row the same title) contributes ONE row to the candidate join
    * instead of fanning out quadratically through the explode/distinct,
    * and Levenshtein runs once per distinct key pair, never per id pair.
    * Identical-key groups emit their within-group pairs (dist 0)
    * directly from a key-equality self-join — output-sized, which is the
    * floor for an operator whose CONTRACT includes those pairs. Each
    * distinct key emits O(d²) index/probe keys (constant); the join
    * shuffles (key, short-string) rows only.
    *
    * Returns (id_a < id_b, key_a, key_b, dist ≤ maxDist).
    */
  def editDistancePairs(df: DataFrame, idCol: String, keyCol: String,
                        maxDist: Int): DataFrame = {
    require(maxDist >= 1, "maxDist >= 1 (use exactDedup for distance 0)")
    val base = df.select(col(idCol).as("id"), col(keyCol).as("k"))
      .filter(col("k").isNotNull)
    val keyPairs = editDistanceKeyPairs(base.select(col("k")).distinct(), maxDist)
    // fan the verified key pairs back out to member id pairs; a member
    // of the lexically-later key may carry the smaller id, so ids AND
    // keys swap together
    val cross = keyPairs
      .join(base.select(col("id").as("ia"), col("k").as("ka")), "ka")
      .join(base.select(col("id").as("ib"), col("k").as("kb")), "kb")
      // an id may legitimately appear on several rows (doc versions with
      // near keys); it must never pair with itself — the pre-refactor
      // code's id =!= pid guard, applied post-fan-out
      .filter(col("ia") =!= col("ib"))
      .select(
        when(col("ia") < col("ib"), col("ia")).otherwise(col("ib")).as("id_a"),
        when(col("ia") < col("ib"), col("ib")).otherwise(col("ia")).as("id_b"),
        when(col("ia") < col("ib"), col("ka")).otherwise(col("kb")).as("key_a"),
        when(col("ia") < col("ib"), col("kb")).otherwise(col("ka")).as("key_b"),
        col("dist"))
    val within = base.select(col("id").as("ia"), col("k"))
      .join(base.select(col("id").as("ib"), col("k")), "k")
      .filter(col("ia") < col("ib"))
      .select(col("ia").as("id_a"), col("ib").as("id_b"),
        col("k").as("key_a"), col("k").as("key_b"),
        lit(0).cast("int").as("dist"))
    // a duplicated (id, key) INPUT row multiplies through the fan-out
    // joins and the key-equality self-join (dup² copies of each affected
    // pair) — deduplicate at the OUTPUT, where the frame is pair-sized
    // (blocked near-pairs, a sliver of the input), instead of paying a
    // corpus-sized distinct shuffle up front (the r11 form: one extra
    // all-rows exchange before blocking cost d_fuzzy_pairs +33%). The
    // cross/within branches never overlap (cross requires key_a ≠ key_b,
    // within key_a = key_b), so the distinct only collapses input-dup
    // echoes
    cross.unionByName(within).distinct()
  }

  /** The distinct-key core of [[editDistancePairs]]: PassJoin segment
    * blocking + equi-join + one candidate distinct + banded-Levenshtein
    * verify over a single-column (`k`) DISTINCT-key frame. Returns
    * (ka, kb, dist ≤ maxDist) with ka/kb ordered by their hash-free
    * stable proxy — the key STRING itself (distinct keys are unequal, so
    * `<` totally orders every pair). Package-private so the hot-key spec
    * can pin that candidate work is distinct-key-bounded.
    *
    * SKEW NOTE (r19, measured — do not "fix" this again without new
    * evidence): a mass common-affix key distribution (serial codes
    * "ITEM-00001"…, same length, shared segments) lands every key in ONE
    * segment block, and the candidate join is quadratic within a block —
    * 29× the uniform-key runtime on a 20k-key synthetic. An adaptive
    * hot-block salt (census → per-block sub-buckets → probe
    * replication, explicit pinned repartition so AQE
    * cannot re-coalesce the tiny pre-blowup inputs) was implemented and
    * measured NET-NEGATIVE on BOTH fixtures: +~60% on uniform keys (the
    * census aggregate + broadcast joins) and 4.4× WORSE on the skewed
    * fixture itself — the cost is the quadratic candidate VOLUME feeding
    * the downstream distinct (concurrent partial-aggregate memory
    * pressure once spread over salt buckets), not the single task it
    * lands on. The class is contract-bounded like d_ngram_near_dups'
    * exhaustive pair explosion: the 100 TB mitigation is rejecting or
    * capping degenerate blocks upstream (a different output contract),
    * not redistributing them. */
  private[graft] def editDistanceKeyPairs(keys: DataFrame,
                                          maxDist: Int): DataFrame = {
    val idx = keys.select(col("k"),
      explode(graft.functions.PassJoinKeys.pass_join_index(col("k"), maxDist))
        .as("bk"))
    val prb = keys.select(col("k").as("pk"),
      explode(graft.functions.PassJoinKeys.pass_join_probe(col("k"), maxDist))
        .as("bk"))
    idx.join(prb, "bk")
      .filter(col("k") =!= col("pk"))
      .select(
        when(col("k") < col("pk"), col("k")).otherwise(col("pk")).as("ka"),
        when(col("k") < col("pk"), col("pk")).otherwise(col("k")).as("kb"))
      .distinct()
      .withColumn("dist", levenshtein(col("ka"), col("kb"), maxDist))
      .filter(col("dist") =!= -1)
  }
}
