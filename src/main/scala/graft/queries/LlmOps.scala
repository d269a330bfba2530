package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Codebook, Dedup, HashDraw, MinHash, Vectors, Words}

/** Training-data pipeline operators over the documents/embeddings tables:
  * dedup (exact, n-gram Jaccard, MinHash-LSH), text analysis, document
  * fingerprinting, similarity search. Every oracle replicates the SAME
  * deterministic algorithm (md5-hex minhash, rounded cosine) so the gate
  * checks algorithmic parity, not just aggregate shape.
  */
object LlmOps {

  private val ShingleN = 3
  private val MinhashK = 12
  private val LshBands = 4
  private val JaccardThreshold = 0.6

  /** The fixtures' embedding width (their modal dimension): the one
    * dimension every vector oracle reads. */
  private[queries] final val EmbDim = 64

  private def cosSql(a: String, b: String, dp: Int): String =
    Vectors.cosineSql(a, b, EmbDim, dp)

  /** Exact dedup by content hash (SURVEY north-star: exact dedup).
    * Input is documents ∪ a re-keyed copy of every 7th doc — planted
    * exact duplicates — and the operator keeps the smallest doc_id per
    * content hash. One hash-shuffle, map-side combinable.
    */
  def qExactDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    val dupes = docs.filter($"doc_id" % 7 === 0)
      .select(($"doc_id" + 100000L).as("doc_id"), $"text")
    docs.union(dupes)
      .groupBy(md5($"text").as("content_md5"))
      .agg(min($"doc_id").as("kept_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy($"kept_doc_id")
  }

  /** Near-dup pairs by exact word-trigram Jaccard — the O(n²)-safe
    * formulation: join on shingle, count intersections, filter. */
  def qNgramNearDups(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    ngramJaccardScored(spark, dir, maxBucket = None)
      .filter($"jac" >= JaccardThreshold)
      .select($"d1", $"d2", round($"jac", 6).as("jaccard"))
      .orderBy($"d1", $"d2")
  }

  /** The shared shingle→sizes→intersections→Jaccard pipeline behind the
    * exhaustive and hot-bucket-capped pair queries (one definition — a
    * join or scoring fix can no longer land in one and miss the other):
    * returns (d1, d2, i, jac) for every candidate pair.
    *
    * The shingle frame feeds three plan branches (sizes + both join
    * sides); cache it — Spark self-joins recompute lineage otherwise
    * (persist(DISK_ONLY) or a checkpoint at cluster scale).
    * Intersections via one groupBy(g) + pair explode — the self-join
    * alternative shuffles the shingle frame (the dominant intermediate)
    * twice and emits k² rows per shingle instead of k(k−1)/2. */
  private def ngramJaccardScored(spark: SparkSession, dir: String,
                                 maxBucket: Option[Int]): DataFrame = {
    import spark.implicits._
    val sh = Dedup.wordShingles(Tables.documents(spark, dir), "doc_id", "text", ShingleN).cache()
    val sizes = sh.groupBy($"id").agg(count(lit(1)).as("n"))
    val inter = Dedup.bucketPairs(sh, Seq("g"), "id", maxBucket = maxBucket)
      .select($"x.pid".as("d1"), $"y.pid".as("d2"))
      .groupBy($"d1", $"d2").agg(count(lit(1)).as("i"))
    inter
      .join(sizes.withColumnRenamed("id", "d1").withColumnRenamed("n", "n1"), "d1")
      .join(sizes.withColumnRenamed("id", "d2").withColumnRenamed("n", "n2"), "d2")
      .select($"d1", $"d2", $"i", ($"i" / ($"n1" + $"n2" - $"i")).as("jac"))
  }

  /** Hot-bucket cap for the capped pair query: shingle buckets larger
    * than this are dropped before pair explosion. */
  private val HotBucketCap = 4
  private val CappedThreshold = 0.5

  /** The 100 TB skew-guard variant of [[qNgramNearDups]]: identical
    * pipeline, but [[Dedup.bucketPairs]] runs with `maxBucket` set, so any
    * shingle shared by more than [[HotBucketCap]] documents is excluded
    * before the k(k−1)/2 pair explosion (a boilerplate shingle shared by
    * 10⁶ docs is 5·10¹¹ pairs — the one skew mode that kills the stage at
    * corpus scale). Capped intersections undercount, so the score is a
    * Jaccard LOWER BOUND; the oracle replicates the cap semantics exactly
    * (hot buckets removed from the join, sizes kept exhaustive). */
  def qNgramCappedNearDups(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    ngramJaccardScored(spark, dir, maxBucket = Some(HotBucketCap))
      .filter($"jac" >= CappedThreshold)
      .select($"d1", $"d2", $"i".as("shared_shingles"), round($"jac", 6).as("jaccard_lb"))
      .orderBy($"d1", $"d2")
  }

  /** MinHash + LSH near-dup detection: signatures → bands → candidate
    * pairs → exact verification. Same 25 planted pairs as the exhaustive
    * query, found without the all-pairs join. */
  def qMinhashLsh(spark: SparkSession, dir: String): DataFrame =
    lshVerifiedPairs(Tables.documents(spark, dir)).orderBy(col("d1"), col("d2"))

  /** The md5 MinHash-LSH chain shared by the near-dup pair, cluster and
    * representative queries: cached shingles → signatures → bands →
    * candidate pairs → exact Jaccard verification. */
  private def lshVerifiedPairs(docs: DataFrame): DataFrame = {
    val sh = Dedup.wordShingles(docs, "doc_id", "text", ShingleN).cache()
    val bands = MinHash.bands(MinHash.signatures(sh, MinhashK), Seq("id"), MinhashK, LshBands)
    Dedup.verifyJaccard(Dedup.lshCandidatePairs(bands), sh, JaccardThreshold)
  }

  /** Near-dup cluster formation: MinHash-LSH verified pairs → connected
    * components → (doc_id, cluster_rep). Pairs alone don't dedup a corpus;
    * the min-id representative per component is what survives. Converges
    * in O(cluster diameter) label-propagation rounds (near-dup clusters
    * are shallow). */
  def qDupClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = lshVerifiedPairs(Tables.documents(spark, dir)).select(col("d1"), col("d2"))
    Dedup.connectedComponents(pairs).orderBy(col("doc_id"))
  }

  /** SimHash near-dup pairs (north-star dedup family, SimHash flavor):
    * portable 64-bit fingerprints → banded self-join → Hamming ≤ 3. The
    * banding is exact for this threshold (pigeonhole over 4×16-bit bands),
    * so the oracle's brute-force all-pairs scan must agree verbatim. */
  def qSimhashNearDups(spark: SparkSession, dir: String): DataFrame = {
    val fps = Dedup.simhashFingerprints(
      Tables.documents(spark, dir), "doc_id", "text")
    Dedup.simhashNearDups(fps, maxHamming = 3, bands = 4)
      .orderBy(col("d1"), col("d2"))
  }

  /** Embedding-cosine near-dup pairs (north-star dedup family, embedding
    * flavor): 16 md5-derived hyperplanes, 4×4-bit bands, exact-cosine
    * verification at ≥ 0.4. Oracle regenerates the identical hyperplanes
    * and banding, checking algorithmic parity end to end. */
  def qEmbeddingCosineNearDups(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vecs = Tables.vectors(spark, dir)
    graft.operators.Similarity.cosineNearDups(vecs, threshold = 0.4, dim = 64)
      .orderBy($"v1", $"v2")
  }

  /** Per-document text statistics: token counts, type-token ratio,
    * stopword ratio, mean token length, quality band (SURVEY north-star:
    * quality scoring + token counting). All narrow ops — no shuffle. */
  def qDocStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ws = Words.tokens($"text")
    Tables.documents(spark, dir)
      .select($"doc_id", ws.as("ws"), $"n_chars")
      .select(
        $"doc_id",
        size($"ws").cast("long").as("n_tokens"),
        size(array_distinct($"ws")).cast("long").as("n_distinct"),
        round(size(array_distinct($"ws")).cast("double") / size($"ws"), 6).as("type_token_ratio"),
        round(expr("aggregate(ws, 0D, (acc, w) -> acc + length(w))") / size($"ws"), 6)
          .as("avg_token_len"),
        round(expr("size(filter(ws, w -> w IN ('the', 'a', 'is', 'of')))").cast("double")
          / size($"ws"), 6).as("stopword_ratio"),
        $"n_chars")
      .withColumn("quality_band",
        when($"n_tokens" >= 60 && $"type_token_ratio" >= 0.3, "good")
          .when($"n_tokens" >= 20, "ok")
          .otherwise("short"))
      .orderBy($"doc_id")
  }

  /** Document fingerprint: lexicographic-min md5 over trigram shingles
    * (a 1-row MinHash) + shingle cardinality — cheap near-identity for
    * incremental dedup against a fingerprint store. */
  def qDocFingerprint(spark: SparkSession, dir: String): DataFrame = {
    Dedup.wordShingles(Tables.documents(spark, dir), "doc_id", "text", ShingleN)
      .groupBy(col("id").as("doc_id"))
      .agg(min(md5(col("g"))).as("fingerprint"), count(lit(1)).as("n_shingles"))
      .orderBy(col("doc_id"))
  }

  /** Binary-code ANN: top-3 nearest documents per probe by Hamming
    * distance over SimHash64 fingerprints — the 8-bytes-per-document
    * search tier below int8/PQ. Oracle replays fingerprint + xor +
    * popcount + ranking exactly. */
  def qHammingTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fps = graft.operators.Dedup
      .simhashFingerprints(Tables.documents(spark, dir), "doc_id", "text")
      .select($"id".as("vec_id"), $"f")
    val probes = fps.filter($"vec_id" < 5)
      .select($"vec_id".as("probe_id"), $"f".as("pf"))
    graft.operators.Similarity.hammingTopK(fps, probes, k = 3)
      .select($"probe_id", $"vec_id", $"dist", $"rank")
      .orderBy($"probe_id", $"rank")
  }

  /** JL random projection 64→16 (north-star: embedding dim reduction —
    * a map-only pass that quarters every downstream similarity shuffle).
    * Exploded to scalar rows for the hash gate; the oracle regenerates
    * the seeded ±1/√16 matrix from the md5 parity formula and replays
    * the ordered fold. */
  def qJlProject(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vecs = Tables.vectors(spark, dir)
    graft.operators.Similarity.jlProject(vecs, inDim = 64, outDim = 16, seed = "r8")
      .select($"vec_id", posexplode($"y").as(Seq("j", "yj")))
      .orderBy($"vec_id", $"j")
  }

  /** Exact top-k in the JL-projected space (the cheap ANN screen; recall
    * vs full-dimension cosine is published by the Bench harness). */
  def qJlTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vecs = Tables.vectors(spark, dir)
    val probes = vecs.filter($"vec_id" < 5)
      .select($"vec_id".as("probe_id"), $"v".as("p"))
    graft.operators.Similarity.jlTopK(vecs, probes, inDim = 64, outDim = 16,
        seed = "r8", k = 3)
      .select($"probe_id", $"vec_id", $"cosine", $"rank")
      .orderBy($"probe_id", $"rank")
  }

  /** Brute-force cosine top-k (SURVEY north-star: similarity search
    * baseline): 5 probe vectors against the full table via broadcast —
    * the fact side never shuffles. Cosines rounded to 4dp before ranking
    * so ordering is reproducible across engines. */
  def qKnnCosine(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vecs = Tables.vectors(spark, dir)
    val probes = vecs.filter($"vec_id" < 5)
      .select($"vec_id".as("probe_id"), $"v".as("p"))
    graft.operators.Similarity.bruteForceTopK(vecs, probes, k = 3)
      .select($"probe_id", $"vec_id", $"cosine", $"rank")
      .orderBy($"probe_id", $"rank")
  }

  /** Embedding-quality audit (north-star: curation review queue):
    * the 5 least-similar members of each sample-trained k-means cell,
    * by ascending integer-ppm cosine to their own centroid — the
    * corrupt-embedding / out-of-distribution stray surfacing pass.
    * Rank-based (not a σ threshold) so the cut is bit-deterministic;
    * the oracle replays sample training, full assignment, the ppm
    * scoring, and the per-cell ascending rank step for step. */
  def qClusterOutliers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vecs = Tables.vectors(spark, dir).cache()
    val cents = graft.operators.Similarity
      .kmeansFit(vecs.filter($"vec_id" % 4 === 0), k = 8, iters = 2)
    graft.operators.Similarity.clusterOutliers(vecs, cents, k = 5)
      .orderBy($"cluster", $"rank")
  }

  /** Diversity-aware selection (north-star: the final cut for RAG
    * context packing / eval-set construction): greedy MMR over each
    * probe's brute-force top-15 — relevance is the retriever's 4-dp
    * cosine in exact ppm, the diversity penalty is the 6-dp pairwise
    * cosine in ppm, λ = 0.7, all-integer scores (never divided — Spark
    * `div` truncates, DuckDB `//` floors, and MMR scores go negative).
    * The sequential greedy loop runs inside the native MmrSelect
    * expression, one row per probe; the oracle replays it with a
    * recursive CTE step for step. */
  def qMmrSelect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vecs = Tables.vectors(spark, dir).cache()
    val probes = vecs.filter($"vec_id" < 3)
      .select($"vec_id".as("probe_id"), $"v".as("p"))
    val top = graft.operators.Similarity.bruteForceTopK(vecs, probes, k = 15)
      .select($"probe_id", $"vec_id",
        expr("CAST(round(cosine * 1000000, 0) AS BIGINT)").as("rel_ppm"))
    // candidate ids broadcast back to the vector table (the rerank join
    // shape) — vectors never shuffle
    val cands = vecs.join(broadcast(top), "vec_id")
    graft.operators.Similarity
      .mmrSelect(cands, "probe_id", "vec_id", "rel_ppm", "v",
        n = 5, lambdaPpm = 700000L)
      .orderBy($"probe_id", $"sel_rank")
  }

  /** IVF-bucketed ANN (north-star: similarity search scale path): clusters
    * come from deterministic k-means training (k=8, 2 assignment rounds —
    * no fixture labels), probes route to the nearest computed centroid,
    * exact search within that cluster only. Oracle replicates training +
    * centroids + routing + ranking step for step. */
  def qIvfTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // cached: k-means references the vector table once per iteration
    // (assignment) plus the final centroid/search passes — at cluster
    // scale this is persist(DISK_ONLY) or train-on-sample
    val vecs = Tables.vectors(spark, dir).cache()
    val probes = vecs.filter($"vec_id" < 5)
      .select($"vec_id".as("probe_id"), $"v".as("p"))
    val labeled = graft.operators.Similarity
      .kmeansLabels(vecs, k = 8, iters = 2).cache()
    graft.operators.Similarity.ivfTopK(labeled, "cluster", probes, k = 3, nprobe = 1)
      .select($"probe_id", $"vec_id", $"cosine", $"rank")
      .orderBy($"probe_id", $"rank")
  }

  /** The 100 TB fit/assign IVF path, oracle-gated end to end: k-means
    * TRAINS only on the deterministic quarter sample (vec_id % 4 == 0),
    * the full table is labeled in one assignClusters pass over the
    * pre-fit centroids, and probes route against THOSE SAME pre-fit
    * centroids (never re-derived means of the assignment — that would be
    * a second full-corpus pass per search). The oracle replays sample
    * training, full assignment, pre-fit routing and ranking step for
    * step. */
  def qIvfSampleTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vecs = Tables.vectors(spark, dir).cache()
    val cents = graft.operators.Similarity
      .kmeansFit(vecs.filter($"vec_id" % 4 === 0), k = 8, iters = 2)
    val probes = vecs.filter($"vec_id" < 5)
      .select($"vec_id".as("probe_id"), $"v".as("p"))
    graft.operators.Similarity
      .ivfTopK(vecs, cents, probes, k = 3, nprobe = 1, roundTo = 4)
      .select($"probe_id", $"vec_id", $"cosine", $"rank")
      .orderBy($"probe_id", $"rank")
  }

  /** Product-quantization ANN end to end (north-star: ANN at 100 TB
    * storage scale — vectors compress to m=4 codes): subspace codebooks
    * trained on the deterministic quarter sample (L2 k-means, 2 rounds,
    * lowest-id seeds), the full corpus encoded in one shuffle-free
    * native-argmin projection, then ADC top-3 for probes 0–4. The oracle
    * replays training, encoding, and the per-probe distance-table sums
    * step for step. */
  def qPqTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vecs = Tables.vectors(spark, dir).cache()
    val cb = graft.operators.Similarity.pqFit(
      vecs.filter($"vec_id" % 4 === 0), m = 4, subDim = 16, ksub = 8, iters = 2)
    val enc = graft.operators.Similarity.pqEncode(vecs, cb)
    val probes = vecs.filter($"vec_id" < 5)
      .select($"vec_id".as("probe_id"), $"v".as("p"))
    graft.operators.Similarity.pqTopK(enc, probes, cb, k = 3)
      .select($"probe_id", $"vec_id", $"adist", $"rank")
      .orderBy($"probe_id", $"rank")
  }

  /** OPQ search end to end (Ge et al. 2013: PQ over a rotated space —
    * the rotation mixes every input dim into every subspace before the
    * codebooks quantize): corpus sliced to 16 dims, rotated through the
    * fixed Sylvester–Hadamard H₁₆/4 (entries ±0.25, exactly
    * representable — bit-deterministic across engines, so the oracle
    * replays the rotation literal for literal), codebooks trained on the
    * rotated quarter sample, full corpus encoded in ONE shuffle-free
    * rotate+argmin projection, probes rotated through the same matrix,
    * ADC top-3. The TRAINED rotation (the SVD Procrustes alternation of
    * `Similarity.opqFit`) is not SQL-expressible and is spec-gated in
    * CurationSpec (orthogonality, distortion drop, recall lift); this
    * row gates the full rotated search pipeline those rotations ride. */
  def qOpqTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vecs = Tables.validEmbeddings(spark, dir)
      .select($"vec_id",
        expr("slice(CAST(embedding AS array<double>), 1, 16)").as("v")).cache()
    val rot = graft.operators.Similarity.hadamardRotation(16)
    val cb = graft.operators.Similarity.pqFit(
      graft.operators.Similarity.rotate(
        vecs.filter($"vec_id" % 4 === 0), "v", rot, roundTo = 6),
      m = 4, subDim = 4, ksub = 8, iters = 2)
    val enc = graft.operators.Similarity.opqEncode(vecs, rot, cb, roundTo = 6)
    val probes = vecs.filter($"vec_id" < 5)
      .select($"vec_id".as("probe_id"), $"v".as("p"))
    graft.operators.Similarity.opqTopK(enc, probes, rot, cb, k = 3, roundTo = 6)
      .select($"probe_id", $"vec_id", $"adist", $"rank")
      .orderBy($"probe_id", $"rank")
  }

  /** Two-stage PQ retrieval (north-star: the ANN shape that actually
    * ships at 100 TB): ADC fetches 50 candidates per probe in the
    * compressed code domain, then only those 50 join back to the full
    * vectors for an exact-cosine top-3 — coarse codes buy the scan,
    * the exact pass buys the ranking (bench: recall@10 ≈ 0.1 raw ADC
    * vs ≈ 1.0 re-ranked). The oracle replays training, encoding, the
    * ADC candidate cut, and the exact re-rank step for step. */
  def qPqRerank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vecs = Tables.vectors(spark, dir).cache()
    val cb = graft.operators.Similarity.pqFit(
      vecs.filter($"vec_id" % 4 === 0), m = 4, subDim = 16, ksub = 8, iters = 2)
    val enc = graft.operators.Similarity.pqEncode(vecs, cb)
    val probes = vecs.filter($"vec_id" < 5)
      .select($"vec_id".as("probe_id"), $"v".as("p"))
    graft.operators.Similarity
      .pqTopKRerank(enc, probes, cb, vecs, k = 3, fetchK = 50)
      .select($"probe_id", $"vec_id", $"cosine", $"rank")
      .orderBy($"probe_id", $"rank")
  }

  /** IVFADC end to end (north-star: THE 100 TB ANN composition — Jégou
    * §IV): coarse k-means and PQ codebooks both train on the
    * deterministic quarter sample, the corpus compresses to
    * (vec_id, coarse cluster, m codes) in ONE shuffle-free projection
    * (`pqIndex` — both argmaxes are native expressions), each probe
    * routes to its 2 closest coarse centroids, and ADC scores only the
    * encoded vectors in those clusters. The oracle replays coarse
    * training, PQ training, the joint index, routing, and the
    * cluster-pruned ADC sums step for step. */
  def qIvfPqTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vecs = Tables.vectors(spark, dir).cache()
    val sample = vecs.filter($"vec_id" % 4 === 0)
    val cents = graft.operators.Similarity.kmeansFit(sample, k = 8, iters = 2)
    val cb = graft.operators.Similarity.pqFit(sample, m = 4, subDim = 16, ksub = 8, iters = 2)
    val index = graft.operators.Similarity.pqIndex(vecs, cents, cb)
    val probes = vecs.filter($"vec_id" < 5)
      .select($"vec_id".as("probe_id"), $"v".as("p"))
    graft.operators.Similarity
      .ivfPqTopK(index, cents, probes, cb, k = 3, nprobe = 2)
      .select($"probe_id", $"vec_id", $"adist", $"rank")
      .orderBy($"probe_id", $"rank")
  }

  /** RESIDUAL IVFADC end to end (Jégou §IV-A — the composition the paper
    * actually ships): identical coarse training/routing to sim_ivfpq_topk,
    * but the PQ codebooks train on and encode `v − centroid[cluster]`
    * residuals, so the code budget resolves within-cell offsets instead of
    * re-encoding the coarse position (bench: recall_ivfpq_res_* vs
    * recall_ivfpq_*). Each probe gets one ADC table per routed cluster,
    * over ITS residual w.r.t. that cluster's centroid. The oracle replays
    * coarse training, full assignment, residual computation, residual PQ
    * training/encoding, per-(probe, cluster) tables, and the pruned ADC
    * sums step for step. */
  def qIvfPqResTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vecs = Tables.vectors(spark, dir).cache()
    val sample = vecs.filter($"vec_id" % 4 === 0)
    val cents = graft.operators.Similarity.kmeansFit(sample, k = 8, iters = 2)
    val cb = graft.operators.Similarity.pqFitResidual(sample, cents,
      m = 4, subDim = 16, ksub = 8, iters = 2)
    val index = graft.operators.Similarity.pqIndexResidual(vecs, cents, cb)
    val probes = vecs.filter($"vec_id" < 5)
      .select($"vec_id".as("probe_id"), $"v".as("p"))
    graft.operators.Similarity
      .ivfPqResidualTopK(index, cents, probes, cb, k = 3, nprobe = 2)
      .select($"probe_id", $"vec_id", $"adist", $"rank")
      .orderBy($"probe_id", $"rank")
  }

  /** Int8-quantized exact top-k (north-star: ANN over compressed
    * embeddings): per-vector symmetric scalar quantization (8× smaller
    * storage), then cosine over the integer codes — the scales cancel,
    * so every dot product and norm is integer-exact and the oracle
    * agrees to the last bit before the one rounded division. */
  def qInt8TopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vecs = Tables.vectors(spark, dir)
    val quant = graft.operators.Similarity.quantizeInt8(vecs).cache()
    val probes = quant.filter($"vec_id" < 5)
      .select($"vec_id".as("probe_id"), $"q".as("pq"))
    graft.operators.Similarity.int8TopK(quant, probes, k = 3)
      .select($"probe_id", $"vec_id", $"cosine", $"rank")
      .orderBy($"probe_id", $"rank")
  }

  /** Language ID via stopword-profile argmax (north-star: language-ID
    * heuristic). Oracle replicates the same profiles + precedence. */
  def qLangId(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Words.tokens(lower($"text"))
    Tables.documents(spark, dir)
      .select($"doc_id", $"lang".as("declared_lang"),
        graft.operators.TextAnalysis.languageGuess(toks).as("lang_guess"))
      .orderBy($"doc_id")
  }

  /** Text-level PII redaction: plant deterministic emails/phone numbers in
    * the (PII-free) corpus text, then count and redact them — the
    * web-corpus scrub, oracle-checked end to end (synthesis + counts +
    * replacement). */
  def qPiiRedact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val withPii = concat($"text",
      lit(" contact user"), $"doc_id".cast("string"), lit("@test.org"),
      // mixed-case email: case-sensitivity regressions must fail the gate
      when($"doc_id" % 3 === 0, lit(" cc John.Doe@Example.COM")).otherwise(lit("")),
      lit(" call 555-"), lpad(($"doc_id" % 10000).cast("string"), 4, "0"))
    val (emails, phones) = TextAnalysis.piiCounts(col("s"))
    Tables.documents(spark, dir)
      .select($"doc_id", withPii.as("s"))
      .select($"doc_id", emails.as("n_emails"), phones.as("n_phones"),
        TextAnalysis.redactPii($"s").as("redacted"))
      .orderBy($"doc_id")
  }

  /** BPE-ish token classing: words / numbers / symbols counted per doc. */
  def qTokenClasses(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (words, nums, syms) = graft.operators.TextAnalysis.tokenClassCounts($"text")
    Tables.documents(spark, dir)
      .select($"doc_id", words.as("n_word_tokens"), nums.as("n_num_tokens"),
        syms.as("n_sym_tokens"))
      .orderBy($"doc_id")
  }

  /** Multimodal metadata extraction: synthesize fake-format media binaries
    * from document fields, then recover width/height/size from the header
    * bytes only (north-star: multimodal columns; the identity oracle
    * checks the header codec). */
  def qMediaMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.Multimodal
    val content = Multimodal.syntheticContent(
      ($"n_chars" % 1920).cast("int"), (($"doc_id" * 7) % 1080).cast("int"), $"text")
    Tables.documents(spark, dir)
      .select($"doc_id", content.as("content"))
      .select($"doc_id", Multimodal.extractMeta($"content", "image").as("m"))
      .select($"doc_id", $"m.kind", $"m.width", $"m.height", $"m.n_bytes")
      .orderBy($"doc_id")
  }

  /** Frame sampling over fake video content: slice each payload into 4
    * equal byte ranges (the frame-extraction stand-in) and emit per-frame
    * length + md5 — the identity oracle checks the slicing arithmetic a
    * real frame grabber would inherit. */
  def qFrameSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.Multimodal
    val content = Multimodal.syntheticContent(
      ($"n_chars" % 1920).cast("int"), (($"doc_id" * 7) % 1080).cast("int"), $"text")
    Tables.documents(spark, dir)
      .select($"doc_id", content.as("content"))
      .select($"doc_id", posexplode(Multimodal.frameSlices($"content", 4)))
      // digest = md5(hex(bytes)): frame extraction slices the payload's
      // BYTES (a media payload is a byte stream — on a multi-byte char a
      // slice boundary may split a code point, by design), and DuckDB 1.0
      // can neither slice nor md5 a BLOB, so both engines hash the
      // uppercase hex of the byte slice — same information, oracle-
      // expressible (hostile-MEDIA wave, r16)
      .select($"doc_id", $"pos".cast("int").as("frame_ix"),
        length($"col").cast("long").as("frame_len"),
        md5(hex($"col")).as("frame_md5"))
      .orderBy($"doc_id", $"frame_ix")
  }

  /** Resize through the header-rewrite stub: every synthetic image scales
    * to 320×240 with the payload cropped to the width ratio; the oracle
    * recomputes the resulting header dims, byte size and payload md5 —
    * the byte-budget arithmetic a real scaler swap inherits. */
  def qMediaResize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.Multimodal
    val content = Multimodal.syntheticContent(
      ($"n_chars" % 1920).cast("int"), (($"doc_id" * 7) % 1080).cast("int"), $"text")
    val resized = Multimodal.resizeStub(content, lit(320), lit(240))
    Tables.documents(spark, dir)
      .select($"doc_id", resized.as("content"))
      // md5(hex(bytes)) digest convention — see qFrameSample
      .select($"doc_id", Multimodal.extractMeta($"content", "image").as("m"),
        md5(hex(substring($"content", 13, Int.MaxValue))).as("payload_md5"))
      .select($"doc_id", $"m.width", $"m.height", $"m.n_bytes", $"payload_md5")
      .orderBy($"doc_id")
  }

  /** Feature extraction through the batched multimodal decode seam:
    * 16-bin code-point histogram per payload (the embedding stand-in),
    * exploded to (doc_id, bin, count, freq) rows so the oracle checks
    * every bin of every vector. */
  def qMediaEmbed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.Multimodal
    val content = Multimodal.syntheticContent(
      ($"n_chars" % 1920).cast("int"), (($"doc_id" * 7) % 1080).cast("int"), $"text")
    // freq divides by length(text) — the histogram counts payload code
    // points, which ARE the text's, and the oracle divides by strlen(text);
    // dividing by the n_chars METADATA column here made parity hang on the
    // fixture generator keeping the two coincidentally equal
    val withHist = Multimodal.byteHistogram(
      Tables.documents(spark, dir)
        .select($"doc_id", length($"text").cast("long").as("__len"),
          content.as("content")),
      "content", bins = 16)
    withHist
      .select($"doc_id", $"__len", posexplode($"hist"))
      // freq is NULL on a zero-code-point payload: 0/0 has no frequency
      // semantics, and the engines' native reads differ (Spark double NaN
      // vs DuckDB NULL) — pinned NULL on both sides (hostile-MEDIA wave)
      .select($"doc_id", $"pos".cast("int").as("bin"),
        $"col".as("bin_count"),
        when($"__len" > 0, round($"col" / $"__len", 6)).as("freq"))
      .orderBy($"doc_id", $"bin")
  }

  /** Gopher-style composite quality filter (north-star: quality scoring):
    * per-rule flags + the ANDed keep decision per document. Every rule is
    * integer-exact (cross-multiplied ratios), so the oracle agrees bit
    * for bit with no float surface. */
  def qQualityFilter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val q = graft.operators.TextAnalysis.qualityFlags($"text")
    Tables.documents(spark, dir)
      .select($"doc_id", q.as("q"))
      .select($"doc_id",
        $"q.n_words".as("n_words"),
        $"q.ok_word_count".as("ok_word_count"),
        $"q.ok_mean_word_len".as("ok_mean_word_len"),
        $"q.ok_alpha_ratio".as("ok_alpha_ratio"),
        $"q.ok_symbol_ratio".as("ok_symbol_ratio"),
        $"q.ok_stopwords".as("ok_stopwords"),
        ($"q.ok_word_count" && $"q.ok_mean_word_len" && $"q.ok_alpha_ratio" &&
          $"q.ok_symbol_ratio" && $"q.ok_stopwords").as("keep"))
      .orderBy($"doc_id")
  }

  /** SemDeDup-style semantic dedup (north-star: embedding-space dedup at
    * corpus scale). The fixture has no true near-dup embeddings (max
    * natural pairwise cosine ≈ 0.51), so perturbed copies of every 10th
    * vector are planted — re-keyed +100000, every component shifted
    * +0.01, cosine ≈ 0.997 to the original — and the operator must remove
    * exactly those under threshold 0.95. The oracle replays the identical
    * k-means (k=8, 2 rounds, lowest-id seeds) over the same planted union
    * and the within-cluster removal rule. */
  def qSemanticDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vecs = Tables.vectors(spark, dir)
    val planted = vecs.filter($"vec_id" % 10 === 0)
      .select(($"vec_id" + 100000L).as("vec_id"),
        transform($"v", x => round(x + lit(0.01), 6)).as("v"))
    // cached: k-means scans the union once per assignment round
    val all = vecs.union(planted).cache()
    graft.operators.Similarity
      .semanticDedup(all, k = 8, iters = 2, threshold = 0.95)
      .orderBy($"removed_vec_id")
  }

  /** The sample-fit SemDeDup path, oracle-gated end to end: same planted
    * near-dup corpus as d_semantic_dedup, but k-means trains only on the
    * deterministic quarter sample (vec_id % 4 == 0) and the full planted
    * union is labeled in one assignClusters pass before the
    * within-cluster removal rule. */
  def qSemanticSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vecs = Tables.vectors(spark, dir)
    val planted = vecs.filter($"vec_id" % 10 === 0)
      .select(($"vec_id" + 100000L).as("vec_id"),
        transform($"v", x => round(x + lit(0.01), 6)).as("v"))
    val all = vecs.union(planted).cache()
    val cents = graft.operators.Similarity
      .kmeansFit(all.filter($"vec_id" % 4 === 0), k = 8, iters = 2)
    graft.operators.Similarity
      .semanticDedup(all, cents, threshold = 0.95)
      .orderBy($"removed_vec_id")
  }

  /** CCNet-style LM quality score: a bigram model counted over every 10th
    * doc (the clean-reference stand-in) scores the whole corpus by mean
    * smoothed bigram probability in integer ppm — the order-independent
    * formulation of the perplexity filter. Model broadcasts; corpus text
    * never shuffles. */
  def qLmScore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    graft.operators.TextAnalysis
      .lmScore(docs, docs.filter($"doc_id" % 10 === 0), "doc_id", "text")
      .orderBy($"doc_id")
  }

  /** Incremental exact dedup (the 100 TB ingestion shape): the corpus
    * (doc_id % 5 ≠ 0) is collapsed ONCE into a content-hash index; the
    * delta batch — the % 5 docs re-keyed +200 k (novel content) plus
    * copies of % 7 corpus docs re-keyed +300 k (already-ingested
    * content) — checks against the stored index without rescanning the
    * corpus. Survivors are the genuinely new hashes, within-delta
    * duplicates collapsed (a % 35 doc arrives twice in the delta). */
  def qIncrementalExact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    val corpus = docs.filter($"doc_id" % 5 =!= 0)
    val delta = docs.filter($"doc_id" % 5 === 0)
      .select(($"doc_id" + 200000L).as("doc_id"), $"text")
      .union(docs.filter($"doc_id" % 7 === 0)
        .select(($"doc_id" + 300000L).as("doc_id"), $"text"))
    val index = Dedup.buildExactIndex(corpus, "doc_id", "text")
    Dedup.dedupDeltaExact(delta, index, "doc_id", "text")
      .orderBy($"kept_id")
  }

  /** Incremental near-dup candidates: the corpus (doc_id % 3 ≠ 0) is
    * banded ONCE into a stored LSH index (md5 minhash family, k=12,
    * 4 bands); the delta — % 3 docs re-keyed +400 k plus verbatim copies
    * of % 7 corpus docs re-keyed +500 k (guaranteed full-band
    * collisions) — pays shingle→signature→bands only for itself and
    * probes the index on (band_id, h). Emits (corpus_id, delta_id)
    * collision pairs; exact-Jaccard verification downstream is the same
    * [[Dedup.verifyJaccard]] the batch path uses. */
  def qIncrementalLsh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    val corpus = docs.filter($"doc_id" % 3 =!= 0)
    val delta = docs.filter($"doc_id" % 3 === 0)
      .select(($"doc_id" + 400000L).as("doc_id"), $"text")
      .union(docs.filter($"doc_id" % 3 =!= 0 && $"doc_id" % 7 === 0)
        .select(($"doc_id" + 500000L).as("doc_id"), $"text"))
    val index = Dedup.buildBandIndex(corpus, "doc_id", "text",
      ShingleN, MinhashK, LshBands)
    Dedup.incrementalNearDupCandidates(index, delta, "doc_id", "text",
      ShingleN, MinhashK, LshBands)
      .orderBy($"corpus_id", $"delta_id")
  }

  /** Canonical representative per near-dup cluster: the d_dup_clusters
    * chain (LSH → verify → connected components) composed with
    * [[Dedup.selectRepresentatives]] under word count as the quality
    * score — each cluster keeps its longest member (ties to the smaller
    * id). The keep/drop decision that actually ends a dedup pipeline. */
  def qRepresentatives(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val pairs = lshVerifiedPairs(docs).select(col("d1"), col("d2"))
    val clusters = Dedup.connectedComponents(pairs)
    val quality = docs.select($"doc_id",
      size(Words.words($"text"))
        .cast("long").as("q"))
    graft.operators.Dedup.selectRepresentatives(clusters, quality, "doc_id", "q")
      .orderBy($"cluster_rep")
  }

  private val LinearBuckets = 4096
  private val LinearWSalt = "lw8:"
  private val LinearHSalt = "fh8:"

  /** Hashed linear quality classifier (fastText-style): every token
    * hashes into one of 4096 buckets, the doc scores the mean integer
    * bucket weight, label thresholds at 0. Weights here are the
    * deterministic pseudo-model (md5-derived ints in [−1000, 1000]) so
    * the oracle regenerates the identical weight for every bucket —
    * structurally exactly what a learned quantized model deploys as.
    * Gated columns are the integer-exact ones (sum_w, label by
    * cross-multiplication); the convenience float `score` is excluded —
    * sum_w/(1000·n) can land exactly on a 6-dp rounding boundary where
    * the two engines' round() disagrees by 1 ulp. */
  def qLinearScore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = graft.operators.TextAnalysis.pseudoWeights(LinearWSalt, LinearBuckets)
    graft.operators.TextAnalysis.hashedLinearScore(
      Tables.documents(spark, dir), "doc_id", "text", w, LinearHSalt, 0.0)
      .select($"doc_id", $"n_tokens", $"sum_w", $"label")
      .orderBy($"doc_id")
  }

  /** Chunk→document embedding: every 4 consecutive vec_ids stand in for
    * one document's chunk embeddings; mean-pool per dimension (6-dp
    * rounded) then L2-normalize — the unit-length doc embedding every
    * doc-level similarity stage downstream consumes. Exploded to scalar
    * (doc_id, i, vi) rows for the hash gate, same shape as
    * [[qJlProject]]. */
  def qMeanPool(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val chunks = Tables.validEmbeddings(spark, dir)
      .select(expr("vec_id div 4").as("doc_id"), $"embedding".as("v"))
    graft.operators.Similarity.l2Normalize(
      graft.operators.Similarity.meanPool(chunks, "doc_id"))
      .select($"doc_id", posexplode($"v").as(Seq("i", "vi")))
      .orderBy($"doc_id", $"i")
  }

  /** Embedding drift between corpus versions: even vec_ids stand in for
    * the previous snapshot, odd for the current one; per cluster label
    * the centroid cosine between versions + both volumes — the
    * per-release distribution-shift monitor. */
  def qEmbeddingDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val em = Tables.validEmbeddings(spark, dir)
      .select($"vec_id", $"label", $"embedding".cast("array<double>").as("v"))
    graft.operators.Similarity.embeddingDrift(
      em.filter($"vec_id" % 2 === 0).select($"label", $"v"),
      em.filter($"vec_id" % 2 === 1).select($"label", $"v"),
      "label")
      .orderBy($"label")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_drift" -> (qEmbeddingDrift _),
    "sim_mean_pool" -> (qMeanPool _),
    "d_incr_exact" -> (qIncrementalExact _),
    "d_incr_lsh" -> (qIncrementalLsh _),
    "d_representatives" -> (qRepresentatives _),
    "t_linear_score" -> (qLinearScore _),
    "d_exact_dedup" -> (qExactDedup _),
    "d_ngram_near_dups" -> (qNgramNearDups _),
    "d_ngram_capped" -> (qNgramCappedNearDups _),
    "d_minhash_lsh" -> (qMinhashLsh _),
    "d_dup_clusters" -> (qDupClusters _),
    "d_simhash" -> (qSimhashNearDups _),
    "d_embedding_cosine" -> (qEmbeddingCosineNearDups _),
    "t_doc_stats" -> (qDocStats _),
    "t_doc_fingerprint" -> (qDocFingerprint _),
    "t_lang_id" -> (qLangId _),
    "t_token_classes" -> (qTokenClasses _),
    "t_pii_redact" -> (qPiiRedact _),
    "m_media_meta" -> (qMediaMeta _),
    "m_frame_sample" -> (qFrameSample _),
    "m_media_embed" -> (qMediaEmbed _),
    "m_media_resize" -> (qMediaResize _),
    "sim_knn_cosine" -> (qKnnCosine _),
    "sim_mmr_select" -> (qMmrSelect _),
    "sim_outliers" -> (qClusterOutliers _),
    "sim_jl_project" -> (qJlProject _),
    "sim_hamming_topk" -> (qHammingTopK _),
    "sim_jl_topk" -> (qJlTopK _),
    "sim_ivf_topk" -> (qIvfTopK _),
    "sim_ivf_sample" -> (qIvfSampleTopK _),
    "sim_pq_topk" -> (qPqTopK _),
    "sim_opq_topk" -> (qOpqTopK _),
    "sim_pq_rerank" -> (qPqRerank _),
    "sim_ivfpq_topk" -> (qIvfPqTopK _),
    "sim_ivfpq_res_topk" -> (qIvfPqResTopK _),
    "sim_int8_topk" -> (qInt8TopK _),
    "t_quality_filter" -> (qQualityFilter _),
    "d_semantic_dedup" -> (qSemanticDedup _),
    "d_semantic_sample" -> (qSemanticSample _),
    "t_lm_score" -> (qLmScore _)
  )

  /** The word-trigram shingle CTE over an arbitrary (doc_id, text)
    * source: the [[graft.operators.Dedup.wordShingles]] twin. */
  private def shingleSqlOver(src: String): String =
    s"""sh AS (
         SELECT doc_id AS id, unnest(list_distinct(${Words.ngramsSql("ws", 3)})) AS g
         FROM (SELECT doc_id, ${Words.wordsSql("text")} AS ws FROM $src)
         WHERE len(ws) >= 3)"""

  private val shingleSql = shingleSqlOver("documents")

  /** The MinHash-LSH pair pipeline (shingles → signatures → bands →
    * candidates → intersections) as a CTE chain shared by the pair and
    * cluster oracles. */
  private val minhashPairCtes =
    s"""${minhashBandCtesOver("documents")},
          cand AS (
            SELECT DISTINCT a.id AS d1, b.id AS d2
            FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.h = b.h AND a.id < b.id),
          sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY 1),
          inter AS (
            SELECT c.d1, c.d2, count(*) AS i
            FROM cand c JOIN sh a ON a.id = c.d1 JOIN sh b ON b.id = c.d2 AND b.g = a.g
            GROUP BY 1, 2)"""

  /** The PQ training + encode + ADC CTE chain (through `approx` =
    * per-candidate summed distance-table lookups) shared by the raw
    * ADC oracle and the exact-re-rank oracle. */
  private val pqAdcCtes: String =
    s"""v AS (${Tables.VectorsSql}),
          s AS (SELECT * FROM v WHERE vec_id % 4 = 0),
          ${Codebook.pqLloydSql("", "s", 4, 16, 8, 2)},
          enc AS (${Codebook.pqEncodeSql("v", "cb", 16)}),
          probes AS (SELECT vec_id AS pid, e AS p FROM v WHERE vec_id < 5),
          ptab AS (${Codebook.distTableSql("probes", Seq("pid"), "cb", 16)}),
          approx AS (
            SELECT t.pid AS probe_id, enc.vec_id, round(sum(t.d), 6) AS adist
            FROM enc JOIN ptab t ON enc.sub = t.sub AND enc.code = t.cluster
            WHERE enc.vec_id <> t.pid
            GROUP BY 1, 2)"""

  /** The OPQ oracle chain: 16-dim slice → fixed Hadamard rotation
    * (literals generated from the SAME `Similarity.hadamardRotation(16)`
    * array the query uses — entries ±0.25 are exactly representable and
    * the explicit left-associated sum replays MatVec's ascending-index
    * accumulation bit for bit) → the sim_pq_topk Lloyd/encode/ADC
    * machinery at subDim = 4 over the rotated space. */
  private val opqAdcCtes: String = {
    val rot = graft.operators.Similarity.hadamardRotation(16)
    val rotatedList = (0 until 16).map { j =>
      val terms = (0 until 16).map(i => s"e[${i + 1}]*(${rot(j)(i)})")
        .mkString(" + ")
      s"round($terms, 6)"
    }.mkString(",\n                   ")
    s"""ov AS (SELECT vec_id,
                   [$rotatedList] AS e
            FROM (${Tables.VectorsSql})),
          os AS (SELECT * FROM ov WHERE vec_id % 4 = 0),
          ${Codebook.pqLloydSql("o", "os", 4, 4, 8, 2)},
          oenc AS (${Codebook.pqEncodeSql("ov", "ocb", 4)}),
          oprobes AS (SELECT vec_id AS pid, e AS p FROM ov WHERE vec_id < 5),
          optab AS (${Codebook.distTableSql("oprobes", Seq("pid"), "ocb", 4)}),
          oapprox AS (
            SELECT t.pid AS probe_id, oenc.vec_id, round(sum(t.d), 6) AS adist
            FROM oenc JOIN optab t ON oenc.sub = t.sub AND oenc.code = t.cluster
            WHERE oenc.vec_id <> t.pid
            GROUP BY 1, 2)"""
  }

  /** The coarse (k-prefixed, sample-trained) k-means + full-corpus
    * assignment + nprobe=2 routing CTE chain appended to the PQ encode
    * chain for the IVFADC oracles — the sim_ivf_sample fit, names
    * prefixed so the two chains coexist. */
  private val ivfCoarseCtes: String =
    s"""${Vectors.lloydSql("k", "v", "s", 8, 2, EmbDim)},
          routed AS (
            SELECT pid, cluster FROM (
              SELECT p.pid, kc.cluster,
                     row_number() OVER (PARTITION BY p.pid ORDER BY
                       ${cosSql("kc.cv", "p.p", 6)}
                       DESC, kc.cluster ASC) AS crank
              FROM probes p, kcents kc) WHERE crank <= 2)"""

  /** The shingle→signature→band CTE chain over an arbitrary (doc_id,
    * text) source CTE — the [[MinHash]] twins, shared with [[minhashPairCtes]],
    * reused by the incremental-LSH oracle where the source is a tagged
    * corpus ∪ delta union instead of the raw documents table. */
  private def minhashBandCtesOver(src: String): String =
    s"""${shingleSqlOver(src)},
       sig AS (${MinHash.signaturesSql("sh", MinhashK)}),
       bands AS (${MinHash.bandsSql(MinhashK, LshBands)})"""

  /** DuckDB twin of [[graft.Tables.validEmbeddings]] — the embedding
    * ingest guard, substituted for every `FROM embeddings` in the oracle
    * map below so BOTH engines score the identical valid set. The
    * hostile-VECTORS fixture wave gates the lockstep: unguarded, NULL /
    * NaN / ±Inf / wrong-dim strays crashed the SQL replays (NaN→BIGINT
    * casts), killed Spark-side k-means (mixed dims), and silently
    * diverged every trained codebook. Modal-dim rule (ties → smaller)
    * matches the Spark side exactly. */
  private[queries] val ValidVecsSub: String =
    """(SELECT vec_id, embedding, label FROM embeddings
        WHERE embedding IS NOT NULL
          AND len(embedding) = (SELECT len(embedding) FROM embeddings
                                WHERE embedding IS NOT NULL AND len(embedding) > 0
                                GROUP BY len(embedding)
                                ORDER BY count(*) DESC, len(embedding) ASC LIMIT 1)
          AND len(list_filter(embedding,
                              x -> x IS NULL OR isnan(x) OR NOT isfinite(x))) = 0
          AND len(list_filter(embedding, x -> x <> 0)) > 0
        QUALIFY row_number() OVER (PARTITION BY vec_id
                                   ORDER BY embedding ASC, label ASC NULLS LAST) = 1)"""

  private[queries] def guardVecs(oracles: Map[String, String]): Map[String, String] =
    oracles.map { case (k, sql) =>
      k -> sql.replace("FROM embeddings", "FROM " + ValidVecsSub + " __vv")
    }

  val oracles: Map[String, String] = guardVecs(Map(
    "sim_drift" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         eo AS (SELECT * FROM e WHERE vec_id % 2 = 0),
         en AS (SELECT * FROM e WHERE vec_id % 2 = 1),
         oc AS (${Vectors.dimMeansSql("eo", Seq("label"), "v", EmbDim, Some(6))}),
         nc AS (${Vectors.dimMeansSql("en", Seq("label"), "v", EmbDim, Some(6))}),
         cnt AS (SELECT label,
                        count(*) FILTER (vec_id % 2 = 0) AS n_old,
                        count(*) FILTER (vec_id % 2 = 1) AS n_new
                 FROM e GROUP BY label)
         SELECT cnt.label, cnt.n_old, cnt.n_new,
                ${cosSql("oc.cv", "nc.cv", 6)} AS drift_cos
         FROM cnt LEFT JOIN oc ON cnt.label IS NOT DISTINCT FROM oc.label
                  LEFT JOIN nc ON cnt.label IS NOT DISTINCT FROM nc.label
         ORDER BY cnt.label""",
    "sim_mean_pool" ->
      s"""WITH c AS (SELECT vec_id // 4 AS doc_id, embedding::DOUBLE[] AS e
                    FROM embeddings),
         mv AS (${Vectors.dimMeansSql("c", Seq("doc_id"), "e", EmbDim, Some(6))}),
         nv AS (SELECT doc_id, cv AS v, ${Vectors.normSql("cv", EmbDim)} AS nrm
                FROM mv)
         SELECT doc_id, CAST(ri - 1 AS INTEGER) AS i,
                CASE WHEN nrm = 0 THEN v[ri]
                     ELSE round(v[ri] / nrm, 6) END + 0.0 AS vi
         FROM nv, range(1, ${EmbDim + 1}) r(ri)
         ORDER BY doc_id, i""",
    "d_incr_exact" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 != 0),
         delta AS (
           SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
           UNION ALL
           SELECT doc_id + 300000, text FROM documents WHERE doc_id % 7 = 0),
         idx AS (SELECT md5(text) AS content_md5 FROM corpus GROUP BY 1),
         novel AS (
           SELECT d.doc_id, md5(d.text) AS content_md5
           FROM delta d ANTI JOIN idx i ON md5(d.text) = i.content_md5)
         SELECT content_md5, min(doc_id) AS kept_id, count(*) AS n_copies
         FROM novel GROUP BY 1 ORDER BY kept_id""",
    "d_incr_lsh" ->
      s"""WITH docs2 AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 3 != 0
           UNION ALL
           SELECT doc_id + 400000, text FROM documents WHERE doc_id % 3 = 0
           UNION ALL
           SELECT doc_id + 500000, text FROM documents
           WHERE doc_id % 3 != 0 AND doc_id % 7 = 0),
         ${minhashBandCtesOver("docs2")}
         SELECT DISTINCT a.id AS corpus_id, b.id AS delta_id
         FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.h = b.h
         WHERE a.id < 400000 AND b.id >= 400000
         ORDER BY corpus_id, delta_id""",
    "d_representatives" ->
      s"""WITH RECURSIVE $minhashPairCtes,
          verified AS (
            SELECT d1, d2
            FROM inter JOIN sizes s1 ON d1 = s1.id JOIN sizes s2 ON d2 = s2.id
            WHERE i * 1.0 / (s1.n + s2.n - i) >= 0.6),
          edges AS (
            SELECT d1 AS a, d2 AS b FROM verified
            UNION SELECT d2, d1 FROM verified),
          reach(a, b) AS (
            SELECT a, b FROM edges
            UNION
            SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
          clusters AS (
            SELECT a AS doc_id, least(a, min(b)) AS cluster_rep
            FROM reach GROUP BY a),
          q AS (SELECT doc_id,
                       len(${Words.wordsSql("text")})::BIGINT AS q
                FROM documents),
          sel AS (
            SELECT c.cluster_rep, c.doc_id, q.q,
                   row_number() OVER (PARTITION BY c.cluster_rep
                                      ORDER BY q.q DESC, c.doc_id ASC) AS rn,
                   count(*) OVER (PARTITION BY c.cluster_rep) AS n_members,
                   max(q.q) OVER (PARTITION BY c.cluster_rep) AS best_q
            FROM clusters c JOIN q ON c.doc_id = q.doc_id)
          SELECT cluster_rep, doc_id AS kept_doc_id, n_members, best_q
          FROM sel WHERE rn = 1 ORDER BY cluster_rep""",
    "t_linear_score" ->
      s"""WITH d0 AS (
           SELECT doc_id, text,
                  row_number() OVER (PARTITION BY doc_id ORDER BY text) AS sub
           FROM documents WHERE text IS NOT NULL),
         d AS (
           SELECT doc_id, sub,
                  ${Words.wordsSql("text")} AS ws
           FROM d0),
         t AS (SELECT doc_id, sub, len(ws)::BIGINT AS n_tokens, unnest(ws) AS tok
               FROM d WHERE len(ws) > 0),
         b AS (SELECT doc_id, sub, n_tokens,
                      (${HashDraw.u24Sql("fh8:", "tok")}) % 4096 AS bk
               FROM t),
         w AS (SELECT doc_id, sub, n_tokens,
                      (${HashDraw.u24Sql("lw8:", "bk")}) % 2001 - 1000 AS wt
               FROM b),
         s AS (SELECT doc_id, sub, min(n_tokens) AS n_tokens,
                      CAST(sum(wt) AS BIGINT) AS sum_w
               FROM w GROUP BY doc_id, sub)
         SELECT doc_id, n_tokens, sum_w,
                CAST(sum_w >= 0 AS INTEGER) AS label
         FROM s ORDER BY doc_id""",
    "d_exact_dedup" ->
      """WITH all_docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0)
         SELECT md5(text) AS content_md5, min(doc_id) AS kept_doc_id, count(*) AS n_copies
         FROM all_docs GROUP BY 1 ORDER BY kept_doc_id""",
    "d_ngram_near_dups" ->
      s"""WITH $shingleSql,
          sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY 1),
          inter AS (
            SELECT a.id AS d1, b.id AS d2, count(*) AS i
            FROM sh a JOIN sh b ON a.g = b.g AND a.id < b.id
            GROUP BY 1, 2)
          SELECT d1, d2, round(i * 1.0 / (s1.n + s2.n - i), 6) AS jaccard
          FROM inter JOIN sizes s1 ON d1 = s1.id JOIN sizes s2 ON d2 = s2.id
          WHERE i * 1.0 / (s1.n + s2.n - i) >= 0.6
          ORDER BY d1, d2""",
    "d_ngram_capped" ->
      s"""WITH $shingleSql,
          hot AS (SELECT g FROM sh GROUP BY g HAVING count(*) > 4),
          kept AS (SELECT s.id, s.g FROM sh s ANTI JOIN hot h ON s.g = h.g),
          sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY 1),
          inter AS (
            SELECT a.id AS d1, b.id AS d2, count(*) AS i
            FROM kept a JOIN kept b ON a.g = b.g AND a.id < b.id
            GROUP BY 1, 2)
          SELECT d1, d2, i AS shared_shingles,
                 round(i * 1.0 / (s1.n + s2.n - i), 6) AS jaccard_lb
          FROM inter JOIN sizes s1 ON d1 = s1.id JOIN sizes s2 ON d2 = s2.id
          WHERE i * 1.0 / (s1.n + s2.n - i) >= 0.5
          ORDER BY d1, d2""",
    "d_minhash_lsh" ->
      s"""WITH $minhashPairCtes
          SELECT d1, d2, round(i * 1.0 / (s1.n + s2.n - i), 6) AS jaccard
          FROM inter JOIN sizes s1 ON d1 = s1.id JOIN sizes s2 ON d2 = s2.id
          WHERE i * 1.0 / (s1.n + s2.n - i) >= 0.6
          ORDER BY d1, d2""",
    "d_dup_clusters" ->
      s"""WITH RECURSIVE $minhashPairCtes,
          verified AS (
            SELECT d1, d2
            FROM inter JOIN sizes s1 ON d1 = s1.id JOIN sizes s2 ON d2 = s2.id
            WHERE i * 1.0 / (s1.n + s2.n - i) >= 0.6),
          edges AS (
            SELECT d1 AS a, d2 AS b FROM verified
            UNION SELECT d2, d1 FROM verified),
          reach(a, b) AS (
            SELECT a, b FROM edges
            UNION
            SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
          SELECT a AS doc_id, least(a, min(b)) AS cluster_rep
          FROM reach GROUP BY a ORDER BY doc_id""",
    "d_simhash" ->
      s"""WITH toks AS (
           SELECT doc_id, unnest(${Words.tokensSql("lower(text)")}) AS t
           FROM documents),
         th AS (SELECT doc_id, substr(md5(t), 1, 16) AS h16 FROM toks),
         bits AS (
           SELECT doc_id, b,
                  CASE WHEN sum(((strpos('0123456789abcdef', substr(h16, 1 + b // 4, 1)) - 1)
                                 // power(2, b % 4)::INT) % 2 * 2 - 1) > 0
                       THEN 1 ELSE 0 END AS bit
           FROM th, range(0, 64) r(b)
           GROUP BY doc_id, b),
         fp AS (
           SELECT doc_id, sum(CASE WHEN bit = 1 AND b < 63 THEN (power(2, b))::BIGINT
                                   WHEN bit = 1 THEN -9223372036854775808 ELSE 0 END)::BIGINT AS f
           FROM bits GROUP BY doc_id)
         SELECT a.doc_id AS d1, b.doc_id AS d2, bit_count(xor(a.f, b.f)) AS hamming
         FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.f, b.f)) <= 3
         ORDER BY d1, d2""",
    "d_embedding_cosine" ->
      s"""WITH v AS (${Tables.VectorsSql}),
         hp AS (
           SELECT p, i,
                  CASE WHEN (strpos('0123456789abcdef',
                             substr(md5('hp:' || p || ':' || i), 1, 1)) - 1) % 2 = 0
                       THEN 1.0 ELSE -1.0 END AS s
           FROM range(0, 16) r(p), range(0, $EmbDim) q(i)),
         hpl AS (SELECT p, list(s ORDER BY i) AS sv FROM hp GROUP BY p),
         bits AS (
           -- per-row sequential list fold (i ascending), matching Spark's
           -- aggregate() order exactly — a group-sum over unnested dims
           -- would be summation-order-dependent under parallel aggregation
           SELECT v.vec_id, hpl.p,
                  CASE WHEN round(${Vectors.dotSql("hpl.sv", "v.e", EmbDim)}, 6) >= 0
                       THEN 1 ELSE 0 END AS bit
           FROM v, hpl),
         codes AS (
           SELECT vec_id, p // 4 AS band,
                  sum(bit * power(2, p % 4)::INT)::INT AS code
           FROM bits GROUP BY vec_id, p // 4),
         cand AS (
           SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
           FROM codes a JOIN codes b
             ON a.band = b.band AND a.code = b.code AND a.vec_id < b.vec_id),
         verified AS (
           SELECT c.v1, c.v2,
                  ${cosSql("a.e", "b.e", 4)} AS cosine
           FROM cand c JOIN v a ON a.vec_id = c.v1 JOIN v b ON b.vec_id = c.v2)
         SELECT v1, v2, cosine FROM verified
         WHERE cosine >= 0.4 AND NOT isnan(cosine) ORDER BY v1, v2""",
    "m_media_resize" ->
      // byte semantics + md5(hex(bytes)) digest, lockstep with the
      // operator (see m_frame_sample). A null-text row synthesizes NULL
      // content, so every output field of that row is NULL — including
      // the constant target dims (hostile-MEDIA wave)
      // h is NULL exactly when content construction fails (null text OR
      // null n_chars) and gates every output: DuckDB's greatest/least
      // IGNORE NULL arguments, so the ungated arithmetic would invent
      // k=1 / n_bytes=13 for a row Spark nulls wholesale
      """WITH m AS (
           SELECT doc_id, n_chars % 1920 AS ow,
                  CASE WHEN n_chars IS NOT NULL THEN hex(encode(text)) END AS h,
                  octet_length(encode(text)) AS plen
           FROM documents),
         calc AS (
           SELECT doc_id, h, plen,
                  CASE WHEN h IS NOT NULL THEN
                    greatest(1, CAST(floor((plen * 320.0) / greatest(ow, 1)) AS BIGINT))
                  END AS k
           FROM m)
         SELECT doc_id,
                CAST(CASE WHEN k IS NOT NULL THEN 320 END AS INTEGER) AS width,
                CAST(CASE WHEN k IS NOT NULL THEN 240 END AS INTEGER) AS height,
                CAST(CASE WHEN k IS NOT NULL
                          THEN 12 + least(k, plen) END AS BIGINT) AS n_bytes,
                md5(substr(h, 1, CAST(2 * k AS INT))) AS payload_md5
         FROM calc ORDER BY doc_id""",
    "t_doc_stats" ->
      s"""SELECT doc_id,
                len(ws) AS n_tokens,
                len(list_distinct(ws)) AS n_distinct,
                round(len(list_distinct(ws)) * 1.0 / len(ws), 6) AS type_token_ratio,
                round(list_sum(list_transform(ws, w -> length(w))) * 1.0 / len(ws), 6)
                  AS avg_token_len,
                round(len(list_filter(ws, w -> w IN ('the', 'a', 'is', 'of'))) * 1.0
                  / len(ws), 6) AS stopword_ratio,
                n_chars,
                CASE
                  WHEN len(ws) >= 60
                       AND round(len(list_distinct(ws)) * 1.0 / len(ws), 6) >= 0.3
                    THEN 'good'
                  WHEN len(ws) >= 20 THEN 'ok'
                  ELSE 'short'
                END AS quality_band
         FROM (SELECT doc_id, n_chars, ${Words.tokensSql("text")} AS ws
               FROM documents)
         ORDER BY doc_id""",
    "t_doc_fingerprint" ->
      s"""WITH $shingleSql
          SELECT id AS doc_id, min(md5(g)) AS fingerprint, count(*) AS n_shingles
          FROM sh GROUP BY 1 ORDER BY doc_id""",
    "t_lang_id" ->
      s"""SELECT doc_id, lang AS declared_lang,
                CASE
                  WHEN en >= de AND en >= es AND en >= fr AND en > 0 THEN 'en'
                  WHEN de >= es AND de >= fr AND de > 0 THEN 'de'
                  WHEN es >= fr AND es > 0 THEN 'es'
                  WHEN fr > 0 THEN 'fr'
                  ELSE 'und'
                END AS lang_guess
         FROM (
           SELECT doc_id, lang,
             len(list_filter(ws, t -> t IN ('the','a','is','of','and','to'))) AS en,
             len(list_filter(ws, t -> t IN ('der','die','das','und','ist'))) AS de,
             len(list_filter(ws, t -> t IN ('el','los','las','y','una'))) AS es,
             len(list_filter(ws, t -> t IN ('le','les','et','est','une'))) AS fr
           FROM (SELECT doc_id, lang,
                        ${Words.tokensSql("lower(text)")} AS ws
                 FROM documents))
         ORDER BY doc_id""",
    "t_token_classes" ->
      """SELECT doc_id,
                len(regexp_extract_all(lower(text), '[a-z]+')) AS n_word_tokens,
                len(regexp_extract_all(lower(text), '[0-9]+')) AS n_num_tokens,
                len(regexp_extract_all(lower(text), '[^a-z0-9 \t\n\f\r]')) AS n_sym_tokens
         FROM documents ORDER BY doc_id""",
    "t_pii_redact" ->
      """WITH pii AS (
           SELECT doc_id,
                  text || ' contact user' || doc_id || '@test.org' ||
                  (CASE WHEN doc_id % 3 = 0 THEN ' cc John.Doe@Example.COM' ELSE '' END) ||
                  ' call 555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') AS s
           FROM documents)
         SELECT doc_id,
                CAST(len(regexp_extract_all(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+')) AS BIGINT)
                  AS n_emails,
                CAST(len(regexp_extract_all(
                  regexp_replace(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
                  '[0-9]{3}-[0-9]{4}')) AS BIGINT)
                  AS n_phones,
                regexp_replace(
                  regexp_replace(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
                  '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted
         FROM pii ORDER BY doc_id""",
    "m_media_meta" ->
      // a null text or null n_chars synthesizes NULL content, so every
      // header-derived field of that row is NULL — including dims whose
      // formula would otherwise still evaluate (hostile-MEDIA wave);
      // kind stays 'image': it is caller-supplied, not content-derived
      """SELECT doc_id,
                'image' AS kind,
                CAST(CASE WHEN text IS NOT NULL THEN n_chars % 1920 END
                     AS INTEGER) AS width,
                CAST(CASE WHEN text IS NOT NULL AND n_chars IS NOT NULL
                          THEN (doc_id * 7) % 1080 END AS INTEGER) AS height,
                CAST(CASE WHEN n_chars IS NOT NULL
                          THEN 12 + strlen(text) END AS BIGINT) AS n_bytes
         FROM documents ORDER BY doc_id""",
    "m_frame_sample" ->
      // BYTE semantics in lockstep with the operator (hostile-MEDIA wave):
      // frames slice the payload's bytes, not characters — n counts UTF-8
      // bytes and the slice is taken on the hex string at 2x byte offsets
      // (DuckDB 1.0 cannot slice/md5 BLOBs); digest = md5(hex(bytes)) on
      // both sides
      // h/n gated on n_chars like every sibling media oracle: a null
      // n_chars synthesizes NULL content even when text is present, so
      // the row's frames are NULL on both sides
      """WITH d AS (SELECT doc_id,
                           CASE WHEN n_chars IS NOT NULL
                                THEN hex(encode(text)) END AS h,
                           CASE WHEN n_chars IS NOT NULL
                                THEN octet_length(encode(text)) END AS n
                    FROM documents)
         SELECT doc_id,
                CAST(i AS INTEGER) AS frame_ix,
                CAST(n // 4 AS BIGINT) AS frame_len,
                md5(substr(h, CAST(1 + 2 * ((n * i) // 4) AS INT),
                           CAST(2 * (n // 4) AS INT))) AS frame_md5
         FROM d, range(0, 4) r(i)
         ORDER BY doc_id, frame_ix""",
    "m_media_embed" ->
      // only rows whose content CONSTRUCTION succeeds emit bins: a null
      // text or null n_chars synthesizes NULL content, whose histogram is
      // a poisoned row (no bins), not a zero vector; freq is NULL on a
      // zero-code-point payload — 0/0 has no frequency semantics
      // (hostile-MEDIA wave, lockstep with the Spark side)
      // c <> '': string_split('', '') yields [''] — a phantom empty char
      // (ascii 0) that Spark's codePoints() of an empty payload does not
      // contain (same phantom-empty-token rule as the boilerplate oracle).
      // Per-ROW histograms keyed on (doc_id, sub): a document is a corpus
      // row — duplicate doc_ids are two documents, each with its own
      // histogram, never a merged per-id count (same rule as t_linear_score)
      """WITH rws AS (
           SELECT doc_id, text, length(text) AS len,
                  row_number() OVER (PARTITION BY doc_id ORDER BY text) AS sub
           FROM documents
           WHERE text IS NOT NULL AND n_chars IS NOT NULL),
         cnt AS (
           SELECT doc_id, sub, ascii(c) % 16 AS bin, count(*) AS n
           FROM (SELECT doc_id, sub, unnest(string_split(text, '')) AS c FROM rws)
           WHERE c <> ''
           GROUP BY 1, 2, 3)
         SELECT r.doc_id,
                CAST(b.bin AS INTEGER) AS bin,
                CAST(coalesce(cnt.n, 0) AS BIGINT) AS bin_count,
                CASE WHEN r.len > 0
                     THEN round(coalesce(cnt.n, 0) * 1.0 / r.len, 6) END AS freq
         FROM rws r CROSS JOIN range(0, 16) b(bin)
         LEFT JOIN cnt ON cnt.doc_id = r.doc_id AND cnt.sub = r.sub
                      AND cnt.bin = b.bin
         ORDER BY 1, 2""",
    "sim_hamming_topk" ->
      s"""WITH toks AS (
           SELECT doc_id, unnest(${Words.tokensSql("lower(text)")}) AS t
           FROM documents),
         th AS (SELECT doc_id, substr(md5(t), 1, 16) AS h16 FROM toks),
         bits AS (
           SELECT doc_id, b,
                  CASE WHEN sum(((strpos('0123456789abcdef', substr(h16, 1 + b // 4, 1)) - 1)
                                 // power(2, b % 4)::INT) % 2 * 2 - 1) > 0
                       THEN 1 ELSE 0 END AS bit
           FROM th, range(0, 64) r(b)
           GROUP BY doc_id, b),
         fp AS (
           SELECT doc_id, sum(CASE WHEN bit = 1 AND b < 63 THEN (power(2, b))::BIGINT
                                   WHEN bit = 1 THEN -9223372036854775808 ELSE 0 END)::BIGINT AS f
           FROM bits GROUP BY doc_id),
         probes AS (SELECT doc_id AS probe_id, f AS pf FROM fp WHERE doc_id < 5),
         scored AS (
           SELECT probe_id, fp.doc_id AS vec_id,
                  CAST(bit_count(xor(pf, f)) AS INTEGER) AS dist
           FROM fp, probes WHERE fp.doc_id <> probe_id),
         ranked AS (
           SELECT probe_id, vec_id, dist,
                  row_number() OVER (PARTITION BY probe_id
                                     ORDER BY dist ASC, vec_id ASC) AS rank
           FROM scored)
         SELECT probe_id, vec_id, dist, rank
         FROM ranked WHERE rank <= 3
         ORDER BY probe_id, rank""",
    "sim_jl_project" ->
      s"""WITH v AS (${Tables.VectorsSql}),
          jm AS (
            SELECT j, i,
                   (CASE WHEN (strpos('0123456789abcdef',
                               substr(md5('jl:r8:' || j || ':' || i), 1, 1)) - 1) % 2 = 0
                         THEN 1.0 ELSE -1.0 END) / sqrt(16) AS s
            FROM range(0, 16) r(j), range(0, $EmbDim) q(i)),
          jml AS (SELECT j, list(s ORDER BY i) AS sv FROM jm GROUP BY j)
          -- per-row sequential list fold (i ascending), matching the
          -- MatVec/aggregate() accumulation order exactly
          SELECT v.vec_id, CAST(jml.j AS INTEGER) AS j,
                 round(${Vectors.dotSql("jml.sv", "v.e", EmbDim)}, 6) AS yj
          FROM v, jml ORDER BY vec_id, j""",
    "sim_jl_topk" ->
      s"""WITH v AS (${Tables.VectorsSql}),
          jm AS (
            SELECT j, i,
                   (CASE WHEN (strpos('0123456789abcdef',
                               substr(md5('jl:r8:' || j || ':' || i), 1, 1)) - 1) % 2 = 0
                         THEN 1.0 ELSE -1.0 END) / sqrt(16) AS s
            FROM range(0, 16) r(j), range(0, $EmbDim) q(i)),
          jml AS (SELECT j, list(s ORDER BY i) AS sv FROM jm GROUP BY j),
          proj AS (
            SELECT v.vec_id, jml.j,
                   round(${Vectors.dotSql("jml.sv", "v.e", EmbDim)}, 6) AS yj
            FROM v, jml),
          py AS (SELECT vec_id, list(yj ORDER BY j) AS y FROM proj GROUP BY vec_id),
          probes AS (SELECT vec_id AS probe_id, y AS p FROM py WHERE vec_id < 5),
          scored AS (
            SELECT probe_id, py.vec_id,
                   ${Vectors.cosineSql("p", "y", 16, 4)} AS cosine
            FROM py, probes WHERE py.vec_id <> probe_id),
          ranked AS (
            SELECT probe_id, vec_id, cosine,
                   row_number() OVER (PARTITION BY probe_id
                                      ORDER BY cosine DESC, vec_id ASC) AS rank
            FROM scored WHERE NOT isnan(cosine))
          SELECT probe_id, vec_id, cosine, rank
          FROM ranked WHERE rank <= 3
          ORDER BY probe_id, rank""",
    "sim_knn_cosine" ->
      s"""WITH v AS (${Tables.VectorsSql}),
          probes AS (SELECT vec_id AS probe_id, e AS p FROM v WHERE vec_id < 5),
          scored AS (
            SELECT probe_id, vec_id, ${cosSql("p", "e", 4)} AS cosine
            FROM v, probes WHERE vec_id <> probe_id),
          ranked AS (
            SELECT probe_id, vec_id, cosine,
                   row_number() OVER (PARTITION BY probe_id
                                      ORDER BY cosine DESC, vec_id ASC) AS rank
            FROM scored WHERE NOT isnan(cosine))
          SELECT probe_id, vec_id, cosine, rank
          FROM ranked WHERE rank <= 3
          ORDER BY probe_id, rank""",
    "sim_mmr_select" ->
      s"""WITH RECURSIVE
          v AS (${Tables.VectorsSql}),
          probes AS (SELECT vec_id AS probe_id, e AS p FROM v WHERE vec_id < 3),
          scored AS (
            SELECT probe_id, vec_id, ${cosSql("p", "e", 4)} AS cosine
            FROM v, probes WHERE vec_id <> probe_id),
          knn AS (
            SELECT probe_id, vec_id, cosine FROM (
              SELECT probe_id, vec_id, cosine,
                     row_number() OVER (PARTITION BY probe_id
                                        ORDER BY cosine DESC, vec_id ASC) AS r
              FROM scored WHERE NOT isnan(cosine)) WHERE r <= 15),
          cand AS (SELECT probe_id AS qid, vec_id AS id,
                          CAST(round(cosine * 1000000, 0) AS BIGINT) AS rel
                   FROM knn),
          ps AS (
            SELECT a.qid, a.id AS a, b.id AS b,
                   CAST(round(${cosSql("va.e", "vb.e", 6)} * 1000000, 0) AS BIGINT) AS sp
            FROM cand a
            JOIN cand b ON a.qid = b.qid AND a.id <> b.id
            JOIN v va ON va.vec_id = a.id
            JOIN v vb ON vb.vec_id = b.id),
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
          SELECT qid AS probe_id, CAST(r AS INTEGER) AS sel_rank,
                 chosen[r] AS vec_id
          FROM best, range(1, 6) t(r)
          WHERE r <= len(chosen)
          ORDER BY probe_id, sel_rank""",
    "sim_ivf_topk" ->
      s"""WITH v AS (${Tables.VectorsSql}),
          ${Vectors.lloydSql("", "v", "v", 8, 2, EmbDim)},
          means AS (${Vectors.dimMeansSql("labels", Seq("cluster"), "e", EmbDim, None)}),
          probes AS (SELECT vec_id AS pid, e AS p FROM v WHERE vec_id < 5),
          probe_cent AS (
            SELECT pid, p, cluster, ${cosSql("cv", "p", 6)} AS ccos
            FROM probes, means),
          routed AS (
            SELECT pid, p, cluster FROM (
              SELECT pid, p, cluster,
                     row_number() OVER (PARTITION BY pid
                                        ORDER BY ccos DESC, cluster ASC) AS crank
              FROM probe_cent) WHERE crank <= 1),
          scored AS (
            SELECT r.pid AS probe_id, a.vec_id, ${cosSql("a.e", "r.p", 4)} AS cosine
            FROM labels a JOIN routed r ON a.cluster = r.cluster AND a.vec_id <> r.pid),
          ranked AS (
            SELECT probe_id, vec_id, cosine,
                   row_number() OVER (PARTITION BY probe_id
                                      ORDER BY cosine DESC, vec_id ASC) AS rank
            FROM scored WHERE NOT isnan(cosine))
          SELECT probe_id, vec_id, cosine, rank
          FROM ranked WHERE rank <= 3
          ORDER BY probe_id, rank""",
    "sim_ivf_sample" ->
      s"""WITH v AS (${Tables.VectorsSql}),
          s AS (SELECT * FROM v WHERE vec_id % 4 = 0),
          ${Vectors.lloydSql("", "v", "s", 8, 2, EmbDim)},
          probes AS (SELECT vec_id AS pid, e AS p FROM v WHERE vec_id < 5),
          probe_cent AS (
            SELECT pid, p, kc.cluster, ${cosSql("kc.cv", "p", 6)} AS ccos
            FROM probes, cents kc),
          routed AS (
            SELECT pid, p, cluster FROM (
              SELECT pid, p, cluster,
                     row_number() OVER (PARTITION BY pid
                                        ORDER BY ccos DESC, cluster ASC) AS crank
              FROM probe_cent) WHERE crank <= 1),
          scored AS (
            SELECT r.pid AS probe_id, a.vec_id, ${cosSql("a.e", "r.p", 4)} AS cosine
            FROM labels a JOIN routed r ON a.cluster = r.cluster AND a.vec_id <> r.pid),
          ranked AS (
            SELECT probe_id, vec_id, cosine,
                   row_number() OVER (PARTITION BY probe_id
                                      ORDER BY cosine DESC, vec_id ASC) AS rank
            FROM scored WHERE NOT isnan(cosine))
          SELECT probe_id, vec_id, cosine, rank
          FROM ranked WHERE rank <= 3
          ORDER BY probe_id, rank""",
    "sim_pq_topk" -> s"""WITH $pqAdcCtes,
          ranked AS (
            SELECT probe_id, vec_id, adist,
                   row_number() OVER (PARTITION BY probe_id
                                      ORDER BY adist ASC, vec_id ASC) AS rank
            FROM approx)
          SELECT probe_id, vec_id, adist, rank
          FROM ranked WHERE rank <= 3
          ORDER BY probe_id, rank""",
    "sim_opq_topk" -> s"""WITH $opqAdcCtes,
          ranked AS (
            SELECT probe_id, vec_id, adist,
                   row_number() OVER (PARTITION BY probe_id
                                      ORDER BY adist ASC, vec_id ASC) AS rank
            FROM oapprox)
          SELECT probe_id, vec_id, adist, rank
          FROM ranked WHERE rank <= 3
          ORDER BY probe_id, rank""",
    "sim_ivfpq_topk" -> s"""WITH $pqAdcCtes,
          $ivfCoarseCtes,
          ivfapprox AS (
            SELECT t.pid AS probe_id, enc.vec_id, round(sum(t.d), 6) AS adist
            FROM enc
            JOIN klabels l ON l.vec_id = enc.vec_id
            JOIN ptab t ON enc.sub = t.sub AND enc.code = t.cluster
            JOIN routed r ON r.pid = t.pid AND r.cluster = l.cluster
            WHERE enc.vec_id <> t.pid
            GROUP BY 1, 2),
          ranked AS (
            SELECT probe_id, vec_id, adist,
                   row_number() OVER (PARTITION BY probe_id
                                      ORDER BY adist ASC, vec_id ASC) AS rank
            FROM ivfapprox)
          SELECT probe_id, vec_id, adist, rank
          FROM ranked WHERE rank <= 3
          ORDER BY probe_id, rank""",
    "sim_outliers" -> s"""WITH $pqAdcCtes,
          $ivfCoarseCtes,
          osc AS (
            SELECT l.cluster, l.vec_id,
                   CASE WHEN ${Vectors.dotSql("l.e", "l.e", EmbDim)} = 0
                          OR ${Vectors.dotSql("kc.cv", "kc.cv", EmbDim)} = 0
                        THEN NULL
                        ELSE CAST(round(${cosSql("l.e", "kc.cv", 6)} * 1000000, 0) AS BIGINT)
                   END AS cos_ppm
            FROM klabels l JOIN kcents kc ON kc.cluster = l.cluster),
          oranked AS (
            SELECT cluster, vec_id, cos_ppm,
                   row_number() OVER (PARTITION BY cluster
                                      ORDER BY cos_ppm ASC, vec_id ASC) AS rank
            FROM osc WHERE cos_ppm IS NOT NULL)
          SELECT cluster, vec_id, cos_ppm, rank
          FROM oranked WHERE rank <= 5
          ORDER BY cluster, rank""",
    "sim_ivfpq_res_topk" -> s"""WITH $pqAdcCtes,
          $ivfCoarseCtes,
          rres AS (
            SELECT l.vec_id, [l.e[i] - kc.cv[i] for i in range(1, ${EmbDim + 1})] AS e
            FROM klabels l JOIN kcents kc ON kc.cluster = l.cluster),
          rs AS (SELECT vec_id, e FROM rres WHERE vec_id % 4 = 0),
          ${Codebook.pqLloydSql("r", "rs", 4, 16, 8, 2)},
          renc AS (${Codebook.pqEncodeSql("rres", "rcb", 16)}),
          rprobes AS (
            SELECT r.pid, r.cluster AS ccl,
                   [p.p[i] - kc.cv[i] for i in range(1, ${EmbDim + 1})] AS p
            FROM routed r
            JOIN probes p ON p.pid = r.pid
            JOIN kcents kc ON kc.cluster = r.cluster),
          rptab AS (${Codebook.distTableSql("rprobes", Seq("pid", "ccl"), "rcb", 16)}),
          rapprox AS (
            SELECT t.pid AS probe_id, renc.vec_id, round(sum(t.d), 6) AS adist
            FROM renc
            JOIN klabels l ON l.vec_id = renc.vec_id
            JOIN rptab t ON renc.sub = t.sub AND renc.code = t.cluster
                        AND l.cluster = t.ccl
            WHERE renc.vec_id <> t.pid
            GROUP BY 1, 2),
          rranked AS (
            SELECT probe_id, vec_id, adist,
                   row_number() OVER (PARTITION BY probe_id
                                      ORDER BY adist ASC, vec_id ASC) AS rank
            FROM rapprox)
          SELECT probe_id, vec_id, adist, rank
          FROM rranked WHERE rank <= 3
          ORDER BY probe_id, rank""",
    "sim_pq_rerank" -> s"""WITH $pqAdcCtes,
          cand AS (
            SELECT probe_id, vec_id FROM (
              SELECT probe_id, vec_id,
                     row_number() OVER (PARTITION BY probe_id
                                        ORDER BY adist ASC, vec_id ASC) AS crank
              FROM approx) WHERE crank <= 50),
          rescored AS (
            SELECT c.probe_id, c.vec_id, ${cosSql("p.p", "b.e", 4)} AS cosine
            FROM cand c JOIN v b ON b.vec_id = c.vec_id
                        JOIN probes p ON p.pid = c.probe_id),
          rranked AS (
            SELECT probe_id, vec_id, cosine,
                   row_number() OVER (PARTITION BY probe_id
                                      ORDER BY cosine DESC, vec_id ASC) AS rank
            FROM rescored WHERE NOT isnan(cosine))
          SELECT probe_id, vec_id, cosine, rank
          FROM rranked WHERE rank <= 3
          ORDER BY probe_id, rank""",
    "sim_int8_topk" ->
      s"""WITH v AS (${Tables.VectorsSql}),
          s AS (SELECT vec_id, e,
                       list_max([abs(x) for x in e]) / 127 AS scale
                FROM v),
          qt AS (SELECT vec_id,
                        CASE WHEN scale = 0 THEN [CAST(0 AS BIGINT) for x in e]
                             ELSE [CAST(round(x / scale) AS BIGINT) for x in e]
                        END AS q
                 FROM s),
          probes AS (SELECT vec_id AS pid, q AS pq FROM qt WHERE vec_id < 5),
          scored AS (
            SELECT p.pid AS probe_id, t.vec_id, ${cosSql("t.q", "p.pq", 4)} AS cosine
            FROM qt t, probes p WHERE t.vec_id <> p.pid),
          ranked AS (
            SELECT probe_id, vec_id, cosine,
                   row_number() OVER (PARTITION BY probe_id
                                      ORDER BY cosine DESC, vec_id ASC) AS rank
            FROM scored WHERE NOT isnan(cosine))
          SELECT probe_id, vec_id, cosine, rank
          FROM ranked WHERE rank <= 3
          ORDER BY probe_id, rank""",
    "t_quality_filter" ->
      s"""WITH w AS (SELECT doc_id,
                           ${Words.wordsSql("text")} AS ws
                    FROM documents),
          m AS (SELECT doc_id,
                       len(ws) AS n,
                       list_sum([length(x) for x in ws]) AS wchars,
                       len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
                       len(list_filter(ws, x -> x IN ('#', '...'))) AS n_sym,
                       len(list_filter(ws, x -> x IN ('the','be','to','of','and',
                                                      'that','have','with','a','in',
                                                      'is','for'))) AS n_stop
                FROM w)
          SELECT doc_id,
                 CAST(n AS BIGINT) AS n_words,
                 n BETWEEN 10 AND 1000 AS ok_word_count,
                 wchars BETWEEN n * 3 AND n * 10 AS ok_mean_word_len,
                 n_alpha * 5 >= n * 4 AS ok_alpha_ratio,
                 n_sym * 10 <= n AS ok_symbol_ratio,
                 n_stop >= 2 AS ok_stopwords,
                 (n BETWEEN 10 AND 1000) AND (wchars BETWEEN n * 3 AND n * 10)
                   AND n_alpha * 5 >= n * 4 AND n_sym * 10 <= n AND n_stop >= 2
                   AS keep
          FROM m ORDER BY doc_id""",
    "d_semantic_dedup" ->
      s"""WITH base AS (${Tables.VectorsSql}),
          pl AS (SELECT vec_id + 100000 AS vec_id, [round(x + 0.01, 6) for x in e] AS e
                 FROM base WHERE vec_id % 10 = 0),
          v AS (SELECT * FROM base UNION ALL SELECT * FROM pl),
          ${Vectors.lloydSql("", "v", "v", 8, 2, EmbDim)},
          p AS (
            SELECT x.cluster, y.vec_id AS hi_id, ${cosSql("x.e", "y.e", 6)} AS cos
            FROM labels x JOIN labels y ON x.cluster = y.cluster AND x.vec_id < y.vec_id)
          SELECT hi_id AS removed_vec_id, max(cluster) AS cluster,
                 count(*) AS n_near, max(cos) AS max_cos
          FROM p WHERE cos >= 0.95 AND NOT isnan(cos)
          GROUP BY 1 ORDER BY removed_vec_id""",
    "d_semantic_sample" ->
      s"""WITH base AS (${Tables.VectorsSql}),
          pl AS (SELECT vec_id + 100000 AS vec_id, [round(x + 0.01, 6) for x in e] AS e
                 FROM base WHERE vec_id % 10 = 0),
          v AS (SELECT * FROM base UNION ALL SELECT * FROM pl),
          s AS (SELECT * FROM v WHERE vec_id % 4 = 0),
          ${Vectors.lloydSql("", "v", "s", 8, 2, EmbDim)},
          p AS (
            SELECT x.cluster, y.vec_id AS hi_id, ${cosSql("x.e", "y.e", 6)} AS cos
            FROM labels x JOIN labels y ON x.cluster = y.cluster AND x.vec_id < y.vec_id)
          SELECT hi_id AS removed_vec_id, max(cluster) AS cluster,
                 count(*) AS n_near, max(cos) AS max_cos
          FROM p WHERE cos >= 0.95 AND NOT isnan(cos)
          GROUP BY 1 ORDER BY removed_vec_id""",
    "t_lm_score" ->
      s"""WITH toks AS (SELECT doc_id, ${Words.tokensSql("text")} AS ws
                       FROM documents),
          tr AS (SELECT * FROM toks WHERE doc_id % 10 = 0),
          trbi AS (SELECT u.w1, u.w2, count(*) AS c12 FROM (
                     SELECT unnest([{'w1': ws[i], 'w2': ws[i+1]}
                                    for i in range(1, len(ws))]) AS u
                     FROM tr WHERE len(ws) >= 2)
                   GROUP BY 1, 2),
          truni AS (SELECT w, count(*) AS c1 FROM (
                      SELECT unnest(ws) AS w FROM tr) GROUP BY 1),
          v AS (SELECT count(*) AS v FROM truni),
          db AS (SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM (
                   SELECT doc_id, unnest([{'w1': ws[i], 'w2': ws[i+1]}
                                          for i in range(1, len(ws))]) AS u
                   FROM toks WHERE len(ws) >= 2)),
          sc AS (SELECT doc_id,
                        (1000000 * (coalesce(c12, 0) + 1)) // (coalesce(c1, 0) + v.v)
                          AS ppm
                 FROM db
                 LEFT JOIN trbi ON db.w1 = trbi.w1 AND db.w2 = trbi.w2
                 LEFT JOIN truni ON db.w1 = truni.w
                 CROSS JOIN v)
          SELECT doc_id,
                 count(*) AS n_bigrams,
                 CAST(sum(ppm) // count(*) AS BIGINT) AS avg_bigram_ppm
          FROM sc GROUP BY 1 ORDER BY doc_id"""
  ))
}
