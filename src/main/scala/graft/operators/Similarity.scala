package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Embedding similarity search (north-star requirement). The families:
  *  - exact: [[bruteForceTopK]] (the baseline and verifier of every
  *    approximate path), [[hammingTopK]], [[int8TopK]], [[jlTopK]];
  *  - IVF: [[kmeansFit]] / [[assignClusters]], then [[ivfTopK]] searches
  *    only each probe's `nprobe` nearest cells;
  *  - PQ, OPQ and IVFADC (raw and residual): [[pqFit]] / [[opqFit]]
  *    train, every consumer reads m and subDim off the trained
  *    [[Codebook]]; [[rerankExact]] re-ranks any candidate frame;
  *  - curation: [[cosineNearDups]], [[semanticDedup]],
  *    [[clusterOutliers]], [[mmrSelect]], [[embeddingDrift]].
  *
  * Cosines are rounded before ranking so ordering is reproducible across
  * engines (ties then break on vec_id).
  */
object Similarity {

  /** Top-k by `score` per `parts` key (per probe unless given), ties to
    * the lower vec_id, through the one bounded cut [[TopK.cut]]. A null
    * OR NaN score can only arise from out-of-contract input (a null probe
    * code, mismatched array widths null-padding a fold, a zero-norm
    * vector whose cosine is 0/0) — those rows DROP before ranking:
    * ascending row_number is NULLS FIRST and Spark's nan-safe ordering
    * sorts NaN ABOVE every real double, so without both guards one
    * garbage row per probe would silently crown the descending top-k
    * (a single all-zero corpus vector would become the rank-1
    * "neighbor" of every probe). */
  private def scoreTopK(scored: DataFrame, k: Int, score: Column, ascending: Boolean,
                        parts: Seq[Column] = Seq(col("probe_id"))): DataFrame =
    TopK.cut(scored.filter(score.isNotNull && !isnan(score.cast("double"))), k,
      parts, Seq(if (ascending) score.asc else score.desc, col("vec_id").asc), "rank")

  /** Exact top-k neighbors per probe. `vectors`: (vec_id, v:array<double>);
    * `probes`: (probe_id, p:array<double>). */
  def bruteForceTopK(vectors: DataFrame, probes: DataFrame, k: Int,
                     roundTo: Int = 4): DataFrame = {
    val scored = vectors.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), Vectors.cosine(col("v"), col("p"), roundTo).as("cosine"))
    scoreTopK(scored, k, col("cosine"), ascending = false)
  }

  /** Elementwise-mean centroids per cluster: (cluster, c:array<double>),
    * the unrounded [[Vectors.dimMeans]]. */
  def centroids(vectors: DataFrame, clusterCol: String): DataFrame =
    Vectors.dimMeans(vectors, Seq(col(clusterCol).as("cluster")), col("v"), None)
      .select(col("cluster"), col("c"))

  /** Deterministic ±1 hyperplane components from md5-hex parity — portable
    * across engines (the DuckDB oracle regenerates the identical planes
    * from the same `md5("hp:<plane>:<dim>")` formula). */
  def hyperplaneSigns(nPlanes: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(nPlanes, dim) { (p, i) =>
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(s"hp:$p:$i".getBytes("UTF-8"))
      if (((digest(0) >> 4) & 0xf) % 2 == 0) 1.0 else -1.0
    }

  /** Deterministic ±1/√outDim Johnson–Lindenstrauss projection matrix
    * (the Achlioptas 2003 database-friendly variant: Rademacher signs
    * satisfy the JL lemma with the same distortion bound as Gaussians,
    * and ±1 entries are exactly portable where Gaussian draws would pin
    * the oracle to transcendental bit-parity). Signs come from the same
    * seeded md5-hex parity formula as [[hyperplaneSigns]], so the DuckDB
    * oracle regenerates the identical matrix from
    * `md5("jl:<seed>:<row>:<dim>")`. */
  def jlMatrix(seed: String, outDim: Int, inDim: Int): Array[Array[Double]] = {
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    Array.tabulate(outDim, inDim) { (j, i) =>
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(s"jl:$seed:$j:$i".getBytes("UTF-8"))
      (if (((digest(0) >> 4) & 0xf) % 2 == 0) 1.0 else -1.0) * scale
    }
  }

  /** JL random projection of an embedding column: (vec_id, v[inDim]) →
    * (vec_id, y[outDim]), y = (R·v)/√outDim rounded to `roundTo` dp for
    * cross-engine stability. One shuffle-free projection through the
    * native [[graft.functions.MatVec]] expression — at 100 TB this is a
    * map-only pass that cuts every downstream ANN/cluster shuffle by
    * inDim/outDim (64→16 quarters the bytes the similarity stages move),
    * with cosine distortion bounded by the JL lemma. */
  def jlProject(vectors: DataFrame, inDim: Int, outDim: Int, seed: String,
                roundTo: Int = 6): DataFrame =
    vectors.select(col("vec_id"),
      graft.functions.MatVec.mat_vec(col("v"), jlMatrix(seed, outDim, inDim),
        roundTo).as("y"))

  /** The portable HOF twin of [[jlProject]] (transform over matrix-row
    * literals + an aggregate(zip_with) fold per output element) —
    * spec-pinned bit-identical; kept as the executable documentation of
    * the fold order the oracle replays. */
  def jlProjectHof(vectors: DataFrame, inDim: Int, outDim: Int, seed: String,
                   roundTo: Int = 6): DataFrame = {
    val rows = typedLit(jlMatrix(seed, outDim, inDim).map(_.toSeq).toSeq)
    vectors.select(col("vec_id"),
      transform(rows, row =>
        round(aggregate(zip_with(row, col("v"), (a, b) => a * b),
          lit(0.0), (acc, z) => acc + z), roundTo)).as("y"))
  }

  /** Exact top-k in the JL-projected space: project corpus and probes
    * with the same seeded matrix, then [[bruteForceTopK]] over the
    * outDim-dim vectors. Approximate with respect to full-dimension
    * cosine (recall published by the Bench harness next to IVF/PQ/int8);
    * exact and oracle-replayable as an algorithm. */
  def jlTopK(vectors: DataFrame, probes: DataFrame, inDim: Int, outDim: Int,
             seed: String, k: Int, roundTo: Int = 4): DataFrame = {
    val pv = jlProject(vectors, inDim, outDim, seed)
      .select(col("vec_id"), col("y").as("v"))
    val pp = jlProject(
        probes.select(col("probe_id").as("vec_id"), col("p").as("v")),
        inDim, outDim, seed)
      .select(col("vec_id").as("probe_id"), col("y").as("p"))
    bruteForceTopK(pv, pp, k, roundTo)
  }

  /** Exact top-k by Hamming distance over 64-bit binary codes — the
    * binary-code ANN family (SimHash document codes, sign-projection
    * embedding codes). `codes`: (vec_id, f: long); `probes`:
    * (probe_id, pf: long). Scale shape: the corpus side carries ONLY
    * (vec_id, 8-byte code) — a 64× compression of a 64-dim double
    * vector — the distance is one xor + popcount inside whole-stage
    * codegen, probes broadcast, and the global cut reuses the map-side
    * group-limited ranking (ties to the lower vec_id, fully deterministic
    * integer math — the oracle replays it digit for digit). */
  def hammingTopK(codes: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    val scored = codes.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        expr("bit_count(f ^ pf)").as("dist"))
    scoreTopK(scored, k, col("dist"), ascending = true)
  }

  /** Embedding-cosine near-duplicate pairs via sign-random-projection LSH
    * (north-star dedup family: embedding near-dup).
    *
    * Each vector gets an `nPlanes`-bit signature (sign of the dot product
    * with fixed random hyperplanes), cut into bands; pairs colliding in at
    * least one band are candidates, then verified with exact cosine ≥
    * `threshold`. Approximate by construction: a pair at angle θ collides
    * on one bit with p = 1 − θ/π, so low thresholds trade recall for
    * pruning — the candidate equi-join on (band, code) replaces the O(n²)
    * cross join that cannot exist at 100 TB. Projections are rounded to
    * 6 dp before the sign test so bit assignment is stable across
    * summation orders.
    */
  def cosineNearDups(vectors: DataFrame, threshold: Double, dim: Int,
                     nPlanes: Int = 16, bandBits: Int = 4,
                     roundTo: Int = 4): DataFrame = {
    require(nPlanes % bandBits == 0, s"bandBits=$bandBits must divide nPlanes=$nPlanes")
    val signs = hyperplaneSigns(nPlanes, dim)
    // ALL nPlanes sign projections in ONE native MatVec pass: the old
    // form paid nPlanes interpreted aggregate(zip_with) folds per row —
    // CodegenFallback on a FULL-CORPUS scan. MatVec's roundTo = 6 is
    // exactly the old round(proj, 6) (same left-to-right fold order,
    // same Spark-round semantics), and a null / width-mismatched vector
    // yields a null projection row whose bits all read 0 below — the
    // same bits the HOF's null-padded folds produced, element for
    // element (spec-pinned in DedupSpec's SRP fixture).
    val projections = graft.functions.MatVec.mat_vec(col("v"), signs, 6)
    val bits = vectors
      .withColumn("__proj", projections)
      .select(col("vec_id") +: (0 until nPlanes).map { p =>
        when(element_at(col("__proj"), p + 1) >= 0, 1).otherwise(0).as(s"b$p")
      }: _*)
    val bandCols = (0 until nPlanes / bandBits).map { b =>
      val code = (0 until bandBits)
        .map(j => col(s"b${b * bandBits + j}") * lit(1 << j)).reduce(_ + _)
      struct(lit(b).as("band"), code.as("code"))
    }
    val codes = bits
      .select(col("vec_id"), explode(array(bandCols: _*)).as("bc"))
      .select(col("vec_id"), col("bc.band").as("band"), col("bc.code").as("code"))
    val cands = Dedup.bucketPairs(codes, Seq("band", "code"), "vec_id")
      .select(col("x.pid").as("v1"), col("y.pid").as("v2"))
      .distinct()
    // Exact verification through the native CosineSim expression: dot and
    // both norms fuse into one primitive loop per candidate pair (the old
    // shape precomputed norms per vector to dodge interpreted HOF cost —
    // the native loop makes that moot, and the fold sequences are the
    // same, so the 4-dp rounded cosine is bit-identical either way).
    val cos = Vectors.cosine(col("va"), col("vb"), roundTo)
    cands
      .join(vectors.select(col("vec_id").as("v1"), col("v").as("va")), "v1")
      .join(vectors.select(col("vec_id").as("v2"), col("v").as("vb")), "v2")
      .select(col("v1"), col("v2"), cos.as("cosine"))
      // !isnan matters: zero-norm vectors all share the all-ones sign
      // code in every band (0.0 >= 0), so they pair with each other —
      // their cosine is 0/0 = NaN, and Spark's nan-safe compare treats
      // NaN >= threshold as TRUE. An undefined similarity is not a
      // verified near-duplicate.
      .filter(col("cosine") >= threshold && !isnan(col("cosine")))
  }

  /** Deterministic Lloyd k-means (cosine metric) for IVF training —
    * replaces "inherit the fixture's labels" with computed clusters while
    * staying engine-replicable: initial centroids are the `k` lowest-id
    * vectors (cluster j = rank j), each iteration assigns every vector to
    * its max-cosine centroid (cosines rounded to 6 dp before comparison,
    * ties to the lower cluster id) and recomputes elementwise-mean
    * centroids rounded to 6 dp. No RNG, no iteration-order dependence —
    * an SQL oracle regenerates identical clusters step for step.
    *
    * Scale shape: centroids are always k·dim doubles, carried as a plan
    * literal (see [[assignClusters]]), so each iteration is one full scan
    * + a shuffle-free per-vector argmax projection — vectors never
    * shuffle at all. At 100 TB, train on a bounded sample with this same
    * loop, then run one final assignment pass over the full table; the
    * code path is identical, only the input differs.
    *
    * Returns (vec_id, v, cluster) after `iters` assignment rounds.
    */
  def kmeansLabels(vectors: DataFrame, k: Int, iters: Int): DataFrame =
    assignClusters(vectors, kmeansFit(vectors, k, iters))

  /** The fit half of the fit/assign split: train the deterministic Lloyd
    * loop of [[kmeansLabels]] on `sample` and return the centroid frame
    * (cluster, c:array<double>) the final assignment would use —
    * initial lowest-id seeds refined by `iters − 1` assign-and-recompute
    * rounds, centroids held as driver arrays through the loop (k·dim
    * doubles — every consumer collects them anyway). Each round reads
    * `sample` directly, whose own persistence is the caller's contract.
    *
    * THIS is the 100 TB path: pass a bounded sample (`full.sample(…)` or
    * a hash-filtered slice) so the `iters` training scans touch only the
    * sample, then label the full corpus with ONE [[assignClusters]] pass
    * over the pre-fit centroids. `kmeansFit(full, …)` reproduces the
    * combined [[kmeansLabels]] exactly (the oracle-gated path).
    */
  def kmeansFit(sample: DataFrame, k: Int, iters: Int): DataFrame = {
    require(iters >= 1, "k-means needs at least one assignment round")
    val spark = sample.sparkSession
    import spark.implicits._
    // centroids live as DRIVER arrays through the whole loop (the pqFit
    // discipline, applied here): every consumer of the centroid frame —
    // assignClusters, probe routing — collects it to k·dim doubles
    // anyway, so checkpointing each round's k-row frame only to collect
    // it later paid one materialization job per round (plus one per
    // seed) for rows the driver was about to hold regardless. Seeds
    // collect in ONE job (the k lowest-id sample vectors — identical to
    // the former orderBy/limit/row_number frame: rank i = cluster i);
    // each training round is ONE job (the same assign → (cluster, dim)
    // round(avg, 6) aggregation over the same partitioning, collected
    // instead of checkpointed — row-identical maths, job count
    // iters instead of 2·iters+consumer collects). The returned frame is
    // a LOCAL relation: downstream collectCents/broadcasts read it
    // without launching jobs.
    val seedRows = sample.orderBy(col("vec_id")).limit(k)
      .select(col("v")).collect().map(_.getSeq[Double](0))
    var cents: Array[(Int, Seq[Double])] =
      seedRows.zipWithIndex.map { case (v, i) => (i, v) }
    for (_ <- 1 until iters) {
      cents = Vectors.dimMeans(assignClusters(sample, cents), Seq(col("cluster")),
          col("v"), Some(6))
        .select(col("cluster").cast("int"), col("c"))
        .collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1)))
        .sortBy(_._1)
    }
    cents.toSeq.toDF("cluster", "c")
  }

  /** The k-row centroid frame collected to ascending-cluster-id driver
    * rows — the plan-literal/closure payload both assignment forms carry
    * (k·dim doubles; [[kmeansFit]] returns a local relation, so its
    * frame collects without a job, never a corpus scan). */
  private def collectCents(cents: DataFrame): Array[(Int, Seq[Double])] = {
    val rows = cents.select(col("cluster").cast("int"), col("c")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    require(rows.nonEmpty, "assignClusters needs at least one centroid")
    rows
  }

  /** The assign half of the fit/assign split: label every vector with its
    * max-cosine centroid (6-dp rounded, ties to the lower cluster id —
    * identical to the training loop's rule). Returns (vec_id, v, cluster).
    *
    * SHUFFLE-FREE: the centroid frame is k rows of k·dim doubles (a
    * local relation when it comes from [[kmeansFit]]), so it collapses into
    * the [[graft.functions.CosineArgmax]] expression — one tight
    * primitive k·dim loop per vector — and the argmax is a pure
    * projection. The corpus is scanned exactly once with NO Exchange and
    * NO join node at all; the earlier crossJoin(broadcast)+window form
    * re-shuffled n×k exploded rows (each carrying both the document
    * vector and a centroid array) just to run the per-vector argmax — a
    * scale-killer at SemDeDup-sized k. Strict `>` over ascending cluster
    * ids is exactly the window's (ccos desc, cluster asc) first row;
    * [[assignClustersHof]] is the same argmax as a portable column
    * expression, spec-pinned identical and bench-compared.
    */
  def assignClusters(vectors: DataFrame, cents: DataFrame): DataFrame =
    assignClusters(vectors, collectCents(cents))

  private[graft] def assignClusters(vectors: DataFrame,
                                    centRows: Array[(Int, Seq[Double])]): DataFrame =
    vectors.select(col("vec_id"), col("v"),
      graft.functions.CosineArgmax.cosine_argmax(col("v"),
        centRows.map(_._1), centRows.map(_._2.toArray)).as("cluster"))

  /** [[assignClusters]] as a portable column-expression projection — the
    * centroids ride as an array-of-structs literal, one `transform`
    * scores every centroid (6-dp rounded cosine), one `aggregate` fold
    * keeps the first strict maximum. Same shuffle-free plan shape and
    * bit-identical labels (‖c‖ folds left-to-right in the driver with
    * the same `acc + x·x` sequence the SQL aggregate would use); it pays
    * interpreted higher-order-function dispatch per centroid per row,
    * which is what the native expression exists to remove — the bench
    * publishes both rates. */
  def assignClustersHof(vectors: DataFrame, cents: DataFrame): DataFrame =
    assignClustersHof(vectors, collectCents(cents))

  private[graft] def assignClustersHof(vectors: DataFrame,
                                       centRows: Array[(Int, Seq[Double])]): DataFrame = {
    val centLit = array(centRows.map { case (id, c) =>
      val nc = math.sqrt(c.foldLeft(0.0)((acc, x) => acc + x * x))
      struct(lit(id).as("cluster"), typedLit(c).as("c"), lit(nc).as("nc"))
    }.toIndexedSeq: _*)
    vectors
      .withColumn("__cents", centLit)
      .withColumn("__nv", expr("sqrt(aggregate(v, 0D, (acc, x) -> acc + x * x))"))
      // try_divide: a zero-norm vector divides by zero — under ANSI
      // (this engine's default) a bare `/` KILLS the stage with
      // DIVIDE_BY_ZERO; with ANSI off it yields NaN, which Spark's
      // nan-safe compare evaluates as > -2.0, handing the degenerate
      // row to the FIRST centroid. try_divide nulls the cosine in both
      // modes, and the isnan guard below covers any other NaN source —
      // either way the fold keeps acc and the row gets the native
      // path's -1 label ("NaN never wins").
      .withColumn("__scored", expr(
        """transform(__cents, ct -> struct(
             round(try_divide(aggregate(zip_with(v, ct.c, (x, y) -> x * y), 0D,
                              (acc, z) -> acc + z), __nv * ct.nc), 6) AS ccos,
             ct.cluster AS cluster))"""))
      // a null ccos (width mismatch, zero norm) loses: the comparison
      // is null and if(null) keeps acc
      .withColumn("cluster", expr(
        """aggregate(__scored,
             struct(cast(-2.0 AS double) AS ccos, -1 AS cluster),
             (acc, p) -> if(NOT isnan(p.ccos) AND p.ccos > acc.ccos, p, acc)).cluster"""))
      .select(col("vec_id"), col("v"), col("cluster"))
  }

  /** IVF search over pre-fit centroids (the 100 TB fit/assign path):
    * vectors are labeled with ONE [[assignClusters]] pass over `cents`
    * (typically from [[kmeansFit]] on a sample), then probes route
    * against THE SAME pre-fit centroid frame — never a re-derived one.
    * (The earlier form delegated to the `clusterCol` overload, whose
    * contract is "centroids = means of the given labels", so every
    * search paid a second full-corpus pass + a dim-explode of every
    * vector just to recompute k rows the caller already held.) The
    * labeled frame is cut by [[Checkpoint.cut]] because the search reads
    * it in the cluster-pruned scan and composition should not re-run the
    * argmax per consumer: lazy and executor-local by default, so merely
    * composing or explaining the query never launches the corpus scan;
    * reliable and materialized at composition time when the session has
    * a checkpoint dir. */
  def ivfTopK(vectors: DataFrame, cents: DataFrame, probes: DataFrame,
              k: Int, nprobe: Int, roundTo: Int): DataFrame =
    searchRouted(Checkpoint.cut(assignClusters(vectors, cents)),
      cents, probes, k, nprobe, roundTo)

  /** IVF search over pre-assigned cluster labels: routing centroids are
    * the elementwise means of the labeled clusters (one bounded-state
    * (cluster, dim) aggregation), then the routed exact top-k. */
  def ivfTopK(vectors: DataFrame, clusterCol: String, probes: DataFrame,
              k: Int, nprobe: Int, roundTo: Int = 4): DataFrame = {
    val labeled = vectors.select(col("vec_id"), col("v"), col(clusterCol).as("cluster"))
    searchRouted(labeled, centroids(labeled, "cluster"), probes, k, nprobe, roundTo)
  }

  /** Probe routing shared by exact-IVF and IVFADC search: each probe's
    * `nprobe` closest centroids by 6-dp-rounded cosine (ties to the
    * lower cluster id). The centroid frame broadcasts — k rows, tiny.
    * Returns (probe_id, p, cluster), one row per routed cluster. */
  private def routeProbes(probes: DataFrame, cents: DataFrame,
                          nprobe: Int): DataFrame = {
    val probeCent = probes.crossJoin(broadcast(cents))
      .select(col("probe_id"), col("p"), col("cluster"),
        Vectors.cosine(col("c"), col("p"), 6).as("ccos"))
      // NaN guard (the r11 zero-norm class, at the ROUTING rank): a
      // degenerate centroid — the cluster −1 a zero-norm corpus vector
      // forms under assignClusters, or an all-zero mean — has ccos =
      // 0/0 = NaN, and Spark orders NaN ABOVE every real double, so ONE
      // corrupt vector's cell out-ranked every real centroid and (at
      // nprobe = 1) captured ALL routing: every probe searched only the
      // degenerate cell and the whole query returned ZERO rows.
      // Undefined similarity must never route (DuckDB yields NULL here
      // and NULLS sort last — the oracles already skip it).
      .filter(col("ccos").isNotNull && !isnan(col("ccos")))
    TopK.cut(probeCent, nprobe, Seq(col("probe_id")),
        Seq(col("ccos").desc, col("cluster").asc), "crank")
      .select(col("probe_id"), col("p"), col("cluster"))
  }

  /** The shared IVF search body: route each probe to its `nprobe`
    * closest centroids, then exact top-k within those clusters only
    * (the join prunes the labeled corpus to nprobe/k of its
    * partitions). */
  private def searchRouted(labeled: DataFrame, cents: DataFrame,
                           probes: DataFrame, k: Int, nprobe: Int,
                           roundTo: Int): DataFrame = {
    val scored = labeled
      .join(broadcast(routeProbes(probes, cents, nprobe)), "cluster")
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), Vectors.cosine(col("v"), col("p"), roundTo).as("cosine"))
    scoreTopK(scored, k, col("cosine"), ascending = false)
  }

  /** Product-quantization codebooks (Jégou et al. 2011, "Product
    * quantization for nearest neighbor search" §II): the vector space is
    * cut into `m` subspaces of `subDim` dims; each subspace gets its own
    * deterministic Lloyd k-means with `ksub` centroids over the SAMPLE's
    * sub-vectors — initial centroids are the `ksub` lowest-id sample
    * slices (cluster j = rank j), each round assigns every sample vector
    * to its min-squared-L2 centroid (distances rounded to 6 dp, ties to
    * the lower cluster id — the [[graft.functions.L2Argmin]] contract)
    * and recomputes elementwise means rounded to 6 dp. No RNG, so an SQL
    * oracle replays the training step for step.
    *
    * Scale shape: training touches ONLY the sample (m·iters scans of it);
    * per-round assignment is the same shuffle-free native-argmin
    * projection the full-corpus encode uses, reading each subspace's dims
    * in place (no slice materialization). Codebooks total m·ksub·subDim
    * doubles — driver-sized at any corpus scale.
    *
    * Returns (sub, cluster, c: array<double> of subDim) — `ksub` rows per
    * subspace (fewer if a cluster empties, which both engines drop
    * identically). A subspace that comes out empty or ragged — a sample
    * whose vectors are shorter than m·subDim — fails the fit, so
    * consumers, which read m and subDim off the codebook, never see it.
    */
  def pqFit(sample: DataFrame, m: Int, subDim: Int, ksub: Int, iters: Int): DataFrame = {
    require(iters >= 1, "PQ training needs at least one assignment round")
    val spark = sample.sparkSession
    import spark.implicits._
    // the sample is scanned once per round: pin it lazily (the seed
    // collect materializes the blocks, no job of its own) and release it
    // before returning — the codebooks are driver rows, and [[opqFit]]
    // calls this once per alternation round
    val pinned = Checkpoint.cut(sample.select(col("vec_id"), col("v")))
    try {
      // seed: the first ksub vectors by id seed EVERY subspace's codebook
      // — ONE collect, each sub slices its dims locally
      val seedRows = pinned.orderBy(col("vec_id")).limit(ksub).select(col("v")).collect()
        .map(r => if (r.isNullAt(0)) Seq.empty[Double] else r.getSeq[Double](0))
      var cb = fitted(Array.tabulate(m) { j =>
        seedRows.zipWithIndex.map { case (v, i) =>
          (i, v.slice(j * subDim, (j + 1) * subDim)) }
      }, subDim)
      // ONE job per training round updates ALL m codebooks: per row an
      // array of (sub, argmin cluster, sub-vector) structs explodes, and
      // the (sub, cluster, dim) means aggregate behind a single shuffle
      for (_ <- 1 until iters) {
        val perSubCols = (0 until m).map { j =>
          struct(lit(j).as("sub"), cb.code(col("v"), j).as("cluster"),
            expr(s"slice(v, ${j * subDim + 1}, $subDim)").as("sv"))
        }
        val updated = Vectors.dimMeans(pinned.select(explode(array(perSubCols: _*)).as("e")),
            Seq(col("e.sub").as("sub"), col("e.cluster").as("cluster")), col("e.sv"), Some(6))
          .select(col("sub"), col("cluster").cast("int"), col("c"))
          .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
        cb = fitted(Array.tabulate(m) { j =>
          updated.collect { case (s, cid, c) if s == j => (cid, c) }
        }, subDim)
      }
      cb.subs.zipWithIndex.toSeq
        .flatMap { case (cs, j) => cs.map { case (cid, c) => (j, cid, c) } }
        .toDF("sub", "cluster", "c")
    } finally Checkpoint.release(pinned)
  }

  /** The [[Codebook]] over a fit's per-subspace centroid rows, held to
    * the requested `subDim`: a sample narrower than m·subDim leaves a
    * subspace short or empty, and the fit fails here instead of handing
    * its consumers a codebook whose derived shape silently shrank. */
  private def fitted(subs: Array[Array[(Int, Seq[Double])]], subDim: Int): Codebook = {
    val cb = Codebook(subs)
    require(cb.subDim == subDim, s"codebook centroids are ${cb.subDim} wide, trained " +
      s"for subDim = $subDim: the sample's vectors are shorter than m·subDim = ${subs.length * subDim}")
    cb
  }

  /** PQ encode: every vector compressed to `m` small codes — the 100 TB
    * ANN storage path (m·log2(ksub) bits per vector instead of dim
    * doubles; at m=4, ksub=8 a 64-dim embedding stores in 4 ints vs 512
    * bytes). One shuffle-free projection: each subspace's
    * [[graft.functions.L2Argmin]] reads its dims in place from `v`, the
    * codebooks ride on the expressions (m·ksub·subDim doubles).
    * Returns (vec_id, codes: array<int>, ordered by subspace).
    */
  def pqEncode(vectors: DataFrame, codebooks: DataFrame): DataFrame =
    vectors.select(col("vec_id"), Codebook(codebooks).codes(col("v")).as("codes"))

  /** PQ search with asymmetric distance computation (ADC, Jégou §III):
    * per probe, a distance table d[sub][cluster] = 6-dp-rounded squared
    * L2 between the probe's sub-vector and each codebook centroid
    * (m·ksub doubles — computed once per probe, broadcast with it); a
    * candidate's approximate distance is the sum of its m table lookups —
    * m lookups per (probe, vector) pair instead of dim multiply-adds,
    * and the corpus side carries only (vec_id, codes), never vectors.
    * Ranking uses the map-side group-limited top-k (ascending distance, ties to
    * the lower vec_id). The final sum re-rounds to 6 dp so both engines
    * recover the identical decimal (each term is a 6-dp multiple; the sum
    * is mathematically a 6-dp multiple, so rounding absorbs
    * summation-order noise).
    *
    * Returns (probe_id, vec_id, adist, rank ≤ k).
    */
  def pqTopK(encoded: DataFrame, probes: DataFrame, codebooks: DataFrame,
             k: Int): DataFrame = {
    val cb = Codebook(codebooks)
    adcTopK(encoded.crossJoin(broadcast(probesWithDistTable(probes, cb))), cb, k)
  }

  /** Per-probe ADC distance table: array(sub)(pos) of 6-dp-rounded
    * squared L2 between the probe's sub-vector and each codebook
    * centroid (m·ksub doubles, computed once per probe and broadcast
    * with it). Probes shorter than m·subDim are dropped up front — their
    * tables would carry null rows, adist would be null for EVERY
    * candidate, and ascending order (NULLS FIRST) would rank the null
    * rows as the top-k. The table is the native
    * [[graft.functions.PqDistTable]], whose doc says why it replaced the
    * expression-built twin [[distTableHof]]. */
  private def probesWithDistTable(probes: DataFrame, cb: Codebook): DataFrame =
    probes.filter(size(col("p")) >= cb.m * cb.subDim)
      .withColumn("__tbl", cb.distTable(col("p")))

  /** The column-expression distance-table twin — bit-identical contract
    * to [[Codebook.distTable]] (FunctionsSpec pins the parity on raw
    * bits, NaN/±Inf/nulls included). */
  private[graft] def distTableHof(cb: Codebook): Column =
    array(cb.subs.indices.map { j =>
      array(cb.subs(j).map { case (_, cvec) =>
        val d2 = cvec.indices.map { i =>
          val diff = element_at(col("p"), j * cb.subDim + i + 1) - lit(cvec(i))
          diff * diff
        }.reduce(_ + _)
        round(d2, 6)
      }.toIndexedSeq: _*)
    }: _*)

  /** Rank probe × candidate pairs (`codes` against the probe's `__tbl`)
    * by ascending ADC distance: the sum of the m table lookups,
    * re-rounded to 6 dp (each term is a 6-dp multiple, so the sum
    * mathematically is too and rounding absorbs summation-order noise).
    * Code validity is fused into the lookup instead of pre-filtered: an
    * unresolvable code (stale codebook, short/null codes array) makes
    * the lookup go null, the whole sum goes null, and [[scoreTopK]]'s
    * null-score filter drops the candidate before ranking. The lookup
    * is the native [[graft.functions.PqAdc]], whose doc says why it
    * replaced the expression-built twin [[pqAdistHof]]. */
  private def adcTopK(pairs: DataFrame, cb: Codebook, k: Int): DataFrame = {
    val scored = pairs
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), cb.adc(col("codes"), col("__tbl")).as("adist"))
    scoreTopK(scored, k, col("adist"), ascending = true)
  }

  /** The column-expression ADC twin — bit-identical contract to
    * [[Codebook.adc]] (FunctionsSpec pins the parity sweep, nulls
    * included). A code resolves to its 1-based table position, which
    * follows ascending cluster id; a cluster that emptied out of the
    * codebook resolves to nothing. */
  private[graft] def pqAdistHof(cb: Codebook): Column =
    round(cb.subs.indices.map { j =>
      val pos = array_position(typedLit(cb.subs(j).map(_._1).toSeq),
        element_at(col("codes"), j + 1))
      element_at(element_at(col("__tbl"), j + 1),
        nullif(pos, lit(0L)).cast("int"))
    }.reduce(_ + _), 6)

  /** The IVFADC index build (Jégou §IV): ONE shuffle-free projection
    * labels every vector with its coarse max-cosine centroid AND its m
    * PQ codes — the (vec_id, cluster, codes) table a 100 TB deployment
    * stores instead of raw vectors (coarse label for routing/pruning,
    * codes for in-cluster ADC; both argmaxes are native expressions, so
    * the corpus is scanned once with no Exchange and no join). */
  def pqIndex(vectors: DataFrame, cents: DataFrame, codebooks: DataFrame): DataFrame =
    ivfPqIndex(vectors, cents, codebooks, residual = false)

  /** The index body both IVFADC builds share: coarse-label every vector
    * and encode either `v` itself or its residual `v − centroid[cluster]`
    * (the residual variant's codebooks were trained on residuals). */
  private def ivfPqIndex(vectors: DataFrame, cents: DataFrame, codebooks: DataFrame,
                         residual: Boolean): DataFrame = {
    val centRows = collectCents(cents)
    val cb = Codebook(codebooks)
    val rv = if (residual) residualExpr(centRows, col("v"), col("cluster")) else col("v")
    assignClusters(vectors, centRows)
      .select(col("vec_id"), col("cluster"), rv.as("rv"))
      .select(col("vec_id"), col("cluster"), cb.codes(col("rv")).as("codes"))
  }

  /** IVFADC search (Jégou §IV — the composition that actually ships at
    * 100 TB): each probe routes to its `nprobe` closest coarse
    * centroids, then ADC scores ONLY the encoded vectors in those
    * clusters — the scan prunes to nprobe/k of the index AND reads
    * 8–128× less per row (codes, not vectors). The routed frame carries
    * each probe's distance table, so the join fans a probe's table out
    * to exactly its routed clusters; ranking is the map-side
    * group-limited top-k on ascending ADC distance. Compose with [[pqTopKRerank]]'s
    * exact stage by feeding its output ids for rank-resolution recovery.
    *
    * With nprobe ≥ the cluster count this is exactly [[pqTopK]] over the
    * same codes (spec-pinned); smaller nprobe trades recall for the
    * pruned scan, measured by [[recallAtK]] in the bench.
    *
    * Returns (probe_id, vec_id, adist, rank ≤ k).
    */
  def ivfPqTopK(index: DataFrame, cents: DataFrame, probes: DataFrame,
                codebooks: DataFrame, k: Int, nprobe: Int): DataFrame =
    routedAdcTopK(index, routeProbes(probes, cents, nprobe), codebooks, k)

  /** The routed-ADC search body both IVFADC searches share: one distance
    * table per routed (probe, cluster) row, joined to that cluster's
    * index rows only. */
  private def routedAdcTopK(index: DataFrame, routed: DataFrame, codebooks: DataFrame,
                            k: Int): DataFrame = {
    val cb = Codebook(codebooks)
    val withTbl = broadcast(probesWithDistTable(routed, cb)
      .select(col("probe_id"), col("cluster"), col("__tbl")))
    adcTopK(index.join(withTbl, "cluster"), cb, k)
  }

  /** `v − centroid[cluster]`: the k coarse centroids ride ON the native
    * [[graft.functions.CentroidResidual]] expression (same plan-literal
    * footprint as a map literal), so the subtraction is a shuffle-free
    * projection with no join even when the cluster column is
    * data-dependent — and, unlike the zip_with formulation it replaced
    * (a CodegenFallback higher-order function), it keeps the whole
    * index-build projection inside one whole-stage-codegen stage. A
    * cluster id absent from the table nulls the residual (and everything
    * downstream drops it) — only possible with a stale centroid frame. */
  private def residualExpr(centRows: Array[(Int, Seq[Double])],
                           v: Column, cluster: Column): Column =
    graft.functions.CentroidResidual.centroid_residual(v, cluster.cast("int"),
      centRows.map(_._1), centRows.map(_._2.toArray))

  /** The column-expression twin of [[residualExpr]] — identical values
    * on the operator contract (FunctionsSpec pins the parity, degenerate
    * cases included); kept as executable documentation of the
    * element-order the oracle replays. */
  private[graft] def residualExprHof(centRows: Array[(Int, Seq[Double])],
                                     v: Column, cluster: Column): Column =
    zip_with(v, element_at(Codebook.centroidMap(centRows), cluster), (x, y) => x - y)

  /** Coarse-label every vector and subtract its centroid — the residual
    * frame IVFADC quantizes (Jégou §IV-A: PQ over `v − q_coarse(v)`
    * concentrates the codebook's resolution on the within-cell offset
    * instead of re-spending it on the coarse position every cell
    * already encodes). One shuffle-free projection; returns
    * (vec_id, cluster, v) with `v` the residual, so [[pqFit]] /
    * [[pqEncode]] compose unchanged. */
  def residuals(vectors: DataFrame, cents: DataFrame): DataFrame = {
    val centRows = collectCents(cents)
    assignClusters(vectors, centRows)
      .select(col("vec_id"), col("cluster"),
        residualExpr(centRows, col("v"), col("cluster")).as("v"))
  }

  /** PQ codebooks over coarse-cell residuals: exactly [[pqFit]] on the
    * sample's residual frame, so training, seeding, and tie rules are
    * the spec-pinned Lloyd loop — only the input vectors change. */
  def pqFitResidual(sample: DataFrame, cents: DataFrame,
                    m: Int, subDim: Int, ksub: Int, iters: Int): DataFrame =
    pqFit(residuals(sample, cents).select(col("vec_id"), col("v")),
      m, subDim, ksub, iters)

  /** The residual IVFADC index (Jégou §IV-A — the composition the paper
    * actually ships): ONE shuffle-free projection labels every vector
    * with its coarse centroid AND its m PQ codes over the RESIDUAL
    * `v − centroid[cluster]`. Same (vec_id, cluster, codes) storage
    * contract as [[pqIndex]]; the residual never materializes outside
    * the projection (the centroid map rides as a literal, both argmaxes
    * are native expressions, no Exchange, no join). */
  def pqIndexResidual(vectors: DataFrame, cents: DataFrame,
                      codebooks: DataFrame): DataFrame =
    ivfPqIndex(vectors, cents, codebooks, residual = true)

  /** Residual IVFADC search: routes like [[ivfPqTopK]], but each probe's
    * ADC distance table is computed over the probe's residual w.r.t. THE
    * ROUTED CLUSTER's centroid (one table per routed (probe, cluster)
    * pair — the asymmetric distance of Jégou §IV-A). Because codes spend
    * their bits on within-cell offsets, raw-ADC ranking resolution rises
    * sharply over raw-vector PQ at the same code budget (bench:
    * recall_ivfpq_* vs recall_ivfpq_res_*); everything else — cluster
    * pruning, code-validity-fused lookups, group-limited top-k, null-drop
    * semantics — is the shared machinery. Compose with [[rerankExact]]
    * for the exact final ranking. */
  def ivfPqResidualTopK(index: DataFrame, cents: DataFrame, probes: DataFrame,
                        codebooks: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val centRows = collectCents(cents)
    routedAdcTopK(index, routeProbes(probes, cents, nprobe)
      .withColumn("p", residualExpr(centRows, col("p"), col("cluster"))), codebooks, k)
  }

  // ──────────────── OPQ: optimized product quantization ────────────────

  /** Apply a fixed linear map to an embedding column in place — one
    * shuffle-free [[graft.functions.MatVec]] projection (the rotation
    * rides the plan as a literal, exactly like [[jlProject]]'s random
    * matrix), so rotating before a PQ encode keeps the index build a
    * single pass with no Exchange and no join. `roundTo = 6` pins the
    * rotated values to the cross-engine decimal contract for
    * oracle-gated paths; the default emits raw doubles. */
  def rotate(df: DataFrame, vecCol: String, r: Array[Array[Double]],
             roundTo: Int = graft.functions.MatVec.NoRounding): DataFrame =
    df.withColumn(vecCol, graft.functions.MatVec.mat_vec(col(vecCol), r, roundTo))

  /** The scaled Sylvester–Hadamard rotation H_d/√d — a fixed structured
    * orthogonal matrix (the rotation family of cross-polytope LSH and
    * structured-projection ANN) that mixes every input dim into every PQ
    * subspace. For d a power of 4 the scale 1/√d is a power of two, so
    * every entry (±1/√d) and every per-term product against it is
    * exactly representable — the bit-deterministic rotation the
    * sim_opq_topk oracle replays literal for literal. */
  def hadamardRotation(d: Int): Array[Array[Double]] = {
    // powers of FOUR only: that is what makes 1/√d a power of two and
    // every entry exactly representable — the whole point of this
    // rotation for oracle-gated paths. A power-of-two-but-not-four order
    // (8, 32, …) would build fine but silently void the bit-determinism
    // contract and set up exactly the cross-engine last-ulp hash
    // mismatch the oracle rules exist to prevent; trained rotations
    // (opqFit) cover every other need.
    require(d > 0 && (d & (d - 1)) == 0 && (d & 0x55555555) != 0,
      s"Hadamard rotation order must be a power of FOUR (got $d): " +
        "only then is 1/sqrt(d) a power of two and the rotation exactly " +
        "representable for cross-engine replay")
    var h = Array(Array(1.0))
    while (h.length < d) {
      val n = h.length
      val nh = Array.ofDim[Double](2 * n, 2 * n)
      var i = 0
      while (i < n) {
        var j = 0
        while (j < n) {
          nh(i)(j) = h(i)(j); nh(i)(j + n) = h(i)(j)
          nh(i + n)(j) = h(i)(j); nh(i + n)(j + n) = -h(i)(j)
          j += 1
        }
        i += 1
      }
      h = nh
    }
    val s = 1.0 / math.sqrt(d.toDouble)
    h.map(_.map(_ * s))
  }

  /** OPQ-NP trainer (Ge, He, Ke & Sun, CVPR 2013 "Optimized Product
    * Quantization", the non-parametric alternation of §4): learn an
    * orthogonal rotation R so the PQ codebooks quantize R·x instead of
    * x, minimizing total quantization distortion ‖R·x − q(R·x)‖² — the
    * fix for subspace-imbalanced / correlated embedding dims, where the
    * identity split wastes whole codebooks on low-variance subspaces.
    * Alternation per round, all on the TRAINING SAMPLE only:
    *  1. codebooks ← [[pqFit]] on the rotated sample (the spec-pinned
    *     deterministic Lloyd loop — only the input vectors change);
    *  2. Y ← sub-centroid reconstruction of each rotated sample vector
    *     (one shuffle-free projection: native L2Argmin per subspace +
    *     codebook map literals);
    *  3. R ← the orthogonal Procrustes solution of min ‖X·Rᵀ − Y‖_F:
    *     with UΣVᵀ = svd(XᵀY), R = (U·Vᵀ)ᵀ — XᵀY is a d×d Gram frame
    *     (driver-sized at ANY corpus scale) reduced distributively,
    *     SVD'd on the driver via breeze/LAPACK.
    * opqIters = 0 degenerates to exactly [[pqFit]] with R = I
    * (spec-pinned). The rotation is returned as a plain matrix that
    * [[rotate]]/[[opqEncode]]/[[opqTopK]] apply as a MatVec literal, so
    * the full-corpus index build stays ONE shuffle-free projection —
    * training cost never touches the corpus.
    *
    * Scale shape: each round is pqFit's m·iters sample scans + one
    * sample scan for Y + the (i, j)-keyed Gram reduction (map-side
    * combined; n_sample·d² terms — bounded by the sample contract, never
    * the corpus). The SVD is d×d on the driver (64×64 here).
    *
    * Returns (R row-major — out_j = Σ_i R(j)(i)·x(i) — and the codebooks
    * trained in the rotated space, (sub, cluster, c) like [[pqFit]]).
    */
  def opqFit(sample: DataFrame, m: Int, subDim: Int, ksub: Int,
             pqIters: Int, opqIters: Int): (Array[Array[Double]], DataFrame) = {
    val d = m * subDim
    // the sample is re-scanned every round — pin it once, release on
    // every exit path (a periodic-retrain deployment calling this in a
    // long-lived session must not accumulate pinned sample copies)
    val pinned = Checkpoint.cut(sample.select(col("vec_id"), col("v"))
      .filter(size(col("v")) === d))
    try {
      var r = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
      var cbs = pqFit(pinned, m, subDim, ksub, pqIters)
      for (_ <- 0 until opqIters) {
        // x = the ORIGINAL vector, y = its reconstruction in rotated space
        val xy = pinned.select(col("v").as("x"),
          graft.functions.MatVec.mat_vec(col("v"), r).as("rv"))
          .select(col("x"), Codebook(cbs).reconstruct(col("rv")).as("y"))
          .filter(col("y").isNotNull && size(col("y")) === d)
        // Gram frame XᵀY: d² cells, reduced with map-side partial agg
        val cells = xy
          .select(posexplode(col("x")).as(Seq("i", "xi")), col("y"))
          .select(col("i"), col("xi"), posexplode(col("y")).as(Seq("j", "yj")))
          .groupBy(col("i"), col("j")).agg(sum(col("xi") * col("yj")).as("mij"))
          .collect()
        val g = breeze.linalg.DenseMatrix.zeros[Double](d, d)
        cells.foreach(row => g(row.getInt(0), row.getInt(1)) = row.getDouble(2))
        val sv = breeze.linalg.svd(g)
        val omega = sv.U * sv.Vt // the polar factor = Procrustes argmin
        r = Array.tabulate(d, d)((j, i) => omega(i, j))
        cbs = pqFit(rotate(pinned, "v", r), m, subDim, ksub, pqIters)
      }
      (r, cbs)
    } finally Checkpoint.release(pinned)
  }

  /** PQ-encode in the rotated space: ONE shuffle-free projection — the
    * MatVec rotation and the per-subspace native argmins collapse into a
    * single corpus pass (same storage contract as [[pqEncode]]). */
  def opqEncode(vectors: DataFrame, rot: Array[Array[Double]], codebooks: DataFrame,
                roundTo: Int = graft.functions.MatVec.NoRounding): DataFrame =
    pqEncode(rotate(vectors, "v", rot, roundTo), codebooks)

  /** ADC search in the rotated space: probes rotate through the same
    * matrix (rotation is orthogonal, so rotated-space L2 ≡ original-space
    * L2 and the ranking contract carries over), then exactly [[pqTopK]].
    */
  def opqTopK(encoded: DataFrame, probes: DataFrame, rot: Array[Array[Double]],
              codebooks: DataFrame, k: Int,
              roundTo: Int = graft.functions.MatVec.NoRounding): DataFrame =
    pqTopK(encoded, rotate(probes, "p", rot, roundTo), codebooks, k)

  /** Mean squared quantization distortion E‖v − q(v)‖² of a codebook
    * over a vector frame — the objective OPQ minimizes; published in the
    * bench next to the recall pairs so the rotation's effect is visible
    * even where recall is code-capacity-bound. One aggregation pass. */
  def pqDistortion(vectors: DataFrame, codebooks: DataFrame): Double = {
    val cb = Codebook(codebooks)
    vectors.filter(size(col("v")) === cb.m * cb.subDim)
      .select(aggregate(zip_with(col("v"), cb.reconstruct(col("v")),
        (a, b) => (a - b) * (a - b)), lit(0.0), _ + _).as("e2"))
      .agg(avg(col("e2"))).head.getDouble(0)
  }

  /** Embedding-quality audit: the k LEAST-similar members of each
    * k-means cell, ranked by ascending cosine to their own centroid —
    * the curation review list for corrupt embeddings, mislabeled items
    * and out-of-distribution strays (the outlier complement of
    * SemDeDup's near-centroid pruning). Rank-based on purpose: a
    * z-score/σ threshold needs order-dependent float moments whose
    * boundary rows flip on 1-ulp aggregation differences, while a rank
    * cut over exact integer ppm cosines (6-dp round → ×10⁶) is
    * bit-deterministic across engines — the caller turns the audit
    * budget (k per cell), not a fragile σ dial.
    *
    * One shuffle-free scoring projection (native argmax label + cosine
    * to the centroid map literal — no join), then the map-side
    * group-limited per-cluster cut, so no single task ever sorts a whole cell even
    * when a mega-cell holds half the corpus. Zero-norm / stale-labeled
    * vectors score null and DROP before ranking (never crown an
    * "outlier" on an undefined cosine).
    *
    * Returns (cluster, vec_id, cos_ppm, rank ≤ k), rank 1 = least
    * similar; ties to the lower vec_id.
    */
  def clusterOutliers(vectors: DataFrame, cents: DataFrame, k: Int): DataFrame = {
    require(k > 0)
    val centRows = collectCents(cents)
    val scored = assignClusters(vectors, centRows)
      .select(col("vec_id"), col("cluster"),
        Vectors.cosine(col("v"),
          element_at(Codebook.centroidMap(centRows), col("cluster")), 6).as("__c6"))
      // NaN-guard BEFORE the ANSI cast (hostile-VECTORS wave): a
      // zero-norm vector's cosine is NaN by CosineSim's documented
      // contract, and CAST(NaN AS BIGINT) kills the whole job under
      // ANSI — one corrupt vector must not take down the outlier pass.
      // NULL cos_ppm rows then drop in scoreTopK's score filter,
      // and the oracle filters `cos_ppm IS NOT NULL` in lockstep.
      .select(col("vec_id"), col("cluster"),
        when(!isnan(col("__c6")),
          expr("CAST(round(__c6 * 1000000, 0) AS BIGINT)")).as("cos_ppm"))
    // the per-probe rankers' cut and null/NaN guard, keyed by cluster
    scoreTopK(scored, k, col("cos_ppm"), ascending = true, parts = Seq(col("cluster")))
      .select(col("cluster"), col("vec_id"), col("cos_ppm"), col("rank"))
  }

  /** Diversity-aware candidate selection by greedy maximal marginal
    * relevance (Carbonell & Goldstein 1998): per query, repeatedly pick
    * the candidate maximizing λ·relevance − (1−λ)·max-cosine-to-chosen,
    * so near-duplicates of an already-picked result defer to coverage —
    * the final cut for RAG context packing, eval-set construction, and
    * diversity-constrained curation sampling.
    *
    * `cands` is a PER-QUERY CANDIDATE frame (an upstream retriever's
    * top-k: [[bruteForceTopK]]/[[rerankExact]] output joined to its
    * vectors, an RRF fusion, …) with (queryCol, idCol, relCol integer
    * ppm, vecCol array<double>). Each query's list collapses to ONE row
    * (collect_list is bounded by the upstream k, never corpus-sized) and
    * the sequential greedy loop runs inside the native
    * [[graft.functions.MmrSelect]] expression — O(k·n·dim) per query,
    * queries parallel across rows, one exchange total. Selection is
    * input-order independent (argmax, ties to the lower id), so the
    * unordered collect needs no sort; the exact integer score contract
    * lives on the expression doc and is replayed by the
    * sim_mmr_select recursive-CTE oracle.
    *
    * Returns (queryCol, sel_rank 1..n, idCol) in selection order.
    */
  def mmrSelect(cands: DataFrame, queryCol: String, idCol: String,
                relCol: String, vecCol: String, n: Int,
                lambdaPpm: Long): DataFrame = {
    // fail loudly on non-integral ids/relevances: the packing below
    // casts both to long, so a string id ('doc42') would cast to null
    // and the expression's degenerate-drop would silently discard EVERY
    // candidate of the query — an empty selection with no error
    def requireIntegral(name: String): Unit = {
      val t = cands.schema(name).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(t),
        s"mmrSelect: column `$name` must be an integral type (ids and " +
          s"ppm relevances ride as longs), got $t")
    }
    requireIntegral(idCol)
    requireIntegral(relCol)
    // ONE collect_list of a struct, then a positional unzip — never
    // three parallel collect_lists: collect_list silently skips null
    // INPUTS, so independent per-column collects would misalign the
    // three arrays whenever any single column is null (pairing id[j]
    // with the wrong rel/vec). A struct row with null fields is itself
    // non-null, so every candidate survives the collect, and
    // `transform` preserves nulls positionally — the expression's
    // per-candidate degenerate-drop then fires as documented.
    val packed = cands.groupBy(col(queryCol))
      .agg(collect_list(struct(col(idCol).cast("long").as("i"),
        col(relCol).cast("long").as("r"), col(vecCol).as("v"))).as("__cand"))
      .select(col(queryCol),
        graft.functions.MmrSelect.mmr_select(
          expr("transform(__cand, c -> c.i)"),
          expr("transform(__cand, c -> c.r)"),
          expr("transform(__cand, c -> c.v)"), n, lambdaPpm).as("__sel"))
    packed
      .select(col(queryCol), posexplode(col("__sel")).as(Seq("__pos", idCol)))
      .select(col(queryCol), (col("__pos") + 1).cast("int").as("sel_rank"),
        col(idCol))
  }

  /** Two-stage PQ retrieval: ADC fetches `fetchK` candidates per probe
    * in the compressed domain ([[pqTopK]] — only (vec_id, codes) ever
    * shuffles), then ONLY those candidates join back to the full vector
    * table for an exact-cosine top-k. This is the standard
    * coarse-retrieve / exact-rerank split (Jégou §V): an m·log2(ksub)-bit
    * code has limited rank RESOLUTION — the bench measures recall@10
    * ≈ 0.1 for raw 32-bit ADC ranking vs ≈ 1.0 re-ranked — so the codes
    * buy the 100 TB scan (8–128× less data read) and the exact pass pays
    * fetchK cosines per probe instead of N. The candidate frame
    * (≤ fetchK·|probes| rows of (probe_id, vec_id)) broadcasts against
    * the vector table, so the full vectors never shuffle either.
    *
    * Returns (probe_id, vec_id, cosine, rank ≤ k) — same contract as
    * [[bruteForceTopK]], and identical to it whenever the true top-k
    * survives in the ADC candidate set (spec-pinned at fetchK = corpus).
    */
  def pqTopKRerank(encoded: DataFrame, probes: DataFrame, codebooks: DataFrame,
                   vectors: DataFrame, k: Int, fetchK: Int,
                   roundTo: Int = 4): DataFrame = {
    require(fetchK >= k, s"fetchK=$fetchK must be >= k=$k")
    rerankExact(pqTopK(encoded, probes, codebooks, fetchK),
      probes, vectors, k, roundTo)
  }

  /** The exact re-rank stage on its own: any ANN candidate frame
    * (probe_id, vec_id — [[pqTopK]], [[ivfPqTopK]], an external index's
    * output) joins back to the full vector table for an exact-cosine
    * top-k. The candidate and probe frames broadcast (≤ fetchK·|probes|
    * rows), so the vector table never shuffles and its scan prunes on
    * the join key. Output contract matches [[bruteForceTopK]]. */
  def rerankExact(cands: DataFrame, probes: DataFrame, vectors: DataFrame,
                  k: Int, roundTo: Int = 4): DataFrame = {
    // distinct + self-pair filter BEFORE the join: an external candidate
    // frame may carry duplicate (probe_id, vec_id) rows (a union of two
    // ANN sources) or the probe itself — a duplicate would hold two of
    // the k ranks for one vector and a self-pair would crown rank 1 at
    // cosine 1.0, both violating the bruteForceTopK output contract
    // this stage claims. Candidate-set-sized (≤ fetchK·|probes|), so
    // the distinct is a broadcast-side no-op at scale.
    val cleaned = cands.select(col("probe_id"), col("vec_id"))
      .filter(col("vec_id") =!= col("probe_id")).distinct()
    val scored = vectors.select(col("vec_id"), col("v"))
      .join(broadcast(cleaned), "vec_id")
      .join(broadcast(probes.select(col("probe_id"), col("p"))), "probe_id")
      .select(col("probe_id"), col("vec_id"), Vectors.cosine(col("v"), col("p"), roundTo).as("cosine"))
    scoreTopK(scored, k, col("cosine"), ascending = false)
  }

  /** Symmetric per-vector int8 scalar quantization — the embedding
    * STORAGE operator (8× smaller than float64 arrays, 4× smaller than
    * float32): scale = max|xᵢ| / 127, qᵢ = round(xᵢ / scale) ∈ [−127, 127]
    * (half away from zero — identical in Spark and DuckDB), zero vectors
    * keep scale 0 with all-zero codes. Dequantize as qᵢ·scale with
    * per-component error ≤ scale/2. Everything is a shuffle-free
    * projection; max and the fold sums are order-independent, so the
    * codes are bit-identical across engines.
    *
    * Returns (vec_id, scale, q: array<int>).
    */
  def quantizeInt8(vectors: DataFrame): DataFrame = {
    val amax = expr("aggregate(v, 0D, (acc, x) -> greatest(acc, abs(x)))")
    vectors
      .select(col("vec_id"), col("v"), (amax / lit(127.0)).as("scale"))
      .select(col("vec_id"), col("scale"),
        when(col("scale") === 0.0, expr("transform(v, x -> 0)"))
          .otherwise(expr(
            "transform(v, x -> cast(least(127D, greatest(-127D, round(x / scale))) as int))"))
          .as("q"))
  }

  /** Exact top-k over int8-quantized vectors: cosine(qa·sa, qb·sb) =
    * (Σ qaᵢ·qbᵢ) / (√Σ qaᵢ² · √Σ qbᵢ²) — the scales CANCEL, so scoring
    * is pure integer dot products over the 8× compressed codes (the
    * memory-bandwidth story of quantized search) and the quantized
    * cosine is integer-exact before its one final rounded division —
    * fully deterministic across engines, unlike any float accumulation.
    * Approximation error vs the float cosine is bounded by the
    * per-component quantization error (spec-pinned); ranking follows the
    * same rounded-cosine + vec_id contract as [[bruteForceTopK]], cut by
    * the map-side group-limited top-k.
    */
  def int8TopK(quantized: DataFrame, probes: DataFrame, k: Int,
               roundTo: Int = 4): DataFrame = {
    // the pair-level dot is the native Int8Dot expression (exact i64
    // multiply-accumulate in whole-stage codegen); the HOF twin
    // [[int8DotHof]] stays for the parity spec + bench pair. Norms are
    // Int8Dot(x, x) — the same kernel, once per row.
    val dot = graft.functions.Int8Dot.int8_dot(col("q"), col("pq"))
    val nq = graft.functions.Int8Dot.int8_dot(col("q"), col("q"))
    val np = graft.functions.Int8Dot.int8_dot(col("pq"), col("pq"))
    // Norms are per-row: compute each side's ONCE before the join (vs per
    // pair), and guard zero-norm codes (all-zero vectors — their cosine
    // would be NaN, which sorts above every real value in the descending
    // rank) with per-side predicates. Filtering the pair-level cosine
    // instead would push the filter into the join condition and
    // re-evaluate the whole aggregate per PAIR per null/NaN check — seen
    // as a 3× evaluation in the plan audit.
    val lhs = quantized.withColumn("__nq", sqrt(nq.cast("double")))
      .filter(col("__nq") > 0.0)
    val rhs = probes.withColumn("__np", sqrt(np.cast("double")))
      .filter(col("__np") > 0.0)
    val scored = lhs.crossJoin(broadcast(rhs))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(dot.cast("double") / (col("__nq") * col("__np")), roundTo).as("cosine"))
    scoreTopK(scored, k, col("cosine"), ascending = false)
  }

  /** The HOF twin of the [[graft.functions.Int8Dot]] pair kernel —
    * parity spec-pinned, bench-compared (int8_dot_hof vs _expr). */
  private[graft] def int8DotHof(a: String, b: String): Column =
    expr(s"aggregate(zip_with($a, $b, (x, y) -> cast(x AS bigint) * y), 0L, (acc, z) -> acc + z)")

  /** Recall@k of an approximate top-k result against the exact one —
    * the retrieval-quality number a user sizing nprobe / PQ codebooks /
    * quantization actually needs (the oracle gates only check that the
    * approximation replays identically, which says nothing about how
    * much of the true neighborhood it finds). Both frames carry
    * (probe_id, vec_id, rank); rows with rank > k are ignored, so
    * results from a larger-k search can be reused. Returns
    * |approx ∩ exact| / |exact| over all probes (micro-averaged;
    * probes the approximate path dropped entirely simply contribute
    * misses), or 1.0 when the exact set is empty. */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): Double = {
    val a = approx.filter(col("rank") <= k).select(col("probe_id"), col("vec_id"))
    val e = exact.filter(col("rank") <= k).select(col("probe_id"), col("vec_id"))
    val denom = e.count().toDouble
    if (denom == 0) 1.0
    else a.join(e, Seq("probe_id", "vec_id")).count().toDouble / denom
  }

  /** L2-normalize an embedding column in place: v / ‖v‖, components
    * rounded to `roundTo` dp (zero vectors pass through unchanged — no
    * NaN surface). One shuffle-free projection; after it, cosine reduces
    * to a plain dot product, which halves the per-pair work of every
    * downstream similarity stage and is the usual prep before int8/PQ
    * quantization. The norm folds left-to-right over ascending dims —
    * the same sequence an SQL list fold replays. */
  def l2Normalize(vectors: DataFrame, vecCol: String = "v",
                  roundTo: Int = 6): DataFrame = {
    val nv = sqrt(aggregate(col(vecCol), lit(0.0), (acc, x) => acc + x * x))
    vectors.withColumn(vecCol,
      when(nv === 0.0, col(vecCol))
        .otherwise(transform(col(vecCol), x => round(x / nv, roundTo))))
  }

  /** Chunk→document mean pooling: many chunk embeddings per `docCol`
    * collapse to one per-dimension mean vector (the standard way a
    * long document gets ONE embedding from its chunk embeddings before
    * doc-level similarity/dedup): [[Vectors.dimMeans]] rounded to
    * `roundTo` (cross-engine determinism under any partial-agg order).
    * Compose with [[l2Normalize]] for unit-length doc embeddings. */
  def meanPool(chunks: DataFrame, docCol: String, vecCol: String = "v",
               roundTo: Int = 6): DataFrame =
    Vectors.dimMeans(chunks, Seq(col(docCol).as("__doc")), col(vecCol), Some(roundTo))
      .select(col("__doc").as(docCol), col("c").as(vecCol))

  /** Embedding-distribution drift between two corpus versions — the
    * monitoring number a continuously-ingesting pipeline publishes per
    * release: for each stratum (source, cluster label, language …) the
    * per-dimension mean embedding of both versions and the cosine
    * between them (`drift_cos` = 1 → the stratum's centroid didn't move;
    * a drop flags ingest drift, a broken encoder, or a poisoned source
    * BEFORE it trains into a model). Both sides reduce with the
    * [[meanPool]] aggregation (state bounded by strata·dim scalars —
    * vectors never shuffle whole), the join is |strata|-sized, and the
    * cosine is one [[graft.functions.CosineSim]] call per stratum.
    * Strata present in only one version survive with the other side's
    * count 0 and a null cosine; empty (zero-dimension) vectors carry no
    * distribution and don't count. Input frames carry (strataCol, v).
    * Returns (strataCol, n_old, n_new, drift_cos). */
  /** Per-stratum centroid + count in ONE scan — the distribution profile
    * the drift operators compare: (strataCol, c: array<double> of
    * `roundTo`-rounded dim means, n: stratum row count), exactly
    * [[Vectors.dimMeans]] (its dim-0 count IS the stratum's vector count
    * — a separate groupBy-count branch would re-run the whole lineage).
    * Store this as the reference profile a
    * [[graft.streaming.StreamingDrift]] monitor checks batches against. */
  def strataCentroids(df: DataFrame, strataCol: String,
                      vecCol: String = "v", roundTo: Int = 6): DataFrame =
    Vectors.dimMeans(df, Seq(col(strataCol)), col(vecCol), Some(roundTo))

  def embeddingDrift(oldV: DataFrame, newV: DataFrame, strataCol: String,
                     roundTo: Int = 6): DataFrame = {
    def side(df: DataFrame, kn: String, vn: String, cn: String): DataFrame =
      strataCentroids(df, strataCol, roundTo = roundTo)
        .select(col(strataCol).as(kn), col("c").as(vn), col("n").as(cn))
    // null-SAFE join key (<=>): a null stratum (unlabeled source) is a
    // legitimate slice a drift monitor must pair across versions — a
    // plain USING join never matches null keys, so the null stratum
    // split into TWO rows each claiming the other version was empty,
    // and drift_cos was never computed for exactly the unattributed
    // slice most likely to hide a broken encoder.
    side(oldV, "__so", "__co", "n_old")
      .join(side(newV, "__sn", "__cn", "n_new"),
        col("__so") <=> col("__sn"), "full_outer")
      .select(coalesce(col("__so"), col("__sn")).as(strataCol),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        // the dim-length array fold runs ONCE per row behind a named
        // column; CollapseProject keeps a twice-referenced non-cheap
        // alias in its own Project rather than re-inlining it into both
        // branches of the NaN guard below
        Vectors.cosine(col("__co"), col("__cn"), roundTo).as("__dc"))
      // undefined drift is NULL, never NaN: a zero-norm centroid (a
      // stratum of all-zero embeddings — a broken encoder, exactly
      // what this monitor watches for) gives cosine 0/0 = NaN, which
      // serializes engine-specifically and compares as ABOVE every
      // real value in Spark — a reader's `drift_cos < 0.9` alert
      // would silently never fire for the one stratum that is
      // entirely corrupt. NULL = "could not be measured" is the
      // honest signal and what a SQL replay yields.
      .select(col(strataCol), col("n_old"), col("n_new"),
        when(!isnan(col("__dc")), col("__dc")).as("drift_cos"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023): cluster the
    * embedding space with deterministic k-means, then inside each cluster
    * remove every vector that has a lower-id cluster-mate with cosine ≥
    * `threshold`. Pairwise candidates exist only within a cluster — the
    * self-join keys on the cluster id, so both sides co-partition on one
    * shuffle each and the candidate space is ~n²/k per cluster bucket,
    * never the all-pairs n² that cannot exist at 100 TB. (Skewed clusters
    * are the residual risk: cap cluster radius by raising k, exactly as
    * the paper sizes k ∝ √n.)
    *
    * Returns one row per removed vector:
    * (removed_vec_id, cluster, n_near, max_cos).
    */
  def semanticDedup(vectors: DataFrame, k: Int, iters: Int,
                    threshold: Double): DataFrame =
    semanticDedup(vectors, kmeansFit(vectors, k, iters), threshold)

  /** SemDeDup over pre-fit centroids: one [[assignClusters]] pass labels
    * the corpus (fit the centroids on a sample via [[kmeansFit]] at
    * scale), then the within-cluster removal rule applies unchanged. The
    * labeled frame feeds both sides of the within-cluster self-join, so
    * it is cut by [[Checkpoint.cut]] — one assignment pass, not two (lazy
    * by default; reliable and materialized at composition time when the
    * session has a checkpoint dir). */
  def semanticDedup(vectors: DataFrame, cents: DataFrame,
                    threshold: Double): DataFrame = {
    // cluster -1 is the degenerate label (zero-norm / width-mismatched
    // vectors — CosineArgmax returns -1 when no cosine is defined):
    // exclude it BEFORE the self-join. Degenerates pairing with each
    // other is an unintended O(n_degenerate²) bucket whose cosines are
    // all 0/0 = NaN, and Spark's nan-safe compare would pass NaN >=
    // threshold — reporting "duplicates" whose similarity is undefined.
    val assigned = assignClusters(vectors, cents).filter(col("cluster") =!= -1)
    val labeled = Checkpoint.cut(assigned)
    val lo = labeled.select(col("cluster"), col("vec_id").as("lo_id"), col("v"))
    val hi = labeled.select(col("cluster"), col("vec_id").as("hi_id"), col("v").as("p"))
    lo.join(hi, Seq("cluster"))
      .filter(col("lo_id") < col("hi_id"))
      .select(col("cluster"), col("hi_id"), Vectors.cosine(col("v"), col("p"), 6).as("cos"))
      .filter(col("cos") >= threshold && !isnan(col("cos")))
      .groupBy(col("hi_id").as("removed_vec_id"))
      .agg(max(col("cluster")).as("cluster"),
        count(lit(1)).as("n_near"),
        max(col("cos")).as("max_cos"))
  }
}
