package graft

import org.apache.spark.sql.execution.FormattedMode

/** Physical-plan assertions — the ExplainAudit eyeball checks as failing
  * tests. A plan regression (lost pushdown, a join degrading to a shuffle
  * or cartesian, an operator dropping out of the Dataset plan to an RDD
  * scan) is a 100×-scale incident that row-level correctness gates can't
  * see; these specs catch it at commit time.
  */
class PlanSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, dir)
      .queryExecution.explainString(FormattedMode)

  test("ExplainAudit.normalize masks plan ids and lambda class names, nothing else") {
    val raw =
      """(7) Exchange [plan_id=186]
        |Arguments: hashpartitioning(id#12L, 4), ENSURE_REQUIREMENTS, [plan_id=1042]
        |Arguments: graft.operators.Retrieval$$$Lambda$5217/0x00007f8d15456c30@20eee47c, obj#88
        |Arguments: graft.operators.Multimodal$$$Lambda/0x00007f8d15456c30@7a1b""".stripMargin
    assert(ExplainAudit.normalize(raw) ==
      """(7) Exchange [plan_id=_]
        |Arguments: hashpartitioning(id#12L, 4), ENSURE_REQUIREMENTS, [plan_id=_]
        |Arguments: graft.operators.Retrieval$$$Lambda, obj#88
        |Arguments: graft.operators.Multimodal$$$Lambda""".stripMargin)
  }

  test("q_keyset_scan pushes its pk-range filters into the parquet scan") {
    val p = planOf("q_keyset_scan")
    assert(p.contains("PushedFilters"), s"no pushdown section in plan:\n$p")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("GreaterThan") || pushed.contains("IsNotNull"),
      s"pk-range predicates not pushed: $pushed")
  }

  test("scans prune to the projected columns (q_keyset_scan reads a narrow schema)") {
    val p = planOf("q_keyset_scan")
    val readSchemas = p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(!readSchemas.contains("o_comment"),
      s"scan reads unprojected wide columns:\n$readSchemas")
  }

  test("q_region_revenue joins its dimensions with broadcast, not shuffle") {
    val p = planOf("q_region_revenue")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in:\n$p")
  }

  test("d_contamination broadcasts the benchmark side") {
    val p = planOf("d_contamination")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in:\n$p")
  }

  test("no query plans a CartesianProduct") {
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val p = planOf(name)
      assert(!p.contains("CartesianProduct"),
        s"$name plans a cartesian product:\n$p")
    }
  }

  test("d_url_dedup aggregates map-side first and scans only doc_id") {
    val p = planOf("d_url_dedup")
    assert(p.contains("partial_min"), s"no partial aggregation before the exchange:\n$p")
    val readSchemas = p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(readSchemas.contains("doc_id") && !readSchemas.contains("text"),
      s"url dedup should never read the text column:\n$readSchemas")
  }

  test("t_quality_filter is a narrow map: its only exchange is the output sort") {
    val p = planOf("t_quality_filter")
    val exchanges = p.linesIterator.filter(_.matches("\\(\\d+\\) Exchange.*")).toSeq
    assert(exchanges.size == 1, s"quality filter must not shuffle data:\n$p")
    val detail = p.linesIterator.dropWhile(!_.matches("\\(\\d+\\) Exchange.*"))
      .take(3).mkString("\n")
    assert(detail.contains("rangepartitioning"),
      s"the single exchange should be the orderBy:\n$detail")
    // stopword membership lowered to a hash-set InSet, not a linear scan
    assert(p.contains("INSET"), s"stopword check must be set-backed:\n$p")
  }

  test("d_chunk_dedup shuffle shape: chunk-hash window + doc rebuild + sort only") {
    val p = planOf("d_chunk_dedup")
    val n = p.linesIterator.count(_.matches("\\(\\d+\\) Exchange.*"))
    assert(n == 3, s"expected exactly 3 exchanges (md5 window, doc_id agg, sort), got $n:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"chunk dedup must not join at all:\n$p")
  }

  test("cluster assignment is a shuffle-free projection; semantic-dedup pair join keys on cluster") {
    // assignClusters carries the k-row centroid frame as a plan literal,
    // so the corpus scan → cluster-label segment must contain NO Exchange
    // and NO join node of any kind (the old crossJoin(broadcast)+window
    // form re-shuffled n×k vector-carrying rows — a 100× scale-killer);
    // the published semantic-dedup plan must key its pair join on the
    // cluster id with no cartesian
    import spark.implicits._
    import graft.operators.Similarity
    val vecs = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)), (2L, Seq(0.9, 0.1)))
      .toDF("vec_id", "v")
    val assignPlan = Similarity
      .assignClusters(vecs, Similarity.kmeansFit(vecs, k = 2, iters = 2))
      .queryExecution.explainString(FormattedMode)
    assert(!assignPlan.linesIterator.exists(_.matches("\\(\\d+\\) Exchange.*")) &&
      !assignPlan.contains("BroadcastExchange"),
      s"assignment must be shuffle-free:\n$assignPlan")
    assert(!assignPlan.contains("Join"),
      s"assignment must not join — centroids are a literal:\n$assignPlan")
    val p = planOf("d_semantic_dedup")
    // the pair join must KEY on the cluster id — as a co-partitioned
    // shuffle join at scale, or (fine at test scale, where the labeled
    // frame's stats are small) a broadcast hash join on the same key
    assert(p.contains("hashpartitioning(cluster") ||
      p.linesIterator.exists(l => l.startsWith("Left keys") && l.contains("[cluster")),
      s"pair join must key on the cluster id:\n$p")
    assert(!p.contains("CartesianProduct"), s"pairwise work must stay within clusters:\n$p")
  }

  test("ivf/brute-force top-k group-limits map-side, never a bare per-probe window") {
    // the per-probe rank filter must plan as WindowGroupLimit with a
    // Partial node BELOW the rank exchange (lower node id = deeper):
    // each task keeps ≤ k rows per probe before anything moves, so the
    // final per-probe sort sees ≤ k·n_map_partitions rows — the same
    // per-task bound the former explicit salted two-phase gave, with one
    // Exchange and one full sort fewer. A config/version change that
    // silently drops the partial limit (re-sorting every candidate of a
    // probe in one task) fails here.
    Seq("sim_ivf_topk", "sim_knn_cosine").foreach { name =>
      val p = planOf(name)
      def nodeIds(op: String): Seq[Int] =
        s"""$op \\((\\d+)\\)""".r.findAllMatchIn(p).map(_.group(1).toInt).toSeq
      val wgl = nodeIds("WindowGroupLimit")
      val ex = nodeIds("Exchange")
      // formatted-mode ids are preorder, so the Partial limit that feeds
      // an Exchange is exactly id(Exchange) − 1 (other subtrees — probe
      // routing, cache builds — carry their own exchanges, so global
      // id ordering proves nothing)
      assert(wgl.nonEmpty && ex.exists(e => wgl.contains(e - 1)),
        s"$name: no map-side WindowGroupLimit feeding the rank exchange:\n$p")
    }
  }

  test("envelope consume evaluates unpack once and decode once per row (generator barriers)") {
    // the flattened `env.field` form let CollapseProject re-inline
    // unpack_envelope per extracted field (~8 evaluations of the full
    // unpack per row) and predicate pushdown copied the decode_payload
    // tree into a Filter below the projection — the r18 before-plan of
    // env_dead_letter carries the whole pack→unpack→decode chain inside
    // the scan Filter AND the Project. The generator barriers pin both:
    // unpack_envelope must appear exactly once (the explode generator),
    // decode_payload exactly twice (payload + previous_payload inside
    // the inline generator), and never inside a Filter condition.
    import org.apache.spark.sql.functions._
    val reg = new graft.schema.SchemaRegistry
    val entry = reg.registerSchema("plan", "event", queries.EnvelopeOps.eventSchemaJson)
    import spark.implicits._
    val transport = spark.range(8).toDF("id")
      .select(graft.streaming.Pipeline.envelopeFor(
        struct($"id".as("event_id"), $"id".as("user_id"),
          lit("t").as("event_type"), lit(1.0).as("value")),
        "create", entry, lit(0L), unhex(md5($"id".cast("string")))).as("value"))
    val consumed = graft.streaming.Pipeline.consume(transport, reg, entry.schemaId)
      // a consumer filter on the decoded column must NOT push the decode
      // below the projection — the barrier property under test
      .filter(col("payload").isNotNull)
    val p = consumed.queryExecution.explainString(FormattedMode)
    def count(token: String): Int = token.r.findAllIn(p).length
    assert(count("unpack_envelope\\(") == 1,
      s"unpack_envelope must evaluate once per row:\n$p")
    assert(count("decode_payload\\(") == 2,
      s"decode_payload must evaluate once per decoded column:\n$p")
    val filterConds = p.linesIterator.filter(_.startsWith("Condition")).mkString("\n")
    assert(!filterConds.contains("decode_payload") &&
      !filterConds.contains("unpack_envelope"),
      s"the serde chain re-evaluates inside a Filter:\n$filterConds")
  }

  test("env_dead_letter: no serde expression survives into a pushed filter") {
    // the split materializes the consume pass once (localCheckpoint), so
    // the query plan must carry NO serde expressions at all — a decode
    // in a Filter here means the barrier or the shared pass regressed
    val p = planOf("env_dead_letter")
    val filterConds = p.linesIterator.filter(_.startsWith("Condition")).mkString("\n")
    assert(!filterConds.contains("decode_payload") &&
      !filterConds.contains("unpack_envelope"),
      s"the serde chain evaluates inside a Filter:\n$filterConds")
  }

  test("sim_ivf_sample routes probes with the pre-fit centroids, never re-derived means") {
    // the pre-fit ivfTopK overload was handed the k-row centroid frame;
    // its search plan must NOT re-derive routing centroids from the
    // labeled corpus — that would be a posexplode of every vector plus a
    // (cluster, dim)-keyed aggregation, i.e. a second full-corpus pass
    // per search at 100 TB
    val p = planOf("sim_ivf_sample")
    assert(!p.contains("posexplode"),
      s"pre-fit search re-derives centroids via a dim-explode:\n$p")
    assert(!p.linesIterator.exists(_.matches(".*hashpartitioning\\(cluster[^)]*dim.*")),
      s"pre-fit search aggregates on (cluster, dim):\n$p")
  }

  test("multimodal decode seams stay in the Dataset plan (no RDD scan boundary)") {
    Seq("m_media_embed", "m_media_meta", "m_frame_sample").foreach { name =>
      val p = planOf(name)
      assert(!p.contains("Scan ExistingRDD"),
        s"$name breaks lineage through df.rdd:\n$p")
    }
    // the batched-decode seam itself is a MapPartitions node inside the plan
    assert(planOf("m_media_embed").contains("MapPartitions"))
  }

  /** The Input column lists of every hash-partitioned Exchange in a
    * FormattedMode plan — what the shuffle actually CARRIES (the
    * Arguments line only shows partition keys, so grepping it alone
    * would pass even if wide payload columns rode along). */
  private def hashExchangeInputs(p: String): Seq[String] = {
    val lines = p.linesIterator.toVector
    lines.zipWithIndex
      .collect { case (l, i) if l.matches("\\(\\d+\\) Exchange.*") =>
        lines.drop(i + 1).takeWhile(_.trim.nonEmpty).mkString("\n")
      }
      .filter(_.contains("hashpartitioning"))
      .flatMap(_.linesIterator.find(_.startsWith("Input")))
  }

  test("sim_bm25_multi broadcasts df/stats/query sides; corpus text never shuffles") {
    val p = planOf("sim_bm25_multi")
    assert(p.contains("BroadcastExchange"), s"no broadcast in:\n$p")
    // the only wide exchanges may carry (id, dl, term[, tf...]) aggregate
    // rows and the final per-query rank — never the text column
    val inputs = hashExchangeInputs(p)
    assert(inputs.nonEmpty, s"expected hash exchanges in:\n$p")
    inputs.foreach(in => assert(!in.contains("text#"),
      s"corpus text enters a shuffle:\n$in"))
    // the per-query top-k rank filter must plan as WindowGroupLimit with
    // a partial below the window's exchange: every task forwards only
    // its local top-k per query, so no task ever sorts a query's full
    // matched-doc set (the salted two-phase variant gave the same bound
    // at the cost of an extra exchange — if this node disappears, a
    // config/version change silently re-opened the per-group sort)
    def nodeIds(op: String): Seq[Int] =
      s"""$op \\((\\d+)\\)""".r.findAllMatchIn(p).map(_.group(1).toInt).toSeq
    val wgl = nodeIds("WindowGroupLimit")
    val ex = nodeIds("Exchange")
    assert(wgl.size == 2 && ex.exists(e => wgl.min < e && e < wgl.max),
      s"no map-side WindowGroupLimit below the rank exchange:\n$p")
  }

  test("d_substring_dedup (and the sampled path) shuffle window hashes, not window text") {
    Seq("d_substring_dedup", "d_substring_sampled").foreach { name =>
      // the window/first-occurrence shuffle must be keyed on the hash
      // value with no `g` (window text) or source text column in flight
      val p = planOf(name)
      val inputs = hashExchangeInputs(p)
      assert(inputs.nonEmpty, s"expected a hash shuffle in $name:\n$p")
      inputs.foreach(in => assert(!in.contains("g#") && !in.contains("text#"),
        s"$name: window text shuffles instead of its hash:\n$in"))
    }
  }

  test("d_substring_removal: window text never shuffles (hashes only; the doc join may carry text)") {
    val p = planOf("d_substring_removal")
    hashExchangeInputs(p).foreach(in => assert(!in.contains("g#"),
      s"window text enters a shuffle:\n$in"))
  }

  test("d_semantic_sample: label segment shuffle-free, pair join keyed on cluster") {
    // the sample-fit path must inherit the projection-argmax assignment:
    // no cartesian anywhere, and the within-cluster pair join must key on
    // the cluster id (shuffle or broadcast hash join — never a cross)
    val p = planOf("d_semantic_sample")
    assert(!p.contains("CartesianProduct"), s"pairwise work must stay within clusters:\n$p")
    assert(p.contains("hashpartitioning(cluster") ||
      p.linesIterator.exists(l => l.startsWith("Left keys") && l.contains("[cluster")),
      s"pair join must key on the cluster id:\n$p")
  }

  test("t_bpe_apply: corpus text never shuffles; per-word token counts broadcast") {
    val p = planOf("t_bpe_apply")
    // the only wide exchanges may carry the distinct-word collapse and the
    // per-doc aggregate — never the text column
    hashExchangeInputs(p).foreach(in => assert(!in.contains("text#"),
      s"corpus text enters a shuffle:\n$in"))
    assert(p.contains("BroadcastExchange"),
      s"the vocabulary-side token counts must broadcast under the cap:\n$p")
  }

  test("t_pack_sharded broadcasts the per-shard base offsets") {
    val p = planOf("t_pack_sharded")
    assert(p.contains("BroadcastHashJoin"),
      s"base-offset join must broadcast the tiny totals frame:\n$p")
  }

  test("sim_pq_topk: vectors never shuffle — only codes; probe tables broadcast") {
    val p = planOf("sim_pq_topk")
    // the corpus side of the ADC join is (vec_id, codes); the full
    // embedding array must stay at the scan, never enter an exchange
    hashExchangeInputs(p).foreach(in =>
      assert(!in.contains("v#") && !in.contains("embedding#"),
        s"corpus vectors enter a shuffle:\n$in"))
    assert(p.contains("BroadcastExchange"),
      s"the per-probe distance tables must broadcast:\n$p")
  }

  test("sim_ivfpq_res_topk: the probe distance table is one pq_dist_table node, never an element_at tree") {
    val opt = SparkEntry.queries("sim_ivfpq_res_topk")(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert(opt.contains("pq_dist_table("),
      s"the distance table must plan as the native expression:\n$opt")
    // the column-expression table was m·ksub·subDim element_at leaves over
    // the probe vector; the query has no other element_at, so none may
    // come back
    assert(!opt.contains("element_at("),
      s"element_at over the probe vector in the optimized plan:\n$opt")
  }

  test("sim_opq_topk: rotated vectors never shuffle — only codes; rotation fuses into the scan-side projection") {
    val p = planOf("sim_opq_topk")
    // the rotation is a MatVec literal applied in the same projection as
    // the encode argmins — the corpus side of the ADC join still carries
    // only (vec_id, codes), never the (rotated) vector
    hashExchangeInputs(p).foreach(in =>
      assert(!in.contains("v#") && !in.contains("embedding#") &&
        !in.contains("mat_vec"),
        s"(rotated) corpus vectors enter a shuffle:\n$in"))
    assert(p.contains("mat_vec"),
      s"the rotation must ride the plan as a MatVec projection:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"the per-probe distance tables must broadcast:\n$p")
  }

  test("sim_hybrid_mmr: MMR candidate packing is bounded — document text and vectors stay out of the fusion shuffles") {
    val p = planOf("sim_hybrid_mmr")
    // the fused candidate frame is ≤ Σk rows per query; the corpus-sized
    // inputs (document text for BM25, embeddings for the dense run)
    // must reduce BEFORE anything corpus-sized moves
    hashExchangeInputs(p).foreach(in => assert(!in.contains("text#"),
      s"document text enters a shuffle:\n$in"))
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    assert(p.contains("mmr_select"),
      s"the greedy selection must run as the native expression:\n$p")
  }

  /** Formatted-mode node ids of `op`: post-order, so a child's id is
    * lower than its parent's and the node feeding an operator is its
    * id − 1. */
  private def nodeIds(p: String, op: String): Seq[Int] =
    s"""$op \\((\\d+)\\)""".r.findAllMatchIn(p).map(_.group(1).toInt).toSeq

  /** A global rank cut's map-side bound: a TakeOrderedAndProject (every
    * task keeps its local top-k before the single merge) or a partial
    * WindowGroupLimit below the first exchange. */
  private def globalCutBounded(p: String): Boolean = {
    val wgl = nodeIds(p, "WindowGroupLimit")
    val ex = nodeIds(p, "Exchange")
    p.contains("TakeOrderedAndProject") || (wgl.nonEmpty && ex.nonEmpty && wgl.min < ex.min)
  }

  test("t_weighted_sample: text stays at the scan; the global cut is bounded map-side") {
    val p = planOf("t_weighted_sample")
    hashExchangeInputs(p).foreach(in => assert(!in.contains("text#"),
      s"document text enters the top-k shuffle:\n$in"))
    // each task keeps ≤ k rows before anything moves — the property that
    // makes the global cut scale
    assert(globalCutBounded(p), s"no map-side bound on the global cut:\n$p")
    assert(!p.contains("pmod(xxhash64"), s"salted pre-rank is back:\n$p")
  }

  test("t_rebalance: the per-stratum cut group-limits map-side below its exchange") {
    val p = planOf("t_rebalance")
    // the quota filter is a column, so only the literal totalK bound cut
    // alongside it lets a partial WindowGroupLimit feed the stratum
    // exchange: a dominant stratum never sorts whole in one task
    val wgl = nodeIds(p, "WindowGroupLimit")
    assert(nodeIds(p, "Exchange").exists(e => wgl.contains(e - 1)),
      s"no map-side WindowGroupLimit feeding the per-stratum exchange:\n$p")
    assert(!p.contains("pmod(xxhash64"), s"salted pre-rank is back:\n$p")
  }

  test("TopK.cut: a keyed cut group-limits map-side up to k = 1000, not at 1001") {
    import org.apache.spark.sql.functions.col
    // Spark plans a WindowGroupLimit only for k up to
    // spark.sql.optimizer.windowGroupLimitThreshold (1000 by default);
    // above it each key's rows rank whole in one task. TopK and
    // Curation.rebalanceSample document the limit; this pins it to the
    // Spark version in use. Only planned, never run: the range must hold
    // more than k rows, or Spark needs no bound at any k
    val df = spark.range(1L << 20).select((col("id") % 3).as("g"), col("id"))
    def keyedPlan(k: Int): String =
      graft.operators.TopK.cut(df, k, Seq(col("g")), Seq(col("id")), "rank")
        .queryExecution.explainString(FormattedMode)
    assert(keyedPlan(1000).contains("WindowGroupLimit"),
      s"no WindowGroupLimit at k = 1000:\n${keyedPlan(1000)}")
    assert(!keyedPlan(1001).contains("WindowGroupLimit"),
      s"WindowGroupLimit at k = 1001 — the threshold moved:\n${keyedPlan(1001)}")
  }

  test("d_incr_exact / d_incr_lsh: document text never enters a shuffle") {
    // incremental dedup's whole point is that the corpus collapses to
    // hashes/bands once — the delta probe must move hash rows, never text
    Seq("d_incr_exact", "d_incr_lsh").foreach { name =>
      val p = planOf(name)
      hashExchangeInputs(p).foreach(in => assert(!in.contains("text#"),
        s"$name: document text enters a shuffle:\n$in"))
    }
  }

  test("t_linear_score: scoring is a projection — only the output sort exchanges") {
    val p = planOf("t_linear_score")
    assert(hashExchangeInputs(p).isEmpty,
      s"classifier scoring must not hash-shuffle (model rides as a literal):\n$p")
  }

  test("q_skew_stats: per-key counts combine map-side; the global rank is bounded map-side") {
    val p = planOf("q_skew_stats")
    // the full distinct-key set never sorts in one task
    assert(globalCutBounded(p), s"no map-side bound on the global rank:\n$p")
    assert(!p.contains("pmod(xxhash64"), s"salted pre-rank is back:\n$p")
    hashExchangeInputs(p).foreach(in => assert(!in.contains("props#"),
      s"event payload enters the diagnostic shuffle:\n$in"))
  }

  test("q_range_join plans an equi-join on (key, bucket), never a nested loop") {
    val p = planOf("q_range_join")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"range join degraded to a nested loop:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      s"expected a hash-keyed equi-join on the bucketized frames:\n$p")
  }

  test("q_bloom_semi: bloom probe runs inside the scan's codegen stage; no hash shuffle") {
    val df = SparkEntry.queries("q_bloom_semi")(spark, dir)
    val simple = df.queryExecution
      .explainString(org.apache.spark.sql.execution.SimpleMode)
    val lines = simple.linesIterator.toVector
    val bi = lines.indexWhere(_.contains("bloom_might_contain"))
    assert(bi >= 0, s"bloom pre-filter missing from the plan:\n$simple")
    // the bloom filter sits directly on the fact scan: the lineitem scan is
    // below it in the tree with no exchange (and no join) in between
    val si = lines.indexWhere(
      l => l.contains("Scan") && l.contains("lineitem"), bi)
    assert(si > bi, s"bloom filter is not above the lineitem scan:\n$simple")
    assert(!lines.slice(bi, si).exists(l =>
        l.contains("Exchange") || l.contains("Join")),
      s"bloom filter separated from the scan by an exchange/join:\n$simple")
    assert(simple.contains("BroadcastHashJoin") && simple.contains("LeftSemi"),
      s"exact semi join should broadcast the small build side:\n$simple")
    // the probe side never shuffles: the only exchange is the output sort
    assert(!simple.contains("hashpartitioning"),
      s"fact side shuffled despite bloom pruning + broadcast semi join:\n$simple")
  }

  test("q_cdc_apply: latest-change cut plans a map-side WindowGroupLimit below its shuffle") {
    val p = planOf("q_cdc_apply")
    def nodeIds(op: String): Seq[Int] =
      s"""$op \\((\\d+)\\)""".r.findAllMatchIn(p).map(_.group(1).toInt).toSeq
    // partial WindowGroupLimit below the window's exchange, final above
    // it (ids grow upward within a branch): each task forwards only its
    // own latest candidate per key before anything moves
    val wgl = nodeIds("WindowGroupLimit")
    val ex = nodeIds("Exchange")
    assert(wgl.size == 2 && ex.exists(e => wgl.min < e && e < wgl.max),
      s"hot-key update storms would land in one task — no map-side group limit:\n$p")
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"),
      s"snapshot apply should be one full-outer join on the key:\n$p")
  }

  test("q_bucketed_join: bucketed scans co-locate the join — no exchange on the join key") {
    val p = planOf("q_bucketed_join")
    assert(p.contains("SortMergeJoin"), s"expected a sort-merge join:\n$p")
    assert(p.contains("Bucketed: true"),
      s"scans are not reading the bucketed layout:\n$p")
    // the join key is never re-shuffled: the only exchange in the query
    // is the post-join aggregation on o_orderpriority
    val keyExchanges = p.linesIterator.filter(l =>
      l.contains("hashpartitioning") && l.contains("orderkey")).toSeq
    assert(keyExchanges.isEmpty,
      s"join key re-shuffled despite bucketing:\n${keyExchanges.mkString("\n")}")
    // bucket pruning: an equality predicate on the bucket key reads 1/n
    // of the files — the scan reports the selected bucket count. (The
    // autoBucketedScan heuristic turns the bucketed read off for a bare
    // filter — it only keeps it when the distribution is useful — so pin
    // it on for the probe, as a pruning-sensitive job would.)
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val pruned = spark.table("bkt_lineitem")
        .filter(org.apache.spark.sql.functions.col("l_orderkey") === 42L)
        .queryExecution.explainString(FormattedMode)
      assert(pruned.contains("SelectedBucketsCount: 1 out of 16"),
        s"equality predicate did not prune to one bucket:\n$pruned")
    } finally
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
  }

  test("validEmbeddings: ids-only dup pre-check; vector-wide dedup shuffle paid only on collisions; memoized per corpus dir") {
    // the ingest guard's scale contract (Tables.scala): the id-uniqueness
    // probe may shuffle aggregate buffers keyed on vec_id but NEVER the
    // vector column; a collision-free corpus plans scan+filter only (no
    // window, no exchange); only a corpus with real key collisions pays
    // the vector-wide dedup window; and the probe results memoize per
    // corpus dir so the two eager probes run once per corpus per JVM,
    // not once per query invocation
    import spark.implicits._
    val clean = Seq(
      (0L, Seq(1.0f, 0.0f), 1), (1L, Seq(0.0f, 1.0f), 2),
      (2L, Seq(0.5f, 0.5f), 3), (3L, Seq(0.2f, 0.8f), 4))
      .toDF("vec_id", "embedding", "label")
    val cleanDir = java.nio.file.Files.createTempDirectory("emb_clean").toString
    clean.write.mode("overwrite").parquet(s"$cleanDir/embeddings.parquet")
    val dupDir = java.nio.file.Files.createTempDirectory("emb_dup").toString
    clean.union(Seq((1L, Seq(0.9f, 0.1f), 5)).toDF("vec_id", "embedding", "label"))
      .write.mode("overwrite").parquet(s"$dupDir/embeddings.parquet")
    try {
      // (a) collision-free corpus: the published plan is scan + filter —
      // no window, no exchange of any kind
      val cleanPlan = Tables.buildValidEmbeddings(spark, cleanDir)
        .queryExecution.explainString(FormattedMode)
      assert(!cleanPlan.contains("Window") &&
        !cleanPlan.linesIterator.exists(_.matches("\\(\\d+\\) Exchange.*")),
        s"clean corpus must not pay a dedup window/shuffle:\n$cleanPlan")
      // (b) a planted duplicate id buys the dedup window — and only then
      val dupPlan = Tables.buildValidEmbeddings(spark, dupDir)
        .queryExecution.explainString(FormattedMode)
      assert(dupPlan.contains("Window"),
        s"dup-id corpus must dedup through the keep-winner window:\n$dupPlan")
      // (c) the id-uniqueness pre-check is an ids-only aggregation: every
      // exchange in its plan (the vec_id-keyed partial and the final
      // single-partition merge) carries counters, never the vector
      val probePlan = Tables.dupIdProbe(Tables.buildValidEmbeddings(spark, cleanDir))
        .queryExecution.explainString(FormattedMode)
      val probeLines = probePlan.linesIterator.toVector
      // a missing Input line is a FAILURE, not a vacuous pass: if a Spark
      // upgrade reformats the Exchange detail block, this pin must go red
      // rather than keep passing while checking nothing
      val exchangeInputs = probeLines.zipWithIndex
        .collect { case (l, i) if l.matches("\\(\\d+\\) Exchange.*") =>
          probeLines.drop(i + 1).takeWhile(_.trim.nonEmpty)
            .find(_.trim.startsWith("Input"))
            .getOrElse(fail(s"Exchange block without an Input line in:\n$probePlan"))
        }
      assert(exchangeInputs.nonEmpty, s"expected exchanges in the probe plan:\n$probePlan")
      exchangeInputs.foreach(in => assert(!in.contains("embedding#"),
        s"the dup pre-check shuffles the vector column:\n$in"))
      // (d) memoized per corpus dir: once the probes have run, a second
      // call for the same dir starts no Spark job — no probe, and no
      // Parquet schema inference either
      Tables.validEmbeddings(spark, cleanDir)
      val hitJobs = jobsStartedBy(Tables.validEmbeddings(spark, cleanDir))
      assert(hitJobs == 0, s"a memo hit must start no job, got $hitJobs")
    } finally Tables.invalidateValidEmbeddings(spark, cleanDir)
  }

  test("validEmbeddings: after an in-place rewrite and invalidateValidEmbeddings(dir), the next call sees the new rows") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("emb_rewrite").toString
    def write(rows: Seq[(Long, Seq[Float], Int)]): Unit =
      rows.toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    def ids(): Set[Long] =
      Tables.validEmbeddings(spark, dir).select($"vec_id").as[Long].collect().toSet
    try {
      write(Seq((0L, Seq(1.0f, 0.0f), 1), (1L, Seq(0.0f, 1.0f), 2)))
      assert(ids() == Set(0L, 1L))
      // the rewrite changes every probe result: a new modal dimension
      // (3, so both old rows drop out) and a colliding id
      write(Seq((0L, Seq(1.0f, 0.0f), 1), (2L, Seq(0.5f, 0.5f, 0.5f), 3),
        (3L, Seq(0.2f, 0.8f, 0.1f), 4), (3L, Seq(0.9f, 0.1f, 0.1f), 5)))
      Tables.invalidateValidEmbeddings(spark, dir)
      val after = Tables.validEmbeddings(spark, dir)
      assert(after.as[(Long, Seq[Float], Int)].collect().sortBy(_._1).toSeq ==
        Seq((2L, Seq(0.5f, 0.5f, 0.5f), 3), (3L, Seq(0.2f, 0.8f, 0.1f), 4)),
        "the next call must validate the rewritten corpus")
    } finally Tables.invalidateValidEmbeddings(spark, dir)
  }

  test("a key-repartitioned persisted frame joins with no fresh exchange or sort on its side (the connectedComponents edge layout)") {
    // the r19 connectedComponents optimization rests on exactly this
    // mechanism: an InMemoryRelation preserves the cached plan's
    // outputPartitioning and outputOrdering (a checkpoint does NOT —
    // under AQE its LogicalRDD records UnknownPartitioning, measured in
    // this repo), so edges repartitioned+sorted on the loop's join key
    // BEFORE the persist join every subsequent round with no Exchange
    // and no Sort on their side. If a Spark upgrade stops propagating
    // either property through the cache, every label-propagation round
    // would silently re-shuffle the big edge side — this pin goes red
    // instead.
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val n = spark.sessionState.conf.numShufflePartitions
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("a", "b")
      .repartition(n, col("b")).sortWithinPartitions(col("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val labels = Seq((2L, 2L), (3L, 3L)).toDF("b", "rep")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    try {
      edges.count() // materialize the cache
      val p = edges.join(labels, "b")
        .queryExecution.explainString(FormattedMode)
      // tree section only (the details blocks re-print the cached plan's
      // own exchange/sort, which sit INSIDE the one-off cache build)
      val tree = p.linesIterator
        .takeWhile(!_.matches("^\\(\\d+\\) .*")).toVector
      val smjIdx = tree.indexWhere(_.contains("SortMergeJoin"))
      assert(smjIdx >= 0, s"expected a sort-merge join:\n$p")
      assert(tree(smjIdx + 1).contains("InMemoryTableScan"),
        "edges must feed the join straight from the cache — no Exchange " +
          s"and no Sort on the pre-partitioned pre-sorted side:\n$p")
    } finally {
      edges.unpersist(blocking = false)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }

  test("rrfFuse: the fusion aggregate and the rank window share ONE exchange keyed on the query") {
    // the whole fuse→rank tail runs behind a single hash(__q) shuffle:
    // partitioning on a subset of the grouping keys satisfies the
    // (query, id) aggregate AND the per-query rank window, so neither
    // plans its own Exchange (guide §2.4). Two hash exchanges here mean
    // the shared repartition regressed.
    val p = planOf("sim_hybrid_rrf")
    val lines = p.linesIterator.toVector
    // count hash exchanges ABOVE the union (lower node id = deeper;
    // the retrieval runs below the union carry their own)
    val unionId = """Union \((\d+)\)""".r.findFirstMatchIn(p)
      .map(_.group(1).toInt).getOrElse(fail(s"no Union in:\n$p"))
    val fusionExchanges = """Exchange \((\d+)\)""".r.findAllMatchIn(p)
      .map(_.group(1).toInt).filter(_ > unionId).toSeq
      .filter { id =>
        // hash exchanges only — the final orderBy's range exchange is the
        // query's own output contract
        val detail = lines.dropWhile(!_.startsWith(s"($id) Exchange"))
          .take(4).mkString("\n")
        detail.contains("hashpartitioning")
      }
    assert(fusionExchanges.size == 1,
      s"fusion tail must share one hash exchange, got ${fusionExchanges.size}:\n$p")
  }

  test("t_top_tokens aggregates sketches map-side before one exchange") {
    val p = planOf("t_top_tokens")
    assert(p.contains("partial_approx_top_k") || p.contains("ObjectHashAggregate"),
      s"no partial sketch aggregation before the exchange:\n$p")
    // after partial aggregation only sketch blobs shuffle — never grams
    val single = p.linesIterator.filter(_.contains("SinglePartition")).mkString
    assert(single.nonEmpty, s"expected the sketch-merge exchange:\n$p")
  }
}
