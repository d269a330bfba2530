package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.sys.process.{Process, ProcessLogger}
import scala.util.Try
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Headline benchmark: times the headline queries on SPARK_GRAFT_SF_DIR
  * (default: the sf0.1 fixture; `local[SPARK_GRAFT_CPUS]`), writes the
  * full record to `bench_details_<sf>.json` and prints a short
  * headline ([[headlineFields]]) last.
  *
  * Every timing goes through [[measure]]: the frame is written to the
  * `noop` sink (every column of every row is computed — a `count()` would
  * let the optimizer prune projection-only work), 2 warm-ups, 3 timed
  * runs, median + spread + the work the median run did (jobs, stages,
  * tasks, shuffle bytes, spill, and the Exchange count of the final plan).
  * The work counters are deterministic, so they are the primary signal;
  * the medians are the secondary read.
  *
  * The record carries:
  *  - `queries` (median seconds per headline key) and `work` (per key);
  *    a key that throws reads −1, drops out of `total` and is listed in
  *    `failed_queries`;
  *  - drift flags from [[drift]] against the committed
  *    `bench_details_<sf>.json` (`git show HEAD:…`, never the working
  *    tree, which every run overwrites);
  *  - the Spark envelope round-trip rate and the single-thread uuid4
  *    codec chain against the BASELINE.md ≥90k rows/s/core gate;
  *  - portable (HOF) vs native rates for six kernel expressions, and
  *    the MinHash signatures' by-id aggregate vs per-row rates;
  *  - recall@10 of every approximate search path against exact search.
  *
  * SPARK_GRAFT_BENCH_ONLY=a,b times only the named headline keys and
  * leaves `bench_details_<sf>.json` untouched; the full record then goes
  * to stderr.
  */
object Bench {

  /** Heavier representative subset of SparkEntry.queries. */
  private[graft] val headline = Seq(
    "q1_pricing_summary", "q_region_revenue", "q_top_revenue",
    "q_priority_head", "q_monitor_windows", "q_field_diff",
    "d_ngram_near_dups", "d_minhash_lsh", "t_doc_stats", "sim_knn_cosine",
    "sim_ivf_topk", "d_contamination", "d_dup_clusters", "t_boilerplate",
    "q_sessionize", "q_asof_join", "sim_bm25_topk", "sim_bm25_multi",
    "d_substring_dedup", "sim_pq_topk", "q_range_join", "t_top_tokens",
    "q_bloom_semi", "q_cdc_apply", "sim_jl_topk", "d_incr_exact",
    "d_incr_lsh", "q_salted_join", "t_linear_score", "sim_ivfpq_res_topk",
    "sim_hybrid_rrf", "sim_hybrid_mmr", "sim_mmr_select", "sim_outliers",
    "t_fertility", "d_fuzzy_pairs", "env_roundtrip", "sim_hybrid_mmr_multi",
    "env_dead_letter", "d_semantic_dedup", "sim_ivfpq_topk", "sim_opq_topk",
    "t_bpe_train", "t_pack_batches", "q_skew_stats", "q_latest_per_user",
    "m_media_embed")

  /** Work one run did. Exchanges are counted in the final (post-AQE)
    * physical plan of the run's noop write; a reused exchange moves no
    * data again and is not counted; −1 = unknown. */
  final case class Work(jobs: Long, stages: Long, tasks: Long,
                        shuffleReadBytes: Long, shuffleWriteBytes: Long,
                        spillBytes: Long, exchanges: Int) {
    def toJson: String =
      s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,"shuffle_read_bytes":$shuffleReadBytes,"shuffle_write_bytes":$shuffleWriteBytes,"spill_bytes":$spillBytes,"exchanges":$exchanges}"""
  }

  /** Median and min→max spread (% of the median) of the timed runs, and
    * the work of the median run. */
  final case class Measured(median: Double, spreadPct: Double, work: Work)

  /** The −1 failure sentinel. */
  val Failed: Measured = Measured(-1.0, -1.0, Work(0, 0, 0, 0, 0, 0, -1))

  private def exchanges(plan: SparkPlan): Int = plan match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case _: ReusedExchangeExec => 0
    case c: CommandResultExec => exchanges(c.commandPhysicalPlan)
    case p =>
      val own = p match { case _: Exchange => 1; case _ => 0 }
      own + p.children.map(exchanges).sum + p.subqueries.map(exchanges).sum
  }

  /** Counts the scheduler's work and reports each finished noop write's
    * exchanges. Both listener kinds run on Spark's shared listener queue,
    * one event at a time in posting order, so when a write's end arrives
    * every job, stage and task event of that run has already been
    * counted. */
  private final class WorkListener extends SparkListener with QueryExecutionListener {
    private val jobs, stages, tasks, shuffleRead, shuffleWrite, spill = new AtomicLong
    private val writes = new LinkedBlockingQueue[Integer]

    def snapshot: Work = Work(jobs.get, stages.get, tasks.get,
      shuffleRead.get, shuffleWrite.get, spill.get, -1)

    /** Exchanges of the next finished noop write; −1 if it failed or its
      * end event does not arrive within a minute. */
    def awaitWrite(): Int =
      Option(writes.poll(60, TimeUnit.SECONDS)).map(_.intValue).getOrElse(-1)

    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet(); tasks.addAndGet(e.stageInfo.numTasks)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.diskBytesSpilled)
      }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (qe.logical.isInstanceOf[V2WriteCommand]) writes.put(exchanges(qe.executedPlan))
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
      if (qe.logical.isInstanceOf[V2WriteCommand]) writes.put(-1)
  }

  /** Times `df` through the noop sink: 2 warm-ups, then 3 timed runs.
    * `df` is by-name and rebuilt for every run, so whatever the query
    * does while building its plan (e.g. fitting centroids) is part of
    * its cost. Throws what the query throws. */
  def measure(spark: SparkSession)(df: => DataFrame): Measured = {
    val listener = new WorkListener
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(listener)
    def run(): (Double, Work) = {
      val before = listener.snapshot
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t0) / 1e9
      val x = listener.awaitWrite()
      val after = listener.snapshot
      (secs, Work(after.jobs - before.jobs, after.stages - before.stages,
        after.tasks - before.tasks, after.shuffleReadBytes - before.shuffleReadBytes,
        after.shuffleWriteBytes - before.shuffleWriteBytes,
        after.spillBytes - before.spillBytes, x))
    }
    try {
      run(); run()
      val runs = Seq.fill(3)(run()).sortBy(_._1)
      val (median, work) = runs(1)
      val spread = if (median > 0) 100.0 * (runs(2)._1 - runs(0)._1) / median else -1.0
      Measured(median, spread, work)
    } finally {
      spark.listenerManager.unregister(listener)
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  /** Outcome of comparing a run against a baseline record. */
  final case class Drift(total: Double, failed: Seq[String], flagged: Seq[String],
                         comparable: Int, warning: Option[String])

  /** Flags every key whose median moved more than 20% either way, or
    * whose Exchange count changed, against `baseline` (a record's JSON
    * text; None = no baseline). Failed (−1) keys are listed and excluded
    * from `total` and from comparison. A baseline that exists but against
    * which no key compares — unreadable, or sharing no key — yields a
    * warning instead of a silently clean record. */
  def drift(results: Seq[(String, Measured)], baseline: Option[String]): Drift = {
    val prior: Option[JsonNode] = baseline.flatMap(c => Try(new ObjectMapper().readTree(c)).toOption)
    def prevMedian(k: String): Option[Double] = prior.map(_.path("queries").path(k))
      .filter(_.isNumber).map(_.asDouble).filter(_ > 0)
    def prevExchanges(k: String): Option[Int] = prior.map(_.path("work").path(k).path("exchanges"))
      .filter(_.isInt).map(_.asInt).filter(_ >= 0)
    val ok = results.filter(_._2.median >= 0)
    val compared = ok.flatMap { case (k, m) =>
      val moved = prevMedian(k).map(p => m.median > 0 && math.abs(m.median - p) / p > 0.20)
      val reshaped = prevExchanges(k).map(x => m.work.exchanges >= 0 && m.work.exchanges != x)
      if (moved.isEmpty && reshaped.isEmpty) None
      else Some(k -> (moved.contains(true) || reshaped.contains(true)))
    }
    Drift(
      total = ok.map(_._2.median).sum,
      failed = results.collect { case (k, m) if m.median < 0 => k },
      flagged = compared.collect { case (k, true) => k },
      comparable = compared.size,
      warning =
        if (baseline.isDefined && compared.isEmpty)
          Some("vacuous drift check: a baseline record exists but no key compared against it")
        else None)
  }

  /** The committed copy of `file` at HEAD, if the working directory is a
    * git checkout that has one. */
  private def committed(file: String): Option[String] =
    Try(Process(Seq("git", "show", s"HEAD:$file")).!!(ProcessLogger(_ => ()))).toOption

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val cpusN = cpus.toIntOption.getOrElse(Runtime.getRuntime.availableProcessors())
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    // a renamed or mistyped key must fail the bench up front, not vanish
    // from the suite and read as a speedup
    val unknown = headline.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, "bench names not in SparkEntry.queries: " + unknown.mkString(", "))

    // the BASELINE.md gate: the single-thread encode → pack → unpack →
    // decode chain with a fresh uuid4 per message, ≥ 90k rows/s/core;
    // run before Spark starts so nothing else competes for the core
    val serdeUuidPerCore =
      try median(Seq.fill(3)(SerdeMicroBench.chainWithUuidRowsPerSecCore(1500000)))
      catch { case NonFatal(e) => System.err.println(s"[bench] serde gate failed: $e"); -1.0 }

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    // JIT-warm Spark's scan/shuffle/aggregate paths before the first timed
    // key, so the first keys do not pay for a cold JVM
    for (n <- Seq("q1_pricing_summary", "q_region_revenue", "env_roundtrip",
                  "q_monitor_windows", "q_asof_join"); _ <- 1 to 3)
      Try(noop(SparkEntry.queries(n)(spark, sfDir)))

    val results: Seq[(String, Measured)] =
      headline.filter(n => only.forall(_.contains(n))).map { name =>
        val m =
          try measure(spark)(SparkEntry.queries(name)(spark, sfDir))
          catch { case NonFatal(e) => System.err.println(s"[bench] $name failed: $e"); Failed }
        // clean slate between keys: the DataFrame cache through the
        // catalog, then whatever the query left in the block store
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.valuesIterator.foreach(_.unpersist(blocking = false))
        name -> m
      }

    /** Items per second of each frame in `dfs`, keyed by `keys`: `prep`
      * returns the cached input (released afterwards), its item count,
      * and the frames to time over it. */
    def rates(keys: String*)(prep: => (DataFrame, Double, Seq[DataFrame]))
        : Seq[(String, Measured, Double)] =
      try {
        val (input, n, dfs) = prep
        try keys.zip(dfs).map { case (k, df) =>
          val m = measure(spark)(df)
          (k, m, if (m.median > 0) n / m.median else -1.0)
        } finally input.unpersist(blocking = false)
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] ${keys.mkString("/")} failed: $e")
        keys.map(k => (k, Failed, -1.0))
      }

    import org.apache.spark.sql.functions._
    def vectors(): DataFrame = Tables.asVectors(Tables.embeddings(spark, sfDir))
    def docTexts(every: Int): DataFrame = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % every === 0).select(col("text")).repartition(cpusN).cache()
    def centroidsOf(vecs: DataFrame): Array[(Int, Seq[Double])] =
      vecs.filter(col("vec_id") < 32)
        .select(col("vec_id").cast("int"), col("v")).collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1)

    val rateRows: Seq[(String, Measured, Double)] = Seq(
      // the Spark envelope round trip (encode → pack → consume) over ≥4M
      // rows, so fixed job overhead amortizes
      rates("serde_rows_per_sec") {
        val reg = new graft.schema.SchemaRegistry
        val entry = reg.registerSchema("bench", "event", queries.EnvelopeOps.eventSchemaJson)
        val base = Tables.events(spark, sfDir)
          .select(col("event_id"), col("user_id"), col("event_type"), col("value"), col("ts"))
        val factor = math.max(1, (4000000 / math.max(1L, base.count())).toInt)
        val big = base.withColumn("rep", explode(lit((0 until factor).toArray)))
          .repartition(cpusN).cache()
        val transport = big.select(graft.streaming.Pipeline.envelopeFor(
          struct(col("event_id"), col("user_id"), col("event_type"), col("value")),
          "create", entry, unix_timestamp(col("ts")),
          uuid = unhex(md5(col("event_id").cast("string")))).as("value"))
        val roundTrip = graft.streaming.Pipeline.consume(transport, reg, entry.schemaId)
          .select(col("payload"))
        (big, big.count().toDouble, Seq(roundTrip))
      },
      // MinHash signatures over each document's distinct shingles: the
      // batch's by-id aggregate vs the stream's per-row form
      rates("minhash_md5_docs_per_sec", "minhash_row_docs_per_sec") {
        import graft.operators.{Dedup, MinHash}
        val grams = Dedup.wordShingles(Tables.documents(spark, sfDir), "doc_id", "text", 3)
          .groupBy(col("id")).agg(collect_set(col("g")).as("gs")).cache()
        (grams, grams.count().toDouble,
          Seq(MinHash.signatures(grams.select(col("id"), explode(col("gs")).as("g")), 12),
            grams.select(col("id") +: (0 until 12).map(i =>
              MinHash.rowSignature(col("gs"), i).as(s"s$i")): _*)))
      },
      // rolling-hash fingerprint: per-window HOF slices vs RollingMinHash64.
      // The HOF form is orders of magnitude slower (~0.5 core-seconds per
      // sf0.1 document), so it runs over every 20th document; both rates
      // are per document.
      rates("rolling_fp_hof_docs_per_sec") {
        val docs = docTexts(20)
        (docs, docs.count().toDouble,
          Seq(docs.select(array_min(graft.operators.TextAnalysis.rollingHashes(col("text"), 8)))))
      },
      rates("rolling_fp_expr_docs_per_sec") {
        val docs = docTexts(1)
        (docs, docs.count().toDouble,
          Seq(docs.select(graft.functions.RollingMinHash64.rolling_min_hash(col("text"), 8))))
      },
      // cluster-assignment argmax over k=32 centroids: HOF fold vs CosineArgmax
      rates("argmax_hof_vecs_per_sec", "argmax_expr_vecs_per_sec") {
        val vecs = vectors().repartition(cpusN).cache()
        val cents = centroidsOf(vecs)
        (vecs, vecs.count().toDouble,
          Seq(graft.operators.Similarity.assignClustersHof(vecs, cents),
            graft.operators.Similarity.assignClusters(vecs, cents)))
      },
      // coarse residual v − centroid[cluster]: zip_with HOF vs CentroidResidual
      rates("residual_hof_vecs_per_sec", "residual_expr_vecs_per_sec") {
        val vecs = vectors().withColumn("cluster", pmod(col("vec_id"), lit(32)).cast("int"))
          .repartition(cpusN).cache()
        val cents = centroidsOf(vecs)
        (vecs, vecs.count().toDouble,
          Seq(vecs.select(graft.operators.Similarity.residualExprHof(cents, col("v"), col("cluster"))),
            vecs.select(graft.functions.CentroidResidual.centroid_residual(col("v"),
              col("cluster"), cents.map(_._1), cents.map(_._2.toArray)))))
      },
      // PQ ADC lookup-sum at a production shape (m=8, ksub=64, 8M synthetic
      // candidate pairs): element_at formulation vs PqAdc. The distance
      // table rides as a literal, as in the real search.
      rates("adc_hof_pairs_per_sec", "adc_expr_pairs_per_sec") {
        val (m, ksub) = (8, 64)
        val cb = graft.operators.Codebook(Array.fill(m)((0 until ksub).map(i => (i, Seq(0.0))).toArray))
        val tbl = (0 until m).map(j => (0 until ksub).map(i => (j * ksub + i) * 1e-6))
        val pairs = spark.range(8000000L).toDF("id")
          .select(col("id"), array((0 until m).map(j =>
            pmod(xxhash64(col("id") * m + j), lit(ksub.toLong)).cast("int")): _*).as("codes"))
          .repartition(cpusN).cache()
        def adist(d: org.apache.spark.sql.Column) =
          pairs.withColumn("__tbl", typedLit(tbl)).select(d.as("adist"))
        (pairs, pairs.count().toDouble,
          Seq(adist(graft.operators.Similarity.pqAdistHof(cb)),
            adist(cb.adc(col("codes"), col("__tbl")))))
      },
      // PQ ADC distance table at the queries' shape (m=4, ksub=8,
      // subDim=16; 400k synthetic probes): the 512-leaf element_at tree
      // vs PqDistTable. Rates are per probe.
      rates("dist_table_hof_probes_per_sec", "dist_table_expr_probes_per_sec") {
        val (m, ksub, subDim) = (4, 8, 16)
        val cb = graft.operators.Codebook(Array.tabulate(m)(j => Array.tabulate(ksub)(c =>
          (c, Seq.tabulate(subDim)(i => ((j * 31 + c * 7 + i * 3) % 19 - 9) / 10.0)))))
        val probes = spark.range(400000L).toDF("id")
          .select(transform(sequence(lit(1), lit(m * subDim)),
            i => (pmod(xxhash64(col("id") * 64 + i), lit(2001L)) - 1000L) / 1000.0).as("p"))
          .repartition(cpusN).cache()
        (probes, probes.count().toDouble,
          Seq(probes.select(graft.operators.Similarity.distTableHof(cb)),
            probes.select(cb.distTable(col("p")))))
      },
      // int8 quantized dot (dim 64, 4M synthetic pairs): zip_with/aggregate
      // fold vs Int8Dot
      rates("int8_dot_hof_pairs_per_sec", "int8_dot_expr_pairs_per_sec") {
        val dim = 64
        val pairs = spark.range(4000000L).toDF("id")
          .select(col("id"), transform(sequence(lit(1), lit(dim)),
            i => (pmod(xxhash64(col("id") * 7 + i), lit(255L)) - 127L).cast("int")).as("q"))
          .repartition(cpusN).cache()
        val withProbe = pairs.withColumn("__pq", typedLit((0 until dim).map(i => (i * 37 % 255) - 127)))
        (pairs, pairs.count().toDouble,
          Seq(withProbe.select(graft.operators.Similarity.int8DotHof("q", "__pq")),
            withProbe.select(graft.functions.Int8Dot.int8_dot(col("q"), col("__pq")))))
      }).flatten

    val recallK = 10
    val recalls: Seq[(String, Double)] =
      try recallBlock(spark, sfDir, recallK)
      catch { case NonFatal(e) =>
        System.err.println(s"[bench] recall metric failed: $e")
        Seq.empty
      }
    spark.stop()

    val sfName = new java.io.File(sfDir).getName
    val detailsFile = s"bench_details_$sfName.json"
    val d = drift(results, committed(detailsFile))
    d.warning.foreach(w => System.err.println(s"[bench] WARNING: $w"))

    val gateRatio = if (serdeUuidPerCore < 0) -1.0 else serdeUuidPerCore / 90000.0
    val fields: Seq[(String, String)] = headlineFields(results, d, gateRatio) ++ Seq(
      "runs_per_query" -> "3",
      "query_spread_pct" -> obj(results.map { case (k, m) => k -> f"${m.spreadPct}%.1f" }),
      "work" -> obj(results.map { case (k, m) => k -> m.work.toJson }),
      "drift_baseline" -> ("\"HEAD:" + detailsFile + "\""),
      "drift_flags" -> arr(d.flagged),
      "drift_comparable" -> d.comparable.toString,
      "drift_warning" -> d.warning.map("\"" + _ + "\"").getOrElse("null"),
      "serde_uuid_rows_per_sec_core" -> f"$serdeUuidPerCore%.0f",
      "baseline_gate_rows_per_sec_core" -> "90000") ++
      rateRows.map { case (k, _, r) => k -> f"$r%.0f" } ++ Seq(
      "rate_spread_pct" -> obj(rateRows.map { case (k, m, _) => k -> f"${m.spreadPct}%.1f" }),
      "recall_at_k" -> recallK.toString,
      "recall" -> obj(recalls.map { case (k, v) => k -> f"$v%.4f" }),
      "cpus" -> cpusN.toString,
      "sf" -> ("\"" + sfDir + "\""))
    val json = obj(fields)
    if (only.isEmpty) {
      val w = new java.io.PrintWriter(detailsFile)
      try w.println(json) finally w.close()
    } else System.err.println(json)
    println(obj(headlineFields(results, d, gateRatio)))
  }

  private[graft] def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  private def arr(xs: Seq[String]): String = xs.map("\"" + _ + "\"").mkString("[", ",", "]")

  /** The fields of the line printed last, under 2,000 characters for the
    * full key set, so a bounded tail of the output holds it whole. */
  private[graft] def headlineFields(results: Seq[(String, Measured)], d: Drift,
                                    gateRatio: Double): Seq[(String, String)] = Seq(
    "metric" -> "\"total\"",
    "value" -> f"${d.total}%.4f",
    "unit" -> "\"sec\"",
    "queries" -> obj(results.map { case (k, m) => k -> f"${m.median}%.4f" }),
    "failed_queries" -> arr(d.failed),
    "serde_uuid_vs_gate" -> f"$gateRatio%.2f")

  /** ANN retrieval quality: recall@k of every approximate search path
    * against the exact brute-force neighborhood of the same 5 probes.
    * The oracles pin replay determinism; this shows how much of the true
    * neighborhood each approximation finds. `recall_diag_*` keys are
    * deliberately underpowered curve points (m=4 codes feeding a rerank
    * pool, JL d=16), not shipped defaults; `opq_vs_pq_distortion_*` is the
    * OPQ/PQ quantization-error ratio (< 1 = the rotation helped). On this
    * near-isotropic fixture a rotation cannot help much, so OPQ may read
    * at or below plain PQ; the anisotropic gain is pinned in CurationSpec. */
  private def recallBlock(spark: SparkSession, sfDir: String, recallK: Int): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val vecs = Tables.asVectors(Tables.embeddings(spark, sfDir)).cache()
    try {
      val probes = vecs.filter(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("v").as("p"))
      val exact = Similarity.bruteForceTopK(vecs, probes, k = recallK)
        .select(col("probe_id"), col("vec_id"), col("rank")).cache()
      exact.count()
      def recall(approx: DataFrame): Double = Similarity.recallAtK(approx, exact, recallK)
      def reranked(approx: DataFrame): Double =
        recall(Similarity.rerankExact(approx, probes, vecs, k = recallK))
      val sample = vecs.filter(col("vec_id") % 4 === 0)
      val cents = Similarity.kmeansFit(vecs, k = 8, iters = 2)
      // nprobe = 8 (every cluster) searches everything and must read 1
      val ivf = Seq(1, 2, 4, 8).map { np =>
        s"recall_ivf_nprobe$np" -> recall(Similarity.ivfTopK(vecs, cents, probes,
          k = recallK, nprobe = np, roundTo = 4))
      }
      val cb = Similarity.pqFit(sample, m = 4, subDim = 16, ksub = 8, iters = 2)
      val enc = Similarity.pqEncode(vecs, cb)
      // ADC fetches a wide pool (400) before the exact re-rank: on
      // isotropic random fixtures the compressed screen is weak
      val pqR = recall(Similarity.pqTopK(enc, probes, cb, k = recallK))
      val pqRerankR = recall(Similarity.pqTopKRerank(enc, probes, cb, vecs,
        k = recallK, fetchK = 400))
      // production-shaped codebooks: m=8, ksub=32 → 40-bit codes
      val cb2 = Similarity.pqFit(sample, m = 8, subDim = 8, ksub = 32, iters = 2)
      val enc2 = Similarity.pqEncode(vecs, cb2)
      val pq2R = recall(Similarity.pqTopK(enc2, probes, cb2, k = recallK))
      val pq2RerankR = recall(Similarity.pqTopKRerank(enc2, probes, cb2, vecs,
        k = recallK, fetchK = 400))
      // OPQ (trained rotation before PQ) at the same two code budgets
      val (orot4, ocb4) = Similarity.opqFit(sample, m = 4, subDim = 16,
        ksub = 8, pqIters = 2, opqIters = 4)
      val opq4R = recall(Similarity.opqTopK(
        Similarity.opqEncode(vecs, orot4, ocb4), probes, orot4, ocb4, k = recallK))
      val (orot8, ocb8) = Similarity.opqFit(sample, m = 8, subDim = 8,
        ksub = 32, pqIters = 2, opqIters = 4)
      val oenc8 = Similarity.opqEncode(vecs, orot8, ocb8)
      val opq8R = recall(Similarity.opqTopK(oenc8, probes, orot8, ocb8, k = recallK))
      val opq8RerankR = reranked(Similarity.opqTopK(oenc8, probes, orot8, ocb8, k = 400))
      val distRatio4 = Similarity.pqDistortion(Similarity.rotate(vecs, "v", orot4), ocb4) /
        Similarity.pqDistortion(vecs, cb)
      val distRatio8 = Similarity.pqDistortion(Similarity.rotate(vecs, "v", orot8), ocb8) /
        Similarity.pqDistortion(vecs, cb2)
      val quant = Similarity.quantizeInt8(vecs)
      val qprobes = quant.filter(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("q").as("pq"))
      val i8R = recall(Similarity.int8TopK(quant, qprobes, k = recallK))
      // IVFADC: coarse route + in-cluster ADC, raw-vector codes
      val index = Similarity.pqIndex(vecs, cents, cb)
      val ivfpq = Seq(1, 2, 4).map { np =>
        s"recall_ivfpq_nprobe$np" -> recall(Similarity.ivfPqTopK(index, cents, probes, cb,
          k = recallK, nprobe = np))
      }
      val ivfpqRerankR = reranked(Similarity.ivfPqTopK(index, cents, probes, cb,
        k = 400, nprobe = 4))
      // residual IVFADC (Jégou §IV-A): the same code budget spent on
      // within-cell offsets; this and the OPQ-composed path are the
      // shipped rerank configs
      val rcb = Similarity.pqFitResidual(sample, cents, m = 4, subDim = 16, ksub = 8, iters = 2)
      val rindex = Similarity.pqIndexResidual(vecs, cents, rcb)
      val ivfpqRes = Seq(1, 2, 4).map { np =>
        s"recall_ivfpq_res_nprobe$np" -> recall(Similarity.ivfPqResidualTopK(rindex, cents,
          probes, rcb, k = recallK, nprobe = np))
      }
      val ivfpqResRerankR = reranked(Similarity.ivfPqResidualTopK(rindex, cents, probes, rcb,
        k = 400, nprobe = 4))
      // OPQ ∘ residual IVFADC with the m=4 rotation; the exact re-rank
      // reads the original vectors (a rotation preserves cosine)
      val rvecs = Similarity.rotate(vecs, "v", orot4).cache()
      val (opqResRawR, opqResRerankR) = try {
        val rprobes = Similarity.rotate(probes, "p", orot4)
        val rcents = Similarity.kmeansFit(rvecs, k = 8, iters = 2)
        val orcb = Similarity.pqFitResidual(rvecs.filter(col("vec_id") % 4 === 0), rcents,
          m = 4, subDim = 16, ksub = 8, iters = 2)
        val orindex = Similarity.pqIndexResidual(rvecs, rcents, orcb)
        (recall(Similarity.ivfPqResidualTopK(orindex, rcents, rprobes, orcb,
          k = recallK, nprobe = 4)),
          reranked(Similarity.ivfPqResidualTopK(orindex, rcents, rprobes, orcb,
            k = 400, nprobe = 4)))
      } finally rvecs.unpersist(blocking = false)
      // JL random projection 64→16 and 64→32, raw and fetch-400 re-ranked
      def jl(outDim: Int, k: Int) =
        Similarity.jlTopK(vecs, probes, inDim = 64, outDim = outDim, seed = "r8", k = k)
      val out = ivf ++ ivfpq ++ ivfpqRes ++ Seq(
        "recall_pq_topk" -> pqR,
        "recall_diag_pq_m4_rerank" -> pqRerankR,
        "recall_pq_m8k32_topk" -> pq2R,
        "recall_pq_m8k32_rerank" -> pq2RerankR,
        "recall_opq_topk" -> opq4R,
        "recall_opq_m8k32_topk" -> opq8R,
        "recall_opq_m8k32_rerank" -> opq8RerankR,
        "recall_opq_ivfpq_res_nprobe4" -> opqResRawR,
        "recall_opq_ivfpq_res_rerank" -> opqResRerankR,
        "opq_vs_pq_distortion_m4" -> distRatio4,
        "opq_vs_pq_distortion_m8k32" -> distRatio8,
        "recall_int8_topk" -> i8R,
        "recall_diag_ivfpq_rerank" -> ivfpqRerankR,
        "recall_ivfpq_res_rerank" -> ivfpqResRerankR,
        "recall_diag_jl_d16_topk" -> recall(jl(16, recallK)),
        "recall_diag_jl_d16_rerank" -> reranked(jl(16, 400)),
        "recall_jl_d32_topk" -> recall(jl(32, recallK)),
        "recall_jl_d32_rerank" -> reranked(jl(32, 400)))
      exact.unpersist(blocking = false)
      out
    } finally vecs.unpersist(blocking = false)
  }
}
