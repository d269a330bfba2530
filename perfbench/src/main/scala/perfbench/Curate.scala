package perfbench

import graft.SparkEntry

/** Closed loop, one query at a time in a fixed order, over a seeded
  * corpus: the curation operators with no codec or streaming work. Each
  * query runs through the `noop` sink, which executes the whole plan;
  * `count()` would let the optimizer prune operator work. */
object Curate {
  val Queries = Seq("d_minhash_lsh", "d_dup_clusters", "d_incr_lsh",
    "sim_ivfpq_res_topk", "sim_hybrid_rrf", "t_top_tokens")
  val Docs = 2000
  val Vecs = 1000

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val dir = s"${ctx.work}/corpus"
    val docs = Corpus.docs(ctx.seed, Docs)
    val vecs = Corpus.vecs(ctx.seed + 1, Vecs)
    ctx.setupRepeats((1 to 3).map(_ => ctx.timed {
      docs.toDF().repartition(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      vecs.toDF().repartition(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    }))

    val outDir = s"${ctx.work}/curate_out"
    def pass(check: Boolean): Seq[Double] = Queries.map { q =>
      val t = ctx.timed(ctx.op(ctx.tracer.span(s"curate.$q") {
        val w = SparkEntry.queries(q)(spark, dir).write.mode("overwrite")
        if (check) w.parquet(s"$outDir/$q") else w.format("noop").save()
      }))
      spark.catalog.clearCache()
      t
    }

    // the warm-up pass keeps the results for run.py to check, and a full
    // collection drops its garbage from the heap; then passes while another
    // one fits in the run's time
    val setupStart = System.nanoTime()
    ctx.tracer.phase = "warmup"
    pass(check = true)
    System.gc()
    ctx.startMeasure(setupStart)
    val end = System.nanoTime() + ctx.seconds * 1000000000L
    val passes = Seq.newBuilder[Seq[Double]]
    var last = 0L
    while (last == 0L || System.nanoTime() + last < end) {
      val t0 = System.nanoTime()
      passes += pass(check = false)
      last = System.nanoTime() - t0
    }
    ctx.endMeasure()
    ctx.out("curate") = Map(
      "queries" -> Queries,
      "passes" -> passes.result(),
      "docs" -> Docs, "vecs" -> Vecs,
      "corpus_dir" -> dir, "out_dir" -> outDir,
      "oracle_sql" -> Queries.map(q => q -> SparkEntry.oracleSql(q)).toMap)
  }
}
