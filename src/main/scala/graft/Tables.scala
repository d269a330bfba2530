package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * Each table is a single parquet file per scale factor. At cluster scale
  * these would be partitioned directories; the loaders take the directory so
  * nothing else in the library hard-codes paths. Scans stay lazy so Catalyst
  * pushes projections/filters into the parquet reader (check `PushedFilters`
  * in `.explain("formatted")`).
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  /** events.parquet has shipped `ts` as either parquet TIMESTAMP(NANOS)
    * (older generator output — Spark's vectorized reader rejects nanos, so
    * the legacy conf reads them as long and we convert) or TIMESTAMP(MICROS)
    * (current output — arrives as TIMESTAMP_NTZ). Normalize both to the
    * session-UTC TimestampType every downstream query was built against;
    * the fixture's values are µs-aligned so each path is lossless.
    *
    * The NTZ→TimestampType cast below interprets wall-clock values in the
    * SESSION timezone (every NTZ→TZ path in Spark does), so the session tz is
    * pinned to UTC here rather than trusting the entry point to have done
    * it: a session in another zone would otherwise silently shift every ts
    * by the zone offset. Both confs are set on the caller's session, so
    * they stay in effect for everything that session runs afterwards.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType => raw
      case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Scale-adaptive input spread (optimization guide §2.5 "input skew":
    * one small/unsplittable file → repartition immediately after the
    * read). A single-digit-MB parquet table arrives as ONE scan split, so
    * every per-row expression pipelined with the scan (md5 minhash
    * families, Avro serde, token explodes) runs on one core of the
    * cluster until the first Exchange. Spread the rows round-robin across
    * the session's parallelism BEFORE the heavy projection — and ONLY
    * when the scan is actually narrower than the cluster: at corpus scale
    * the input has ≥ cores splits and this is the identity, so no extra
    * exchange is ever paid where the scan already parallelizes. The
    * round-robin repartition is deterministic under retry (Spark sorts
    * before round-robin — SPARK-23207), and callers apply it only where
    * downstream aggregation is partition-order-insensitive (string/int
    * min/max/count — the md5/LSH/serde family), never across a
    * float-mean path (k-means avg), so results are bit-identical.
    * Streaming frames pass through untouched (`.rdd` is illegal there;
    * a micro-batch's parallelism is the source's business).
    *
    * PRECONDITION — apply to SCANS (or scan+narrow-projection frames)
    * ONLY, never downstream of an Exchange: the split-count probe reads
    * `df.rdd.getNumPartitions`, which forces full physical planning of
    * `df` per call and, under AQE, eagerly MATERIALIZES any upstream
    * shuffle stages (runs real jobs) at plan-composition time. Every
    * call site in this repo is scan-adjacent, where the probe is a pure
    * metadata read; a future post-shuffle caller would silently execute
    * part of its query while still composing it.
    */
  def fanOut(df: DataFrame): DataFrame = {
    if (df.isStreaming) df
    else {
      val target = df.sparkSession.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions < target) df.repartition(target) else df
    }
  }

  /** Embedding ingest guard — the validated frame every similarity/ANN
    * query consumes. A 100 TB embedding corpus contains NULL vectors,
    * empty arrays, NaN/±Inf components, and wrong-dimension strays (an
    * upstream model change, a truncated row); unguarded they either kill
    * the job (k-means requires uniform dims; ANSI casts overflow on NaN)
    * or — worse — silently poison trained codebooks. This is the
    * validate-at-ingest pass a production pipeline runs before indexing:
    * keep rows whose vector is non-null, matches the corpus's MODAL
    * dimensionality (ties → smaller dim, deterministic), is fully
    * finite, and is NOT zero-norm — a zero embedding carries no
    * direction, its cosine to everything is undefined (NaN), and its
    * residual against a 6-dp-rounded centroid is an EXACT 6-dp decimal
    * that parks k-means assignment distances on rounding half-boundaries
    * where engines legitimately differ by 1 ulp (production vector
    * stores reject zero vectors for cosine/IP metrics for the same
    * reason); then resolve DUPLICATE vec_ids to one deterministic winner
    * (smallest vector lexicographically, then smallest label, NULLS
    * LAST) — an id is a key, and two different payloads under one key
    * otherwise make every id-ordered step (k-means seed selection,
    * rank tie-breaks, sampling) ill-defined across engines and runs.
    * The DuckDB twin is `LlmOps.ValidVecsSub` — the two must stay in
    * lockstep, the hostile-VECTORS fixture wave gates them.
    *
    * Cost: two tiny aggregation jobs (modal dim over a pruned
    * single-column scan; id-uniqueness over ids only — hashes shuffle,
    * vectors NEVER do on the clean path, which PlanSpec pins). Only a
    * corpus that actually contains key collisions pays the vector-wide
    * dedup shuffle — the corrupted-corpus case, where correctness buys
    * the exchange. The probe RESULTS (schema, modal dim, id collisions)
    * are memoized per corpus dir, so the probes run once per corpus per
    * JVM, not once per query (cf. the reference's registry entity cache,
    * `schematizer.py:52-76` — compute once, reuse). A memo hit reads the
    * table under the memoized schema and starts no job: a schema-less
    * read would start a Parquet schema-inference job on every call. A
    * caller that rewrites a corpus dir in place must call
    * [[invalidateValidEmbeddings]] first.
    */
  def validEmbeddings(spark: SparkSession, dir: String): DataFrame = {
    val memo = validEmbProbes.get(dir)
    val probes = if (memo != null) memo else {
      // probed OUTSIDE the map lock: computeIfAbsent would hold it for the
      // probe jobs' whole duration and throw on a re-entrant call; a
      // concurrent duplicate probe costs two tiny jobs, and the first
      // finisher's results win
      val fresh = probeEmbeddings(embeddings(spark, dir))
      val prev = validEmbProbes.putIfAbsent(dir, fresh)
      if (prev != null) prev else fresh
    }
    validate(spark.read.schema(probes.schema).parquet(s"$dir/embeddings.parquet"), probes)
  }

  /** The vector read of the similarity queries: (vec_id, v:
    * array<double>) over [[validEmbeddings]]. */
  def vectors(spark: SparkSession, dir: String): DataFrame =
    asVectors(validEmbeddings(spark, dir))

  /** The (vec_id, v) projection of an embeddings frame, validated or
    * raw. */
  private[graft] def asVectors(embeddings: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    embeddings.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
  }

  /** DuckDB twin of [[vectors]], (vec_id, e). Its `FROM embeddings` is
    * guarded like every oracle's (`LlmOps.guardVecs`). */
  val VectorsSql: String = "SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings"

  /** What [[validEmbeddings]] learns from a corpus before validating it:
    * the raw schema, the modal dimensionality (None: no usable vector)
    * and whether the dimension-valid rows repeat a vec_id. */
  private final case class EmbProbes(schema: StructType, modalDim: Option[Int],
                                     hasDupIds: Boolean)

  private val validEmbProbes =
    new java.util.concurrent.ConcurrentHashMap[String, EmbProbes]()

  /** Drop the memoized probe results for one corpus dir — the in-place
    * corpus-rewrite hook. */
  def invalidateValidEmbeddings(spark: SparkSession, dir: String): Unit =
    validEmbProbes.remove(dir)

  /** The unmemoized path behind [[validEmbeddings]] — probe, then
    * validate the raw table; exposed for the plan specs that pin its
    * scale properties per corpus shape. */
  private[graft] def buildValidEmbeddings(spark: SparkSession, dir: String): DataFrame = {
    val raw = embeddings(spark, dir)
    validate(raw, probeEmbeddings(raw))
  }

  private def probeEmbeddings(raw: DataFrame): EmbProbes = {
    import org.apache.spark.sql.functions._
    val dims = raw
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
      .groupBy(size(col("embedding")).as("d")).count()
      .orderBy(col("count").desc, col("d").asc)
      .take(1)
    val modal = dims.headOption.map(_.getInt(0))
    EmbProbes(raw.schema, modal,
      modal.exists(d => dupIdProbe(dimValid(raw, d)).head().getLong(0) > 0))
  }

  /** The validation rules (see [[validEmbeddings]]) under probe results. */
  private def validate(raw: DataFrame, probes: EmbProbes): DataFrame = {
    import org.apache.spark.sql.functions._
    probes.modalDim match {
      case None => raw.filter(lit(false))
      case Some(d) if !probes.hasDupIds => dimValid(raw, d)
      case Some(d) =>
        graft.operators.TopK.cut(dimValid(raw, d), 1, Seq(col("vec_id")),
            Seq(col("embedding").asc, col("label").asc_nulls_last), "__rn")
          .drop("__rn")
    }
  }

  private def dimValid(raw: DataFrame, modal: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    raw.filter(col("embedding").isNotNull &&
      size(col("embedding")) === modal &&
      !exists(col("embedding"), x =>
        x.isNull || isnan(x) ||
          x < lit(Float.MinValue) || x > lit(Float.MaxValue)) &&
      exists(col("embedding"), x => x =!= 0.0f))
  }

  /** The id-uniqueness pre-check of [[buildValidEmbeddings]]: counts key
    * collisions over ids ONLY — its exchange carries aggregate buffers,
    * never the vector column (PlanSpec pins this), so the clean path's
    * cost is an ids-plus-filter-columns scan, not a vector-wide shuffle. */
  private[graft] def dupIdProbe(filtered: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    filtered.agg((count(lit(1)) - count_distinct(col("vec_id"))).as("d"))
  }
}
