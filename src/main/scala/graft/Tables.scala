package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

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
    * the exchange. The validated frame is MEMOIZED per (session, dir):
    * the probes run once per corpus per JVM, not once per query — the
    * in-process analogue of the validate-once-at-ingest-and-persist
    * pass a cluster deployment runs (cf. the reference's registry
    * entity cache, `schematizer.py:52-76` — compute once, reuse); the
    * CROSS-session path is [[persistValidEmbeddings]], which
    * materializes the validated table so later jobs pay a bare scan. A
    * caller that rewrites a corpus dir in place mid-session must call
    * [[invalidateValidEmbeddings]] first.
    */
  def validEmbeddings(spark: SparkSession, dir: String): DataFrame = {
    // bound the memo: each entry's plan references its SparkSession, so a
    // driver sweeping many corpora (or cycling sessions) must not retain
    // stopped sessions forever. Eviction is two-stage (r16 review: the
    // old full clear dropped LIVE entries whenever >64 short-lived
    // sessions had cycled): first drop entries whose session's context
    // is stopped — their plans are unusable anyway — and only if the
    // bound is still exceeded fall back to the full flush, which merely
    // re-runs two tiny probe jobs per corpus on next touch.
    val key = (spark, dir)
    val cached = validEmbCache.get(key)
    if (cached != null) cached
    else {
      // every MISS sweeps stopped sessions first (r17 verdict: don't
      // retain a stopped session's unusable plans until the 64 bound
      // happens to trip — isStopped is a volatile read and the map is
      // ≤64 entries, so the sweep is O(bound) cheap); the full flush
      // stays as the backstop when live entries alone exceed the bound.
      // The HIT path above stays sweep-free — a hit is one map get.
      validEmbCache.keySet.removeIf(k => validEmbStoppedProbe(k._1))
      if (validEmbCache.size > ValidEmbCacheMax) validEmbCache.clear()
      // build OUTSIDE the map lock (r16 ADVICE): the builder runs eager
      // Spark probe jobs, and computeIfAbsent would hold the bin lock
      // for their whole multi-second duration — blocking unrelated
      // hash-colliding callers and throwing IllegalStateException on any
      // re-entrant validEmbeddings call from inside the builder. A
      // concurrent duplicate build costs two tiny probe jobs; putIfAbsent
      // keeps the memo single-instance per key (the FIRST finisher wins
      // and every caller gets that one frame back).
      val built = buildValidEmbeddings(spark, dir)
      val prev = validEmbCache.putIfAbsent(key, built)
      if (prev != null) prev else built
    }
  }

  private val ValidEmbCacheMax = 64
  private val validEmbCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** Stopped-session predicate behind the miss-path sweep. A `var` ONLY
    * so PlanSpec can simulate a stopped session through the REAL miss
    * path — one JVM holds one SparkContext, so a test cannot stop a
    * session without killing the shared context every other spec needs.
    * Production code never reassigns it. */
  private[graft] var validEmbStoppedProbe: SparkSession => Boolean =
    _.sparkContext.isStopped

  /** Memo membership probe for the eviction specs — never used by
    * production paths. */
  private[graft] def validEmbMemoContains(spark: SparkSession, dir: String): Boolean =
    validEmbCache.containsKey((spark, dir))

  /** Drop the memoized frame for ONE (session, dir) — the in-place
    * corpus-rewrite hook; other sessions/corpora keep their entries. */
  def invalidateValidEmbeddings(spark: SparkSession, dir: String): Unit =
    validEmbCache.remove((spark, dir))

  /** Drop every memoized validated-embeddings frame (tests / teardown).
    * Cheap — the memo holds lazy plans, not data. */
  def invalidateValidEmbeddings(): Unit = validEmbCache.clear()

  /** Basename of the materialized validated-embeddings table inside a
    * corpus dir — written by [[persistValidEmbeddings]], preferred by
    * every later load. */
  val ValidEmbeddingsTable = "embeddings_valid.parquet"

  /** Materialize the validated frame as `$dir/embeddings_valid.parquet`
    * — the at-scale ingest path: run ONCE after ingest, and every later
    * session (or cluster job) loads the validated table directly with
    * zero probe jobs and zero re-filtering. Always validates from the
    * RAW embeddings table (never from a stale persisted copy) and drops
    * this session's memo entry so the next [[validEmbeddings]] call
    * picks the materialized table up. A fingerprint of the raw table's
    * file listing is stored inside the materialized table (an
    * underscore-prefixed file, invisible to parquet readers) so a later
    * load can DETECT an in-place raw rewrite instead of silently serving
    * stale validated rows — see [[buildValidEmbeddings]]. */
  def persistValidEmbeddings(spark: SparkSession, dir: String): String = {
    val out = s"$dir/$ValidEmbeddingsTable"
    // fingerprint the raw listing BEFORE the (long) validate+write
    // window (r17 review): stamping a listing taken AFTER the write
    // would record the NEW raw over rows validated from the OLD raw if
    // the corpus is rewritten mid-window — the exact staleness the
    // sidecar exists to catch.
    val fpBefore = rawFingerprint(spark, dir)
    validateRawEmbeddings(spark, dir).write.mode("overwrite").parquet(out)
    // re-list after the write: a mid-window raw rewrite leaves the
    // materialized table suspect, so REFUSE to stamp it — the sidecarless
    // table reads as untrusted (persistedFresh warns + revalidates raw,
    // never serves it) and the thrown error tells the operator to re-run.
    val fpAfter = rawFingerprint(spark, dir)
    if (fpAfter != fpBefore)
      throw new IllegalStateException(
        s"raw embeddings under $dir changed during persist (listing " +
          "mismatch across the validate+write window) - the materialized " +
          s"table at $out is unstamped and will NOT be served; re-run " +
          "persistValidEmbeddings once the corpus is quiescent")
    val fpPath = new org.apache.hadoop.fs.Path(s"$out/$RawFingerprintFile")
    val fs = fpPath.getFileSystem(spark.sessionState.newHadoopConf())
    val os = fs.create(fpPath, true)
    try os.write(fpBefore.getBytes("UTF-8"))
    finally os.close()
    invalidateValidEmbeddings(spark, dir)
    out
  }

  /** Staleness-guard sidecar inside the materialized table: the raw
    * embeddings table's file listing at persist time. Underscore prefix
    * = hidden to Spark's parquet reader, travels with the table. */
  private[graft] val RawFingerprintFile = "_raw_fingerprint"

  /** Fingerprint of the raw embeddings table: sorted data-file
    * (name, length, modificationTime) triples. Names, not paths, so the
    * fingerprint is location-independent; a parquet REWRITE always mints
    * fresh part-UUID file names, and the mtime closes the remaining
    * same-name-same-size hole (r17 review: a NON-Spark tool editing
    * bytes in place, or a different same-shape corpus copied over the
    * same part names, preserved name:length and passed as fresh). The
    * cost: a wholesale dir copy that does not preserve mtimes now reads
    * STALE — which fails SAFE (loud warn + revalidate from raw, correct
    * rows, two extra probe jobs; re-run persistValidEmbeddings in the
    * new location to re-stamp). Driver-side FS listing only — no Spark
    * job. */
  private def rawFingerprint(spark: SparkSession, dir: String): String = {
    val raw = new org.apache.hadoop.fs.Path(s"$dir/embeddings.parquet")
    val fs = raw.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(raw)) "absent"
    else if (fs.getFileStatus(raw).isFile) {
      val st = fs.getFileStatus(raw)
      s"${raw.getName}:${st.getLen}:${st.getModificationTime}"
    } else {
      def ls(p: org.apache.hadoop.fs.Path)
          : Seq[org.apache.hadoop.fs.FileStatus] =
        fs.listStatus(p).toSeq.flatMap(s =>
          if (s.isDirectory) ls(s.getPath) else Seq(s))
      ls(raw)
        .filterNot(s => s.getPath.getName.startsWith("_") ||
          s.getPath.getName.startsWith("."))
        .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
        .sorted.mkString("|")
    }
  }

  /** The uncached builder behind [[validEmbeddings]] — exposed for the
    * plan specs that pin its scale properties per corpus shape. Prefers
    * a table materialized by [[persistValidEmbeddings]] (a bare scan, no
    * probes, no filter) ONLY while its persist-time fingerprint still
    * matches the raw table's current file listing; a mismatch — or a
    * missing fingerprint (a hand-copied table) — logs loudly and
    * REVALIDATES from raw, so an in-place raw rewrite can never silently
    * serve stale validated rows (r16 review). Otherwise validates raw. */
  private[graft] def buildValidEmbeddings(spark: SparkSession, dir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$ValidEmbeddingsTable")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p) && persistedFresh(spark, fs, p, dir))
      spark.read.parquet(p.toString)
    else validateRawEmbeddings(spark, dir)
  }

  private def persistedFresh(spark: SparkSession,
                             fs: org.apache.hadoop.fs.FileSystem,
                             table: org.apache.hadoop.fs.Path,
                             dir: String): Boolean = {
    val fpPath = new org.apache.hadoop.fs.Path(table, RawFingerprintFile)
    if (!fs.exists(fpPath)) {
      System.err.println(s"[tables] WARNING: $table has no " +
        s"$RawFingerprintFile sidecar (not written by " +
        "persistValidEmbeddings?) - ignoring it and revalidating raw")
      false
    } else {
      val in = fs.open(fpPath)
      val stored =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val now = rawFingerprint(spark, dir)
      if (stored == now) true
      else {
        System.err.println(s"[tables] WARNING: $table is STALE (raw " +
          "embeddings table rewritten since persist) - ignoring it and " +
          "revalidating raw; re-run persistValidEmbeddings to refresh")
        false
      }
    }
  }

  /** Validation from the raw embeddings table (see [[validEmbeddings]]
    * for the rules). */
  private def validateRawEmbeddings(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val raw = embeddings(spark, dir)
    val dims = raw
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
      .groupBy(size(col("embedding")).as("d")).count()
      .orderBy(col("count").desc, col("d").asc)
      .take(1)
    if (dims.isEmpty) raw.filter(lit(false))
    else {
      val modal = dims(0).getInt(0)
      val filtered = raw.filter(col("embedding").isNotNull &&
        size(col("embedding")) === modal &&
        !exists(col("embedding"), x =>
          x.isNull || isnan(x) ||
            x < lit(Float.MinValue) || x > lit(Float.MaxValue)) &&
        exists(col("embedding"), x => x =!= 0.0f))
      val hasDupIds = dupIdProbe(filtered).head().getLong(0) > 0
      if (!hasDupIds) filtered
      else {
        graft.operators.TopK.cut(filtered, 1, Seq(col("vec_id")),
            Seq(col("embedding").asc, col("label").asc_nulls_last), "__rn")
          .drop("__rn")
      }
    }
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
