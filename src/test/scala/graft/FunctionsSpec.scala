package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{Registration, Scrub}
import graft.schema.SchemaRegistry

class FunctionsSpec extends SparkTestBase {

  test("scrubbed replaces leaf values with type names, keeps shape and nulls") {
    import spark.implicits._
    val df = Seq((1, "secret-name", Seq(1.5, 2.5), null.asInstanceOf[String]))
      .toDF("id", "name", "scores", "note")
      .select(struct($"id", $"name", $"scores", $"note").as("p"))
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("name", StringType),
      StructField("scores", ArrayType(DoubleType)), StructField("note", StringType)))
    val row = df.select(Scrub.scrubbed($"p", schema).as("s")).select("s.*").head()
    assert(row.getString(0) == "int")
    assert(row.getString(1) == "string")
    assert(row.getSeq[String](2) == Seq("double", "double"))
    assert(row.isNullAt(3)) // nulls stay null — absence is not a value
  }

  test("registered SQL functions run the envelope round trip from pure SQL") {
    val reg = new SchemaRegistry
    val entry = reg.registerSchema("sqlns", "ev",
      queries.EnvelopeOps.eventSchemaJson)
    Registration.registerAll(spark, reg)
    Tables.events(spark, sf()).limit(10).createOrReplaceTempView("ev_src")
    val out = spark.sql(
      s"""SELECT p.event_id, p.event_type FROM (
            SELECT decode_payload(env.payload, env.schema_id, ${entry.schemaId}) AS p FROM (
              SELECT unpack_envelope(pack_envelope(named_struct(
                'uuid', unhex(md5(cast(event_id AS string))),
                'message_type', 'create',
                'schema_id', ${entry.schemaId},
                'payload', encode_payload(
                   named_struct('event_id', event_id, 'user_id', user_id,
                                'event_type', event_type, 'value', value),
                   '${queries.EnvelopeOps.eventSchemaJson.replace("\n", " ")}'),
                'previous_payload', cast(null AS binary),
                'meta', cast(null AS array<struct<schema_id:int,payload:binary>>),
                'encryption_type', cast(null AS string),
                'timestamp', cast(unix_timestamp(ts) AS int)))) AS env
              FROM ev_src))""")
    val rows = out.collect()
    assert(rows.length == 10)
    assert(rows.forall(r => !r.isNullAt(0) && r.getString(1).nonEmpty))
    // simhash64 from SQL too
    val h = spark.sql("SELECT simhash64(split('a b c', ' '))").head().getLong(0)
    assert(h != 0L)
    // mmr_select from SQL: near-identical 20 defers behind diverse 30
    val sel = spark.sql(
      """SELECT mmr_select(
           array(10L, 20L, 30L),
           array(950000L, 940000L, 600000L),
           array(array(1D, 0.1D), array(1D, 0.11D), array(-0.1D, 1D)),
           2, 700000)""").head().getSeq[Long](0)
    assert(sel == Seq(10L, 30L), s"SQL mmr_select picked $sel")
  }

  test("banded simhash near-dups equal the brute-force all-pairs result") {
    import graft.operators.Dedup
    val fps = Dedup.simhashFingerprints(
      Tables.documents(spark, sf()), "doc_id", "text").cache()
    val banded = Dedup.simhashNearDups(fps, maxHamming = 3, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val a = fps.select(col("id").as("d1"), col("f").as("f1"))
    val b = fps.select(col("id").as("d2"), col("f").as("f2"))
    val brute = a.crossJoin(b).filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        bit_count(col("f1").bitwiseXOR(col("f2"))).as("hamming"))
      .filter(col("hamming") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(banded == brute)
    fps.unpersist()
  }

  test("hyperplane signs are deterministic and match the md5-parity formula") {
    import graft.operators.Similarity
    val s1 = Similarity.hyperplaneSigns(16, 64)
    val s2 = Similarity.hyperplaneSigns(16, 64)
    assert(s1.map(_.toSeq).toSeq == s2.map(_.toSeq).toSeq)
    assert(s1.flatten.forall(v => v == 1.0 || v == -1.0))
    // spot-check one cell against an independently computed md5 hex digit
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest("hp:3:7".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = if ("02468ace".contains(hex.charAt(0))) 1.0 else -1.0
    assert(s1(3)(7) == expected)
  }

  test("uuid4_binary emits unique RFC 4122 v4 ids and replays under a fixed seed") {
    val rows = spark.range(0, 1000, 1, 4)
      .select(graft.functions.uuid4_binary(7L).as("u"))
      .collect().map(_.getAs[Array[Byte]](0))
    assert(rows.forall(_.length == 16))
    assert(rows.forall(b => (b(6) & 0xf0) == 0x40), "version nibble must be 4")
    assert(rows.forall(b => (b(8) & 0xc0) == 0x80), "variant bits must be RFC 4122")
    assert(rows.map(_.toSeq).distinct.length == 1000, "ids must be unique")
    // seeded generation replays identically (task-retry recomputability)
    val again = spark.range(0, 1000, 1, 4)
      .select(graft.functions.uuid4_binary(7L).as("u"))
      .collect().map(_.getAs[Array[Byte]](0))
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
    // unseeded calls draw distinct streams
    val a = spark.range(1).select(graft.functions.uuid4_binary().as("u")).head().getAs[Array[Byte]](0)
    val b = spark.range(1).select(graft.functions.uuid4_binary().as("u")).head().getAs[Array[Byte]](0)
    assert(a.toSeq != b.toSeq)
  }

  test("secure_random_binary draws unique CSPRNG blocks of the requested size") {
    import org.apache.spark.sql.functions.col
    val rows = spark.range(0, 1000, 1, 4)
      .select(graft.functions.secure_random_binary(16).as("iv"))
      .collect().map(_.getAs[Array[Byte]](0))
    assert(rows.forall(_.length == 16))
    assert(rows.map(_.toSeq).distinct.length == 1000, "IVs must never repeat")
    // two independent expressions in one projection must not be collapsed
    // into a single draw (instanceTag differentiates them for Catalyst)
    val pair = spark.range(0, 100, 1, 2)
      .select(graft.functions.secure_random_binary(16).as("x"),
        graft.functions.secure_random_binary(16).as("y"))
      .collect()
    assert(pair.forall(r =>
      r.getAs[Array[Byte]]("x").toSeq != r.getAs[Array[Byte]]("y").toSeq))
    // interpreted path (codegen fallback) agrees on shape
    val interp = graft.functions.SecureRandomBinary(16, 1L)
    interp.initialize(0)
    val v = interp.eval(null).asInstanceOf[Array[Byte]]
    assert(v.length == 16)
    // encryption path draws its IVs from this source
    val ivPlan = spark.range(1).select(graft.streaming.Encryption.randomIv().as("iv"))
    assert(ivPlan.queryExecution.analyzed.toString.contains("secure_random_binary") ||
      ivPlan.head().getAs[Array[Byte]]("iv").length == 16)
    assert(spark.range(0, 50, 1, 1).select(col("id"),
      graft.streaming.Encryption.randomIv().as("iv"))
      .collect().map(_.getAs[Array[Byte]]("iv").toSeq).distinct.length == 50)
  }

  test("rolling_min_hash equals array_min of the portable rollingHashes") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf())
    val got = docs.select(
      $"doc_id",
      graft.functions.RollingMinHash64.rolling_min_hash($"text", 8).as("fast"),
      array_min(graft.operators.TextAnalysis.rollingHashes($"text", 8)).as("portable"))
      .collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getLong(1) == r.getLong(2),
        s"doc ${r.getLong(0)}: rolling ${r.getLong(1)} != portable ${r.getLong(2)}")
    }
    // strings shorter than the window have no fingerprint
    val short = Seq("tiny").toDF("text")
      .select(graft.functions.RollingMinHash64.rolling_min_hash($"text", 8))
      .head()
    assert(short.isNullAt(0))
    // SQL surface
    val viaSql = spark.sql("SELECT rolling_min_hash('hello world', 8)").head().getLong(0)
    val viaCol = Seq("hello world").toDF("t")
      .select(graft.functions.RollingMinHash64.rolling_min_hash($"t", 8))
      .head().getLong(0)
    assert(viaSql == viaCol)
  }

  test("rolling_fingerprint equals the HOF summary, code points included") {
    import spark.implicits._
    val fp = graft.functions.RollingFingerprint64.rolling_fingerprint($"text", 8)
    val hs = graft.operators.TextAnalysis.rollingHashes($"text", 8)
    def summary(df: org.apache.spark.sql.DataFrame) = df
      .select($"doc_id", fp.as("fp"), hs.as("hs"))
      .select($"doc_id",
        $"fp.n_windows", $"fp.min_hash", $"fp.n_distinct",
        size($"hs").cast("long").as("p_windows"),
        array_min($"hs").as("p_min"),
        size(array_distinct($"hs")).cast("long").as("p_distinct"))
      .collect()
    // fixture corpus + crafted edges: exactly one window, repeated
    // windows (distinct < count), and a supplementary-plane code point —
    // `ascii(substr)` folds code points, so the native stream must too
    val edges = Seq(
      "exactly8",
      "aaaaaaaaaaaaaaaa",
      "a😀bcdefghij",
      "spark rolling fingerprint identity check")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    (summary(Tables.documents(spark, sf())) ++ summary(edges)).foreach { r =>
      assert(r.getLong(1) == r.getLong(4), s"doc ${r.getLong(0)}: n_windows")
      assert(r.getLong(2) == r.getLong(5), s"doc ${r.getLong(0)}: min_hash")
      assert(r.getLong(3) == r.getLong(6), s"doc ${r.getLong(0)}: n_distinct")
    }
    // repeated text: 9 windows, 1 distinct value
    val rep = Seq("aaaaaaaaaaaaaaaa").toDF("text").select(fp.as("fp"))
      .select($"fp.n_windows", $"fp.n_distinct").head()
    assert(rep.getLong(0) == 9 && rep.getLong(1) == 1)
    // shorter than the window: (0, null, 0), matching the empty HOF array
    val short = Seq("tiny").toDF("text").select(fp.as("fp"))
      .select($"fp.n_windows", $"fp.min_hash", $"fp.n_distinct").head()
    assert(short.getLong(0) == 0L && short.isNullAt(1) && short.getLong(2) == 0L)
    // min_hash agrees with the standalone rolling_min_hash expression
    val both = Seq("hello rolling world").toDF("text")
      .select(fp.as("fp"),
        graft.functions.RollingMinHash64.rolling_min_hash($"text", 8).as("rmh"))
      .select($"fp.min_hash", $"rmh").head()
    assert(both.getLong(0) == both.getLong(1))
    // SQL surface
    val viaSql = spark.sql(
      "SELECT rolling_fingerprint('hello world', 8).n_distinct").head().getLong(0)
    assert(viaSql == 4L)
  }

  test("simhash64 / rolling_min_hash generate real code — no silent fallback") {
    // with spark.sql.codegen.fallback=false a janino failure in the
    // generated stanza fails the query instead of quietly interpreting,
    // so this pins that both expressions' doGenCode actually compiles
    // and agrees with the interpreted path (including the null-for-short
    // rolling window through the generated null flag)
    import spark.implicits._
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val df = Tables.documents(spark, sf())
        .select($"doc_id", $"text",
          graft.functions.SimHash64.simhash64(split($"text", " ")).as("sh"),
          graft.functions.RollingMinHash64.rolling_min_hash($"text", 8).as("rmh"),
          graft.functions.RollingMinHash64.rolling_min_hash(lit("sm"), 8).as("rshort"),
          graft.functions.RollingFingerprint64.rolling_fingerprint($"text", 8)
            .getField("n_distinct").as("rfd"))
      // the `*(n)` prefix marks a WholeStageCodegen stage in toString form
      assert(df.queryExecution.executedPlan.toString.contains("*(1) Project"))
      val rows = df.collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        assert(!r.isNullAt(2) && !r.isNullAt(3))
        assert(r.isNullAt(4), "short input must be null through the generated path")
        assert(r.getLong(5) > 0, "fingerprint distinct count through codegen")
      }
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("cosine_sim matches the HOF zip_with/aggregate formulation bit for bit") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // irrational-ish components so any fold-order difference would show
    // in the low bits; compared UNROUNDED via exact double equality
    val rows = (0L until 200L).map { i =>
      val v = Seq.tabulate(16)(j => math.sin(i * 16 + j + 1.0) * math.sqrt(j + 2.0))
      val p = Seq.tabulate(16)(j => math.cos(i * 7 + j + 1.0) / math.sqrt(j + 3.0))
      (i, v, p)
    }.toDF("id", "v", "p")
    val hof =
      expr("aggregate(zip_with(v, p, (x, y) -> x * y), 0D, (acc, z) -> acc + z)") /
        (expr("sqrt(aggregate(v, 0D, (acc, x) -> acc + x * x))") *
          expr("sqrt(aggregate(p, 0D, (acc, x) -> acc + x * x))"))
    val both = rows.select($"id",
      graft.functions.CosineSim.cosine_sim($"v", $"p").as("fast"), hof.as("ref"))
      .as[(Long, Double, Double)].collect()
    both.foreach { case (id, fast, ref) =>
      assert(fast == ref, s"row $id: native $fast != HOF $ref")
    }
    // null parity: a null element or mismatched lengths null the result,
    // exactly like the zip_with form
    val edge = Seq(
      (1L, Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](1.0, 2.0)),
      (2L, Seq[java.lang.Double](1.0, 2.0, 3.0), Seq[java.lang.Double](1.0, 2.0)))
      .toDF("id", "v", "p")
    val got = edge.select(
      graft.functions.CosineSim.cosine_sim($"v".cast("array<double>"),
        $"p".cast("array<double>")).as("c"))
      .collect().map(r => r.isNullAt(0))
    assert(got.forall(identity), "null element / length mismatch must yield null")
  }

  test("l2_argmin: hand-computed distances, ties to lower id, offset sub-range, zero-pad") {
    import spark.implicits._
    import graft.functions.L2Argmin
    val ids = Array(0, 2, 5)
    val cents = Array(Array(0.0, 0.0), Array(3.0, 4.0), Array(3.0, -4.0))
    def argmin(v: Seq[Double], offset: Int): Int =
      Seq((v, 0)).toDF("v", "z")
        .select(L2Argmin.l2_argmin($"v", ids, cents, offset).as("c"))
        .as[Int].head()
    // d² to (0,0)=13, (3,4)=2, (3,-4)=50 → cluster 2
    assert(argmin(Seq(2.0, 3.0), 0) == 2)
    // (5,0): d² 25 / 20 / 20 — equidistant from (3,4) and (3,-4),
    // farther from origin: tie goes to the LOWER id of the tied pair = 2
    assert(argmin(Seq(5.0, 0.0), 0) == 2)
    // offset=2 reads dims 2..3: (9,9) → d² 162 / 61 / 205 → cluster 2
    assert(argmin(Seq(100.0, 100.0, 9.0, 9.0), 2) == 2)
    // vector shorter than offset+len: missing dims read as 0 → exactly
    // the all-zero vector → cluster 0 (d²=0)
    assert(argmin(Seq(1.0), 2) == 0)
  }

  test("array-carrying kernels print shape and content hash: equal arrays print alike, no identity hash") {
    import graft.functions.{BloomMightContainLong, CentroidResidual, CosineArgmax,
      L2Argmin, MatVec, PqAdc, PqDistTable}
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
    val v = BoundReference(0, ArrayType(DoubleType), nullable = true)
    val k = BoundReference(1, IntegerType, nullable = true)
    // every call builds fresh arrays of the same content
    def ids() = Array(0, 2, 5)
    def cents() = Array(Array(0.0, 0.5), Array(3.0, 4.0), Array(3.0, -4.0))
    val kernels: Seq[() => Expression] = Seq(
      () => L2Argmin(v, ids(), cents(), 0),
      () => PqDistTable(v, Array(cents(), cents()), 2),
      () => PqAdc(v, v, Array(ids(), ids())),
      () => CosineArgmax(v, ids(), cents()),
      () => CentroidResidual(v, k, ids(), cents()),
      () => MatVec(v, cents()),
      () => BloomMightContainLong(k, Array[Byte](1, 2, 3)))
    kernels.foreach { make =>
      val (a, b) = (make(), make())
      assert(a.toString == b.toString, s"equal arrays print differently: $a vs $b")
      assert("@[0-9a-f]+".r.findFirstIn(a.toString).isEmpty, s"identity hash in $a")
    }
    assert(L2Argmin(v, ids(), cents(), 0).toString.contains("double[3][2](hash="),
      L2Argmin(v, ids(), cents(), 0).toString)
    assert(L2Argmin(v, ids(), cents(), 0).toString !=
      L2Argmin(v, ids(), cents().reverse, 0).toString,
      "different centroids must print differently")
  }

  test("approx_top_k purge regime: a planted heavy hitter survives a tiny sketch within its error bound") {
    import spark.implicits._
    import graft.operators.Frequency
    // 500 copies of the hitter + 1500 singletons through a 64-capacity
    // sketch: the frequent-items guarantee keeps the hitter's estimate
    // within n/capacity of truth even though the map purges constantly
    val docs = ((0 until 500).map(_ => "hit") ++
      (0 until 1500).map(i => s"rare$i")).toDF("text")
    val n = 2000L
    val cap = 64
    val got = Frequency.topGrams(docs, "text", n = 1, k = 8,
      maxTracked = cap, minCount = 1L)
      .as[(String, Long)].collect().toMap
    assert(got.contains("hit"), s"planted hitter purged entirely: $got")
    // the frequent-items sketch reports an UPPER-bound estimate:
    // true ≤ estimate ≤ true + n/capacity
    val est = got("hit")
    assert(est >= 500L && est <= 500L + n / cap,
      s"estimate $est outside [500, ${500 + n / cap}]")
  }

  test("approx_top_k exact regime: topGrams equals the exact group-by counts") {
    import spark.implicits._
    import graft.operators.Frequency
    val docs = Tables.documents(spark, sf()).limit(100).cache()
    val got = Frequency.topGrams(docs, "text", n = 3, k = 1024,
      maxTracked = 65536, minCount = 3L).as[(String, Long)].collect().toSeq
    val exact = Frequency.ngrams(docs, "text", 3)
      .groupBy($"g").agg(count(lit(1)).as("cnt"))
      .filter($"cnt" >= 3).orderBy($"cnt".desc, $"g".asc)
      .as[(String, Long)].collect().toSeq
    assert(got == exact, s"sketch diverged from exact counts in the exact regime")
    docs.unpersist()
  }

  test("z-order: hand-computed Morton codes; range layout clusters BOTH columns") {
    import spark.implicits._
    import graft.operators.Layout
    // hand-computed interleaves (x even bits, y odd bits)
    val codes = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (65535L, 65535L))
      .toDF("x", "y")
      .select(Layout.zValue2($"x", $"y").as("z")).as[Long].collect().toSeq
    assert(codes == Seq(0L, 1L, 2L,
      // x=3 (bits 0,1 → pos 0,2) = 5; y=5 (bits 0,2 → pos 1,5) = 34 → 39
      39L,
      0xFFFFFFFFL))
    // locality: a 256×256 grid laid out along the z-curve in 16 range
    // partitions gives every partition a small (x, y) rectangle — the
    // min/max-stat property parquet skipping feeds on. A plain x-sort
    // leaves the y span at full width.
    val grid = spark.range(0L, 65536L)
      .select(($"id" % 256L).as("x"), ($"id" / 256L).cast("long").as("y"))
    def avgSpans(df: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val spans = df
        .select($"x", $"y", org.apache.spark.sql.functions.spark_partition_id().as("p"))
        .groupBy($"p")
        .agg((max($"x") - min($"x")).as("sx"), (max($"y") - min($"y")).as("sy"))
        .agg(avg($"sx"), avg($"sy")).as[(Double, Double)].head()
      spans
    }
    val (zx, zy) = avgSpans(Layout.zorderRange(grid, "x", "y", 16))
    assert(zx < 128 && zy < 128,
      s"z-order partitions are not rectangles: avg x span $zx, y span $zy")
    val (_, ny) = avgSpans(
      grid.repartitionByRange(16, $"x").sortWithinPartitions($"x"))
    assert(ny > 200, s"fixture broken: x-sort should leave y unclustered, got $ny")
    assert(zy < ny / 2, s"z-order y span $zy not better than x-sort's $ny")
  }

  test("hll sketch distinct counts: bounded error, lossless shard merge, sketch-only shuffle") {
    import spark.implicits._
    import graft.operators.Frequency
    val ev = Tables.events(spark, sf()).select($"event_type", $"user_id", $"event_id")
    val exact = Frequency.distinctCounts(ev, "event_type", "user_id")
      .select($"event_type", $"n_distinct").as[(String, Long)].collect().toMap
    val est = Frequency.distinctCountsSketch(ev, "event_type", "user_id")
      .select($"event_type", $"n_distinct_est").as[(String, Long)].collect().toMap
    assert(est.keySet == exact.keySet)
    exact.foreach { case (g, n) =>
      val e = est(g)
      // 1.04/sqrt(2^12) ≈ 1.6% relative standard error; 5 sigma headroom
      assert(math.abs(e - n) <= math.max(2.0, 0.08 * n),
        s"group $g: estimate $e too far from exact $n")
    }
    // shard merge is lossless at equal lgK: union of per-shard sketches
    // must equal the single-pass sketch estimate exactly — cardinality
    // stats compose across incremental corpus builds
    val sharded = Frequency.mergeShardSketches(
        Frequency.shardSketches(ev.withColumn("shard", $"event_id" % 7),
          "shard", "event_type", "user_id"),
        "event_type")
      .select($"event_type", $"n_distinct_est").as[(String, Long)].collect().toMap
    assert(sharded == est,
      "merged shard sketches diverged from the single-pass sketch")
    // scale shape: partial sketch aggregation runs before the exchange —
    // only sketch blobs shuffle, never (group, value) pairs
    val p = Frequency.distinctCountsSketch(ev, "event_type", "user_id")
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("partial_hll_sketch_agg") || p.contains("partial hll_sketch_agg")
        || p.linesIterator.exists(l => l.contains("Partial") && l.contains("hll")),
      s"no partial HLL aggregation before the exchange:\n$p")
  }

  test("bloom_might_contain: no false negatives; nulls propagate; codegen path is real") {
    import spark.implicits._
    import graft.functions.BloomMightContainLong.bloom_might_contain
    val keys = (0L until 500L).map(_ * 7L)
    val bf = spark.createDataset(keys).toDF("k")
      .stat.bloomFilter("k", 500L, 0.01)
    val probe = spark.createDataset((0L until 3500L).map(java.lang.Long.valueOf) :+
      null.asInstanceOf[java.lang.Long]).toDF("k")
    // fallback=false: a janino failure in the generated probe stanza fails
    // the query instead of quietly interpreting. Probe through Range (a
    // codegen source — a local relation would be folded away by
    // ConvertToLocalRelation before any code generated).
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val gen = spark.range(0L, 3500L)
        .select($"id", bloom_might_contain($"id", bf).as("hit"))
      assert(gen.queryExecution.executedPlan.toString.contains("*(1) Project"),
        "bloom probe projection fell out of whole-stage codegen")
      val genHits = gen.as[(Long, Boolean)].collect().toMap
      keys.filter(_ < 3500L).foreach { k =>
        assert(genHits(k), s"generated path false negative for $k")
      }
    } finally spark.conf.unset("spark.sql.codegen.fallback")
    val got = probe.select($"k", bloom_might_contain($"k", bf).as("hit"))
      .as[(Option[Long], Option[Boolean])].collect().toMap
    keys.foreach { k =>
      assert(got(Some(k)).contains(true), s"false negative for inserted key $k")
    }
    assert(got(None).isEmpty, "null key must yield null, not a bloom probe")
    // fpp sanity: non-inserted keys should overwhelmingly miss at 1% fpp
    val nonKeys = (0L until 3500L).filterNot(_ % 7 == 0)
    val fps = nonKeys.count(k => got(Some(k)).contains(true))
    assert(fps < nonKeys.size / 10, s"$fps/${nonKeys.size} false positives — sketch broken")
  }

  test("bloomSemiJoin is bit-identical to the plain left-semi join") {
    import spark.implicits._
    import graft.operators.JoinPrune
    // deterministic pseudo-random keys with guaranteed overlap and misses
    val probe = (0L until 4000L).map(i => (i, i * 2654435761L % 997L)).toDF("id", "k")
    val build = (0L until 120L).map(i => Tuple1(i * 31L % 997L)).toDF("bk")
    val pruned = JoinPrune.bloomSemiJoin(probe, build, "k", "bk",
        expectedNumItems = 200L, fpp = 0.05)
      .select($"id", $"k").as[(Long, Long)].collect().toSet
    val plain = probe.join(build, $"k" === $"bk", "left_semi")
      .select($"id", $"k").as[(Long, Long)].collect().toSet
    assert(pruned == plain,
      "bloom pre-filter changed the exact semi-join result")
  }

  test("int8_dot matches the zip_with/aggregate formulation, nulls included") {
    import spark.implicits._
    import graft.operators.Similarity
    val rnd = new scala.util.Random(31)
    val rows = (0L until 200L).map { i =>
      (i, Seq.fill(16)(rnd.nextInt(255) - 127), Seq.fill(16)(rnd.nextInt(255) - 127))
    }.toDF("id", "a", "b")
    val both = rows.select($"id",
      graft.functions.Int8Dot.int8_dot($"a", $"b").as("fast"),
      Similarity.int8DotHof("a", "b").as("ref"))
      .as[(Long, Long, Long)].collect()
    both.foreach { case (id, fast, ref) =>
      assert(fast == ref, s"row $id: native $fast != HOF $ref")
    }
    // null element / length mismatch must yield null, zip_with parity
    val edge = Seq(
      (1L, Seq[Integer](1, null), Seq[Integer](1, 2)),
      (2L, Seq[Integer](1, 2, 3), Seq[Integer](1, 2)))
      .toDF("id", "a", "b")
      .select($"id", $"a".cast("array<int>").as("a"), $"b".cast("array<int>").as("b"))
    val gotNulls = edge.select(
      graft.functions.Int8Dot.int8_dot($"a", $"b").as("d"))
      .collect().map(_.isNullAt(0))
    assert(gotNulls.forall(identity))
  }

  test("pq_adc matches the array_position/element_at formulation, nulls included") {
    import spark.implicits._
    import graft.operators.Similarity
    // two subspaces, gappy cluster ids (cluster 1 "emptied out" of sub 0)
    // to exercise the code→position indirection, not just identity
    val cb = graft.operators.Codebook(Array(
      Array(0, 2, 3, 4, 5, 6).map(c => (c, Seq(0.0))),
      Array(0, 1, 2).map(c => (c, Seq(0.0)))))
    val (nan, inf) = (Double.NaN, Double.PositiveInfinity)
    val tbl = Seq(Seq(0.125001, 0.25, 0.5, nan, inf, -inf), Seq(0.0625, 1.000001, -inf))
    val rows = Seq(
      (0L, Seq[Integer](0, 0)),    // 0.125001 + 0.0625
      (1L, Seq[Integer](2, 1)),    // 0.25 + 1.000001
      (2L, Seq[Integer](3, 0)),    // gappy id resolves by position
      (3L, Seq[Integer](1, 0)),    // stale code: sub 0 has no cluster 1 → null
      (4L, Seq[Integer](9, 0)),    // out-of-range code → null
      (5L, Seq[Integer](null, 1)), // null code element → null
      (6L, Seq[Integer](4, 0)),    // NaN entry → NaN, as round(NaN) is
      (7L, Seq[Integer](5, 0)),    // +Inf entry → +Inf
      (8L, Seq[Integer](6, 1)),    // −Inf entry → −Inf
      (9L, Seq[Integer](5, 2))     // +Inf + −Inf → NaN
    ).toDF("vec_id", "codes")
      .select($"vec_id", $"codes".cast("array<int>").as("codes"),
        typedLit(tbl).as("__tbl"))
    val both = rows.select($"vec_id",
      cb.adc($"codes", $"__tbl").as("fast"),
      Similarity.pqAdistHof(cb).as("ref"))
      .collect()
    def bits(v: Any): Option[Long] =
      Option(v).map(d => java.lang.Double.doubleToRawLongBits(d.asInstanceOf[Double]))
    both.foreach { r =>
      val (fast, ref) = (r.get(1), r.get(2))
      assert(bits(fast) == bits(ref), s"row ${r.getLong(0)}: native $fast != HOF $ref")
    }
    // the valid sums land on the 6-dp rounding the oracle replays
    val byId = both.map(r => r.getLong(0) -> r.get(1)).toMap
    assert(byId(0L) == 0.187501 && byId(1L) == 1.250001 && byId(2L) == 0.5625)
    assert(Seq(3L, 4L, 5L).forall(byId(_) == null),
      "unresolvable codes must drop to null, never rank")
    val special = Seq(6L, 7L, 8L, 9L).map(byId(_).asInstanceOf[Double])
    assert(special(0).isNaN && special(1) == inf && special(2) == -inf && special(3).isNaN,
      s"NaN/±Inf sums must pass through the rounding, got $special")
  }

  test("pq_dist_table is bit-identical to the element_at formulation (NaN, ±Inf, −0.0, nulls, HALF_UP)") {
    import scala.jdk.CollectionConverters._
    import graft.operators.Similarity
    val (m, subDim, ksub) = (3, 4, 5)
    val rnd = new scala.util.Random(47)
    val specials = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0)
    def value(): Double =
      if (rnd.nextInt(12) == 0) specials(rnd.nextInt(specials.size))
      else math.round((rnd.nextDouble() * 4 - 2) * 1e4) / 1e4
    // every codebook carries an all-zero centroid (position 0), so a probe
    // that is zero outside one dim scores exactly that dim's square
    val cb = graft.operators.Codebook(Array.tabulate(m) { _ =>
      ((0, Seq.fill(subDim)(0.0)) +: (1 until ksub).map(c =>
        (c, Seq.fill(subDim)(if (rnd.nextInt(10) == 0) -0.0 else value())))).toArray
    })
    // values on the HALF_UP boundary: a dim d with d·d printing exactly
    // `target` (7th decimal 5), found among the ulps next to √target
    def onBoundary(target: Double): Double =
      (-4 to 4).iterator.map(u => math.sqrt(target) + u * math.ulp(math.sqrt(target)))
        .find(d => (d * d).toString == target.toString)
        .getOrElse(fail(s"no double squares to $target"))
    val boundary = Seq(0.1000005, 2.0000005, 5.0E-7).map { t =>
      val p = Array.fill[java.lang.Double](m * subDim)(0.0)
      p(subDim + 1) = onBoundary(t)
      p.toSeq
    }
    val random = (0 until 60).map { i =>
      val len = if (i % 7 == 0) m * subDim + 3 else m * subDim
      Seq.fill[java.lang.Double](len)(value())
    }
    // a null element in subspace 1 (dims 4..7) only
    val withNull = Seq.tabulate[java.lang.Double](m * subDim)(i => if (i == 6) null else i * 0.5)
    val rows: Seq[(Long, Seq[java.lang.Double])] =
      (boundary ++ random :+ withNull).zipWithIndex.map { case (p, i) => (i.toLong, p) } :+
        ((-1L, null))
    val schema = StructType.fromDDL("id BIGINT, p ARRAY<DOUBLE>")
    val local = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, p) => org.apache.spark.sql.Row(i, p) }, 2),
      schema)
    val native = cb.distTable(col("p"))
    def bits(t: Seq[Seq[java.lang.Double]]): Seq[Seq[Option[Long]]] =
      t.map(_.map(d => Option(d).map(x => java.lang.Double.doubleToRawLongBits(x))))
    def tables(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), native.as("fast"), Similarity.distTableHof(cb).as("ref"))
        .collect().map { r =>
          def tbl(i: Int) = Option(r.getAs[scala.collection.Seq[scala.collection.Seq[java.lang.Double]]](i))
            .map(_.map(_.toSeq).toSeq)
          r.getLong(0) -> (tbl(1), tbl(2).get)
        }.toMap
    // generated (whole-stage codegen over an RDD scan) and interpreted
    // (the optimizer folds a projection over a local relation) paths
    val local2 = spark.createDataFrame(rows.map { case (i, p) =>
      org.apache.spark.sql.Row(i, p) }.asJava, schema)
    for ((path, out) <- Seq("codegen" -> tables(local), "interpreted" -> tables(local2))) {
      rows.collect { case (id, p) if p != null => id }.foreach { id =>
        val (fast, ref) = out(id)
        assert(fast.map(bits) == Some(bits(ref)), s"$path row $id: native $fast != HOF $ref")
      }
      // a null probe is a null table (the HOF twin builds all-null rows;
      // probesWithDistTable's size filter keeps both out of the search)
      assert(out(-1L)._1.isEmpty && out(-1L)._2.flatten.forall(_ == null), s"$path null p")
      // the null element nulls exactly subspace 1's row
      val nulled = out((boundary.size + random.size).toLong)._1.get
      assert(nulled(1).forall(_ == null) && nulled(0).forall(_ != null) &&
        nulled(2).forall(_ != null), s"$path null element: $nulled")
      // the boundary entries round half up at the 7th decimal
      assert(Seq(0L, 1L, 2L).map(id => out(id)._1.get(1)(0).doubleValue) ==
        Seq(0.100001, 2.000001, 1.0E-6), s"$path HALF_UP boundary")
    }
    // the sweep really exercised the special values
    val flat = tables(local).values.flatMap(_._1).flatten.flatten.filter(_ != null).map(_.doubleValue)
    assert(flat.exists(_.isNaN) && flat.exists(_.isPosInfinity), "sweep lacks NaN/Inf entries")
  }

  test("centroid_residual matches the zip_with formulation; degenerates null the row") {
    import spark.implicits._
    import graft.operators.Similarity
    val centRows: Array[(Int, Seq[Double])] = Array(
      (0, Seq(1.0, -2.0, 0.5)), (3, Seq(0.25, 0.0, -1.0)))
    val rows = Seq(
      (0L, Option(Seq(2.0, 2.0, 2.0)), Option(0)),     // clean
      (1L, Option(Seq(-1.5, 0.0, 3.25)), Option(3)),   // clean, gappy id
      (2L, Option(Seq(1.0, 1.0, 1.0)), Option(7)),     // unknown cluster
      (3L, None, Option(0)),                           // null vector
      (4L, Option(Seq(1.0, 1.0, 1.0)), None),          // null cluster
      (5L, Option(Seq(1.0, 1.0)), Option(0)))          // width mismatch
      .toDF("vec_id", "v", "cluster")
      .select($"vec_id", $"v".cast("array<double>").as("v"),
        $"cluster".cast("int").as("cluster"))
    val out = rows.select($"vec_id",
      graft.functions.CentroidResidual.centroid_residual(
        $"v", $"cluster", centRows.map(_._1), centRows.map(_._2.toArray))
        .as("fast"),
      Similarity.residualExprHof(centRows, $"v", $"cluster").as("ref"))
      .collect()
    val byId = out.map(r => r.getLong(0) -> (r.get(1), r.get(2))).toMap
    // clean rows: bit-identical to the HOF form
    Seq(0L, 1L).foreach { id =>
      assert(byId(id)._1 == byId(id)._2 && byId(id)._1 != null,
        s"row $id: native ${byId(id)._1} != HOF ${byId(id)._2}")
    }
    assert(byId(0L)._1 == Seq(1.0, 4.0, 1.5))
    // degenerates: whole-row null (unknown/null cluster and null vector
    // agree with the HOF form; the width mismatch is the documented
    // whole-null-vs-padded-nulls trade, same drop-the-row signal)
    Seq(2L, 3L, 4L, 5L).foreach { id =>
      assert(byId(id)._1 == null, s"row $id must null, got ${byId(id)._1}")
    }
    Seq(2L, 3L, 4L).foreach { id =>
      assert(byId(id)._2 == null, s"HOF row $id should also null")
    }
    // an EMPTY centroid table is a graceful all-null projection (k-means
    // over an empty corpus), never a plan-construction crash
    val emptyOut = rows.select(
      graft.functions.CentroidResidual.centroid_residual(
        $"v", $"cluster", Array.empty[Int], Array.empty[Array[Double]])
        .as("r")).collect()
    assert(emptyOut.forall(_.get(0) == null),
      "empty centroid table must null every residual")
  }

  test("null array ELEMENTS degrade argmax/argmin instead of reading as 0.0") {
    import spark.implicits._
    import graft.functions.{CosineArgmax, L2Argmin}
    // getDouble on a null slot returns 0.0 — pre-fix the kernels scored
    // a phantom zero coordinate and emitted a real (wrong) label/code
    // (the exact hazard MatVec fixed in round 10; ported)
    val rows = Seq(
      (1L, Seq[Option[Double]](Some(1.0), Some(0.0))),
      (2L, Seq[Option[Double]](None, Some(1.0)))
    ).toDF("id", "v")
    val ids = Array(0, 1)
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val am = rows.select($"id",
        CosineArgmax.cosine_argmax($"v", ids, cents).as("c"))
      .as[(Long, Int)].collect().toMap
    assert(am(1L) == 0 && am(2L) == -1,
      s"null element must take the -1 no-match label: $am")
    val lm = rows.select($"id",
        L2Argmin.l2_argmin($"v", ids, cents, 0).as("c"))
      .as[(Long, Int)].collect().toMap
    assert(lm(1L) == 0 && lm(2L) == -1,
      s"null element must take the -1 degenerate code: $lm")
  }

  test("mmr_select drops non-finite candidates; dim anchors to the min id") {
    import spark.implicits._
    import graft.operators.Similarity
    // an Infinity element gives s2 = Inf and cosine NaN — pre-fix the
    // exact-decimal ppm conversion threw NumberFormatException and
    // killed the task; one poisoned row must drop, never rank
    val cands = Seq(
      (1L, 10L, 900000L, Seq(1.0, 0.0)),
      (1L, 11L, 800000L, Seq(0.0, 1.0)),
      (1L, 12L, 999999L, Seq(Double.PositiveInfinity, 1.0)),
      // stray off-dim vector: the accepted dim anchors to the SMALLEST
      // id (10 -> 2-dim), not input order, so this drops deterministically
      (1L, 42L, 950000L, Seq(1.0, 0.0, 0.0))
    ).toDF("query_id", "id", "rel_ppm", "v")
    val got = Similarity.mmrSelect(cands, "query_id", "id", "rel_ppm", "v",
        n = 4, lambdaPpm = 700000L)
      .select($"id").as[Long].collect().toSet
    assert(got == Set(10L, 11L),
      s"Inf candidate and off-anchor-dim candidate must drop: $got")
  }

  test("mmr_select: an INVALID smallest-id candidate never anchors the dim") {
    import spark.implicits._
    import graft.operators.Similarity
    // the smallest-id candidate is itself degenerate (zero-norm) AND
    // off-dim — pre-fix its dim still anchored, vetoing every
    // well-formed candidate into an empty selection with no error; the
    // anchor must come from the smallest WELL-FORMED id (10 → 2-dim)
    val cands = Seq(
      (1L, 5L, 900000L, Seq(0.0, 0.0, 0.0)),          // zero-norm, 3-dim stray
      (1L, 6L, 2000000000000L, Seq(1.0, 1.0, 1.0)),   // rel past ±10^12, 3-dim
      (1L, 10L, 900000L, Seq(1.0, 0.0)),
      (1L, 11L, 800000L, Seq(0.0, 1.0))
    ).toDF("query_id", "id", "rel_ppm", "v")
    val got = Similarity.mmrSelect(cands, "query_id", "id", "rel_ppm", "v",
        n = 4, lambdaPpm = 700000L)
      .select($"id").as[Long].collect().toSet
    assert(got == Set(10L, 11L),
      s"well-formed candidates must survive an invalid min-id stray: $got")
  }

  test("decode_payload rejects a bigint schema_id at analysis time") {
    import spark.implicits._
    val reg = new graft.schema.SchemaRegistry
    val e = reg.registerSchema("t", "s",
      """{"type":"record","name":"p","namespace":"g",
         "fields":[{"name":"f","type":"int"}]}""")
    val df = Seq((Array[Byte](2), 1L)).toDF("payload", "sid")
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(graft.functions.decode_payload($"payload", $"sid", reg,
        e.schemaId)).collect()
    }
    assert(err.getMessage.contains("BIGINT") ||
      err.getMessage.toLowerCase.contains("decode_payload"), err.getMessage)
  }

  test("secure_random_binary validates its length at construction") {
    intercept[IllegalArgumentException] {
      graft.functions.SecureRandomBinary(-1, 0L)
    }
  }
}
