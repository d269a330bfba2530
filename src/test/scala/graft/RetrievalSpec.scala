package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators.{Curation, Retrieval, Temporal}

class RetrievalSpec extends SparkTestBase {

  // --- as-of join --------------------------------------------------------

  test("asofJoin matches the latest right row at or before the left ts") {
    import spark.implicits._
    def ts(s: String) = Timestamp.valueOf(s)
    val left = Seq(
      (1L, 100L, ts("2026-01-10 00:00:00")),
      (2L, 100L, ts("2026-01-20 00:00:00")),
      (3L, 200L, ts("2026-01-05 00:00:00")), // key with no prior right row
      (4L, 100L, ts("2026-01-15 00:00:00"))  // exactly equal ts → inclusive
    ).toDF("order_id", "k", "ots")
    val right = Seq(
      (100L, ts("2026-01-01 00:00:00"), 10L, 11L),
      (100L, ts("2026-01-15 00:00:00"), 20L, 22L),
      (100L, ts("2026-01-15 00:00:00"), 21L, 23L), // same ts: greater tie wins
      (100L, ts("2026-01-25 00:00:00"), 30L, 33L),
      (200L, ts("2026-02-01 00:00:00"), 40L, 44L)
    ).toDF("k", "ets", "eid", "v")

    val got = Temporal.asofJoin(left, right, "k", "k", "ots", "ets",
      "eid", Seq("eid", "v"))
      .select($"order_id", $"eid", $"v")
      .as[(Long, Option[Long], Option[Long])].collect()
      .map { case (id, e, v) => id -> ((e, v)) }.toMap

    assert(got(1L) == (Some(10L), Some(11L)))  // only the 01-01 row precedes
    assert(got(2L) == (Some(21L), Some(23L)))  // latest ≤ 01-20 is 01-15, tie→21
    assert(got(3L) == (None, None))            // nothing at or before
    assert(got(4L) == (Some(21L), Some(23L)))  // equal ts is inclusive

    // a NULL right timestamp matches NOTHING (SQL: r.ts <= l.ts is never
    // true): pre-fix it sorted FIRST and its payload was carried into
    // every left row of the key
    val nullRight = Seq(
      (300L, Option.empty[Timestamp], 90L, 99L)
    ).toDF("k", "ets", "eid", "v")
    val nl = Seq((9L, 300L, ts("2026-01-10 00:00:00"))).toDF("order_id", "k", "ots")
    val ngot = Temporal.asofJoin(nl, nullRight, "k", "k", "ots", "ets",
      "eid", Seq("eid", "v"))
      .select($"eid", $"v").as[(Option[Long], Option[Long])].head()
    assert(ngot == ((None, None)),
      s"null-ts right row must match nothing: $ngot")
  }

  test("asofJoin rejects payload columns that collide with left columns") {
    import spark.implicits._
    def ts(s: String) = Timestamp.valueOf(s)
    val left = Seq((1L, 1L, ts("2026-01-02 00:00:00"))).toDF("oid", "k", "ots")
    val right = Seq((1L, ts("2026-01-01 00:00:00"), 5L)).toDF("k", "ets", "oid")
    val e = intercept[IllegalArgumentException] {
      Temporal.asofJoin(left, right, "k", "k", "ots", "ets", "oid", Seq("oid"))
    }
    assert(e.getMessage.contains("oid"))
  }

  test("asofJoin plans one key shuffle and no join node (linear union form)") {
    import spark.implicits._
    def ts(s: String) = Timestamp.valueOf(s)
    val left = Seq((1L, 1L, ts("2026-01-02 00:00:00"))).toDF("oid", "k", "ots")
    val right = Seq((1L, ts("2026-01-01 00:00:00"), 5L)).toDF("k", "ets", "eid")
    val plan = Temporal.asofJoin(left, right, "k", "k", "ots", "ets",
      "eid", Seq("eid")).queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"as-of must not plan a join:\n$plan")
    assert(plan.contains("Window"), s"expected the running-last window:\n$plan")
  }

  // --- BM25 ---------------------------------------------------------------

  test("bm25TopK ranks exact integer scores; tf and rarity both matter") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark spark spark common common common"),
      (2L, "spark common common common common common"),
      (3L, "rare common common common common common"),
      (4L, "common common common common common common")
    ).toDF("doc_id", "text")
    val got = Retrieval.bm25TopK(docs, "doc_id", "text",
      Seq("spark", "rare"), k = 3)
      .as[(Long, Long, Long)].collect()

    // doc 3 holds the rarest term (df=1) → highest idf wins the top slot;
    // doc 1 beats doc 2 on tf of "spark"
    assert(got.map(_._1).toSeq == Seq(3L, 1L, 2L))
    assert(got.forall(_._3 > 0))
    // equal-length docs, same term, higher tf strictly wins
    val s1 = got.find(_._1 == 1L).get._3
    val s2 = got.find(_._1 == 2L).get._3
    assert(s1 > s2)
  }

  test("bm25TopK never shuffles full text: df and corpus stats broadcast") {
    import spark.implicits._
    val docs = Seq((1L, "spark a"), (2L, "b spark")).toDF("doc_id", "text")
    val plan = Retrieval.bm25TopK(docs, "doc_id", "text", Seq("spark"), 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"),
      s"df/stats sides must broadcast:\n$plan")
  }

  test("bm25TopKMulti: per-query rows match the single-query call") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark spark hash window"),
      (2L, "hash table lookup"),
      (3L, "spark cluster compute engine"),
      (4L, "unrelated words entirely here")).toDF("doc_id", "text")
    val multi = Retrieval
      .bm25TopKMulti(docs, "doc_id", "text",
        Seq((10L, "spark"), (10L, "hash"), (20L, "hash"), (20L, "table")),
        "query_id", k = 3)
      .select($"query_id", $"doc_id", $"n_terms_matched", $"score_ppm")
      .as[(Long, Long, Long, Long)].collect().toSet
    def single(terms: Seq[String]): Set[(Long, Long, Long)] =
      Retrieval.bm25TopK(docs, "doc_id", "text", terms, 3)
        .as[(Long, Long, Long)].collect().toSet
    // each query's block equals the standalone single-query result
    assert(multi.filter(_._1 == 10L).map(t => (t._2, t._3, t._4)) ==
      single(Seq("spark", "hash")))
    assert(multi.filter(_._1 == 20L).map(t => (t._2, t._3, t._4)) ==
      single(Seq("hash", "table")))
  }

  test("bm25TopKMulti over an InSet-sized vocabulary: shared and case-variant terms match the single-query call") {
    import spark.implicits._
    // RDD-backed, not a local Seq: Catalyst folds a projection over a
    // local relation into a new local relation before OptimizeIn runs,
    // so the vocabulary filter would never reach its InSet form
    val docs = spark.sparkContext.parallelize(Seq(
      (1L, "alpha beta gamma delta alpha"),
      (2L, "epsilon zeta eta theta"),
      (3L, "iota kappa lambda mu alpha"),
      (4L, "beta zeta kappa kappa"),
      (5L, "nothing matches here at all"),
      (6L, "gamma eta mu mu mu")), 2).toDF("doc_id", "text")
    val q1 = Seq("alpha", "beta", "gamma", "delta", "Alpha")
    val q2 = Seq("epsilon", "zeta", "eta", "theta", "kappa")
    val q3 = Seq("iota", "kappa", "lambda", "mu")
    val queries = Seq(1L -> q1, 2L -> q2, 3L -> q3)
      .flatMap { case (q, ts) => ts.map((q, _)) }
    // 12 distinct lower-case terms: past Catalyst's 10-element
    // OptimizeIn threshold, the vocabulary filter plans as an InSet
    // (inside the pinned per-doc frame, so the outer plan cannot show it)
    assert(queries.map(_._2.toLowerCase(java.util.Locale.ROOT)).distinct.size == 12)
    val multi = Retrieval
      .bm25TopKMulti(docs, "doc_id", "text", queries, "query_id", k = 4)
      .select($"query_id", $"doc_id", $"n_terms_matched", $"score_ppm")
      .as[(Long, Long, Long, Long)].collect().toSet
    queries.map(_._1).distinct.foreach { q =>
      val single = Retrieval.bm25TopK(docs, "doc_id", "text",
          queries.filter(_._1 == q).map(_._2), 4)
        .as[(Long, Long, Long)].collect().toSet
      assert(single.nonEmpty)
      assert(multi.filter(_._1 == q).map(t => (t._2, t._3, t._4)) == single,
        s"query $q differs from its single-query call")
    }
  }

  test("bm25TopKMulti: keyed WindowGroupLimit, no query-table jobs") {
    import spark.implicits._
    val docs = Seq((1L, "spark hash"), (2L, "hash table")).toDF("doc_id", "text")
    val df = Retrieval.bm25TopKMulti(docs, "doc_id", "text",
      Seq((1L, "spark"), (1L, "hash")), "query_id", k = 2)
    val plan = df.queryExecution.executedPlan.toString
    // the rank window must keep the map-side partial limit and stay
    // KEYED by the real query column even at 1 query (the batch-scale
    // plan shape the r10 verdict asked for)
    assert(plan.contains("WindowGroupLimit"), s"partial limit dropped:\n$plan")
    assert(plan.contains("hashpartitioning(__qid"),
      s"rank window must partition by the query column:\n$plan")
  }

  test("bpeEncodeWord applies ranked merges greedily; bpeTokenCounts sums per doc") {
    import spark.implicits._
    val merges = Seq(("l", "o"), ("lo", "w"), ("e", "r"), ("er", "</w>"))
    val ranks = merges.zipWithIndex.toMap
    // l o w e r </w> → lo … → low e r </w> → low er </w> → low er</w>
    assert(Retrieval.bpeEncodeWord("lower", ranks) == Vector("low", "er</w>"))
    // unranked tail pairs stop the loop: low e s t </w>
    assert(Retrieval.bpeEncodeWord("lowest", ranks) ==
      Vector("low", "e", "s", "t", "</w>"))
    // single char: just itself + marker (merged if ranked)
    assert(Retrieval.bpeEncodeWord("l", ranks) == Vector("l", "</w>"))

    val docs = Seq((1L, "lower lower lowest"), (2L, "lower")).toDF("doc_id", "text")
    val got = Retrieval.bpeTokenCounts(docs, "doc_id", "text", merges)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == ((3L, 2L + 2L + 5L)))
    assert(got(2L) == ((1L, 2L)))
    // the encode loop runs per DISTINCT word: the doc join must broadcast
    val plan = Retrieval.bpeTokenCounts(docs, "doc_id", "text", merges)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"word-token join must broadcast the vocabulary side:\n$plan")
  }

  test("bpeTokenCounts above the vocab-broadcast cap: identical output via plain hash join") {
    import spark.implicits._
    val merges = Seq(("l", "o"), ("lo", "w"), ("e", "r"), ("er", "</w>"))
    val docs = Seq((1L, "lower lower lowest"), (2L, "lower")).toDF("doc_id", "text")
    val broadcastPath = Retrieval.bpeTokenCounts(docs, "doc_id", "text", merges)
      .as[(Long, Long, Long)].collect().toSet
    // cap forced to 1 → the vocabulary "doesn't fit" and the join-back
    // must fall to an unhinted word-keyed join with identical results
    val capped = Retrieval.bpeTokenCounts(docs, "doc_id", "text", merges,
      maxVocabBroadcast = 1)
    assert(capped.as[(Long, Long, Long)].collect().toSet == broadcastPath)
    // with the auto-broadcast thresholds off, only a broadcast HINT could
    // still broadcast — the capped path must shuffle-join instead (at
    // test scale Catalyst may legitimately pick broadcast from stats, so
    // the discriminating assert disables stats-driven broadcast)
    val (a, b) = ("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val (pa, pb) = (spark.conf.get(a), spark.conf.getOption(b))
    try {
      spark.conf.set(a, "-1"); spark.conf.set(b, "-1")
      val plan = Retrieval.bpeTokenCounts(docs, "doc_id", "text", merges,
        maxVocabBroadcast = 1).queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"above the cap the vocabulary must not be broadcast-hinted:\n$plan")
      val hinted = Retrieval.bpeTokenCounts(docs, "doc_id", "text", merges)
        .queryExecution.executedPlan.toString
      assert(hinted.contains("BroadcastHashJoin"),
        s"under the cap the vocabulary side must carry the broadcast hint:\n$hinted")
    } finally {
      spark.conf.set(a, pa); pb.foreach(spark.conf.set(b, _))
    }
  }

  test("bpeTrain learns Sennrich's worked example and feeds bpeTokenCounts") {
    import spark.implicits._
    // Sennrich et al. 2016 §3.2 vocabulary: low×5, lower×2, newest×6,
    // widest×3 — the learned merges must be (e,s), (es,t), (est,</w>),
    // (l,o), (lo,w) with the paper's counts (ties broken by the "a b"
    // string, which picks the paper's order)
    val docs = Seq(
      (1L, Seq.fill(5)("low").mkString(" ")),
      (2L, Seq.fill(2)("lower").mkString(" ")),
      (3L, Seq.fill(6)("newest").mkString(" ")),
      (4L, Seq.fill(3)("widest").mkString(" "))).toDF("doc_id", "text")
    val learned = Retrieval.bpeTrain(docs, "text", nMerges = 5)
    assert(learned == Seq(
      ("e", "s", 9L), ("es", "t", 9L), ("est", "</w>", 9L),
      ("l", "o", 7L), ("lo", "w", 7L)))
    // end to end: the learned table drives the per-doc token counter
    val counts = Retrieval
      .bpeTokenCounts(docs, "doc_id", "text", learned.map(m => (m._1, m._2)))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    // low → [low, </w>] = 2; lower → [low, e, r, </w>] = 4;
    // newest → [n, e, w, est</w>] = 4; widest → [w, i, d, est</w>] = 4
    assert(counts == Map(1L -> 10L, 2L -> 8L, 3L -> 24L, 4L -> 12L))
  }

  test("bpeTrain driver tail ≡ the distributed merge loop") {
    import spark.implicits._
    // richer fixture than the worked example: count ties that must break
    // on the "a b" string, repeated pairs inside words, multi-char tails
    val docs = Seq(
      (1L, "banana bandana banana"), (2L, "abba abab baab"),
      (3L, "low lower lowest"), (4L, "zz zzz zzzz aa")).toDF("doc_id", "text")
    val viaDriver = Retrieval.bpeTrain(docs, "text", nMerges = 12)
    // driverTailRows = 0 forces the per-iteration Spark loop
    val viaSpark = Retrieval.bpeTrain(docs, "text", nMerges = 12,
      driverTailRows = 0)
    assert(viaDriver == viaSpark,
      s"driver tail diverged:\n  driver = $viaDriver\n  spark  = $viaSpark")
    // merge exhaustion stops both paths at the same table length
    val small = Seq((1L, "ab ab")).toDF("doc_id", "text")
    assert(Retrieval.bpeTrain(small, "text", nMerges = 50) ==
      Retrieval.bpeTrain(small, "text", nMerges = 50, driverTailRows = 0))
  }

  test("bpeTokenCounts tokenizes the corpus for its vocab exactly once (pinned words frame)") {
    import spark.implicits._
    val merges = Seq(("l", "o"), ("lo", "w"))
    val docs = Seq((1L, "lower low"), (2L, "lower")).toDF("doc_id", "text")
    val out = Retrieval.bpeTokenCounts(docs, "doc_id", "text", merges)
    out.collect() // materialize so the lazy checkpoint resolves
    // the distinct-word frame is checkpointed before the broadcast-cap
    // probe, so the word side of the final plan must read the stored
    // blocks (Scan ExistingRDD), leaving exactly ONE corpus tokenize
    // (the doc-side explode) in the whole plan — pre-pin the vocab
    // lineage re-ran tokenize+distinct a second time
    // AQE's toString repeats the pre-adaptive plan under "== Initial
    // Plan ==" — count nodes only in the final executed section
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("Scan ExistingRDD"),
      s"vocab side must read the pinned words frame:\n$plan")
    val explodes = "(?i)generate explode".r.findAllIn(plan).size
    assert(explodes == 1,
      s"expected exactly one corpus tokenize in the plan, found $explodes:\n$plan")
  }

  // --- BPE pair counts ----------------------------------------------------

  test("bpePairCounts counts weighted adjacent symbol pairs with </w> marker") {
    import spark.implicits._
    // "ab ab ab" + "cd ab" → vocab {ab:4, cd:1}
    val docs = Seq((1L, "ab ab ab"), (2L, "cd ab")).toDF("doc_id", "text")
    val got = Retrieval.bpePairCounts(docs, "text", topK = 10)
      .as[(String, Long)].collect().toMap
    assert(got("a b") == 4L)      // 3 + 1 occurrences of "ab"
    assert(got("b </w>") == 4L)
    assert(got("c d") == 1L)
    assert(got("d </w>") == 1L)
    // repeated letters inside one word count per position
    val got2 = Retrieval.bpePairCounts(
      Seq((1L, "aaa")).toDF("doc_id", "text"), "text", 10)
      .as[(String, Long)].collect().toMap
    assert(got2("a a") == 2L)
  }

  // --- shard plan -----------------------------------------------------------

  test("shardAssign is deterministic, balanced, and a pure column expression") {
    import spark.implicits._
    val docs = (0L until 4000L).toDF("doc_id")
    val a = Curation.shardAssign(docs, "doc_id", 8, "shard:")
    val counts = a.groupBy($"shard_id").count().as[(Long, Long)].collect().toMap
    assert(counts.keySet == (0L until 8L).toSet)
    // md5-uniform: each shard within ±30% of the mean
    assert(counts.values.forall(c => c > 350 && c < 650), counts.toString)
    // same salt → identical assignment; different salt → a different one
    val b = Curation.shardAssign(docs, "doc_id", 8, "shard:")
    assert(a.exceptAll(b).isEmpty)
    val c = Curation.shardAssign(docs, "doc_id", 8, "other:")
    assert(a.join(c, Seq("doc_id"))
      .filter(a("shard_id") =!= c("shard_id")).count() > 0)
  }

  test("rangeJoin: [start, end) containment, key isolation, multi-bucket intervals, pair uniqueness") {
    import spark.implicits._
    // bucketMs = 10: intervals spanning 1–4 buckets, boundary points on
    // both edges, a second key that must not cross-match
    val events = Seq(
      (1L, "a", 10L), (2L, "a", 19L), (3L, "a", 20L), (4L, "a", 35L),
      (5L, "a", 9L), (6L, "b", 15L)).toDF("event_id", "k", "ms")
    val intervals = Seq(
      (100L, "a", 10L, 20L),  // covers ms 10..19 (2 buckets)
      (101L, "a", 12L, 13L),  // single-point window inside one bucket
      (102L, "a", 5L, 36L),   // spans 4 buckets
      (103L, "b", 0L, 50L)).toDF("iid", "k", "t0", "t1")
    val got = graft.operators.Temporal
      .rangeJoin(events, "ms", intervals, "t0", "t1", Seq("k"), bucketMs = 10L)
      .select($"iid", $"event_id").as[(Long, Long)].collect().toSeq
    // exactly once per qualifying pair, start inclusive / end exclusive
    val expected = Seq(
      100L -> 1L, 100L -> 2L,            // ms 20 excluded (end-exclusive)
      102L -> 5L, 102L -> 1L, 102L -> 2L, 102L -> 3L, 102L -> 4L,
      103L -> 6L)                        // key b sees only its own event
    assert(got.sorted == expected.sorted, s"got ${got.sorted}")
    assert(got.size == got.distinct.size, "a qualifying pair appeared twice")
    // equivalence with the direct non-equi join on the same frames
    val naive = events.join(intervals, Seq("k"))
      .filter($"ms" >= $"t0" && $"ms" < $"t1")
      .select($"iid", $"event_id").as[(Long, Long)].collect().toSeq
    assert(got.sorted == naive.sorted, "bucketization changed the result")
  }

  test("rangeJoin ≡ naive non-equi join on a seeded random fixture, at several bucket widths") {
    import spark.implicits._
    // 400 points, 120 intervals across 6 keys; interval lengths from
    // sub-bucket to many-bucket so every explode cardinality is hit
    val rnd = new scala.util.Random(7)
    val events = (0 until 400)
      .map(i => (i.toLong, s"k${rnd.nextInt(6)}", rnd.nextInt(10000).toLong))
      .toDF("event_id", "k", "ms")
    val intervals = (0 until 120).map { i =>
      val s = rnd.nextInt(10000).toLong
      (1000L + i, s"k${rnd.nextInt(6)}", s, s + 1 + rnd.nextInt(800))
    }.toDF("iid", "k", "t0", "t1")
    val naive = events.join(intervals, Seq("k"))
      .filter($"ms" >= $"t0" && $"ms" < $"t1")
      .select($"iid", $"event_id").as[(Long, Long)].collect().toSeq.sorted
    Seq(7L, 100L, 1024L, 20000L).foreach { b =>
      val got = graft.operators.Temporal
        .rangeJoin(events, "ms", intervals, "t0", "t1", Seq("k"), bucketMs = b)
        .select($"iid", $"event_id").as[(Long, Long)].collect().toSeq
      assert(got.size == got.distinct.size, s"bucketMs=$b produced a duplicate pair")
      assert(got.sorted == naive, s"bucketMs=$b diverged from the naive join")
    }
  }

  test("rangeJoin drops inverted/empty intervals before the explode") {
    import spark.implicits._
    val events = Seq((1L, "a", 15L)).toDF("event_id", "k", "ms")
    // an inverted interval (end far below start) would, unguarded, make
    // sequence() auto-step -1 and explode ~10^8 descending bucket rows
    // (or trip Spark's sequence length cap) before the exact filter threw
    // them away; the guard must drop it up front with no output change
    val intervals = Seq(
      (100L, "a", 10L, 20L),           // sane: matches ms=15
      (101L, "a", 999999999L, 1L),     // inverted: must not explode
      (102L, "a", 15L, 15L)            // empty [15, 15): matches nothing
    ).toDF("iid", "k", "t0", "t1")
    val got = graft.operators.Temporal
      .rangeJoin(events, "ms", intervals, "t0", "t1", Seq("k"), bucketMs = 10L)
      .select($"iid", $"event_id").as[(Long, Long)].collect().toSeq
    assert(got == Seq(100L -> 1L), s"got $got")
  }

  test("rangeJoin salted ≡ unsalted on a hot-bucket fixture") {
    import spark.implicits._
    // one hot (key, bucket): 500 points in a single bucket covered by a
    // handful of intervals, plus off-bucket noise — the skew shape
    // saltBuckets exists for; output must be identical at every width
    val rnd = new scala.util.Random(11)
    val hot = (0 until 500).map(i => (i.toLong, "hot", 100L + rnd.nextInt(10)))
    val cold = (500 until 600).map(i => (i.toLong, s"k${i % 3}", rnd.nextInt(5000).toLong))
    val events = (hot ++ cold).toDF("event_id", "k", "ms")
    val intervals = (Seq(
      (1000L, "hot", 95L, 120L), (1001L, "hot", 100L, 105L),
      (1002L, "hot", 0L, 5000L)) ++
      (1003 until 1020).map(i => (i.toLong, s"k${i % 3}", (i * 17 % 4000).toLong, (i * 17 % 4000) + 300L))
    ).toDF("iid", "k", "t0", "t1")
    val base = graft.operators.Temporal
      .rangeJoin(events, "ms", intervals, "t0", "t1", Seq("k"), bucketMs = 16L)
      .select($"iid", $"event_id").as[(Long, Long)].collect().toSeq.sorted
    Seq(2, 8, 32).foreach { s =>
      val salted = graft.operators.Temporal
        .rangeJoin(events, "ms", intervals, "t0", "t1", Seq("k"),
          bucketMs = 16L, saltBuckets = s)
        .select($"iid", $"event_id").as[(Long, Long)].collect().toSeq.sorted
      assert(salted == base, s"saltBuckets=$s changed the join result")
      assert(salted.size == salted.distinct.size,
        s"saltBuckets=$s produced a duplicate pair")
    }
    // the salted plan keys its join on (k, bucket, salt)
    val p = graft.operators.Temporal
      .rangeJoin(events, "ms", intervals, "t0", "t1", Seq("k"),
        bucketMs = 16L, saltBuckets = 8)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("__salt"), s"salted join must key on the salt:\n$p")
  }

  test("fertility: garbled doc ranks worst; clean text scores low; short docs drop") {
    import spark.implicits._
    import graft.operators.Retrieval
    val merges = Seq(("t", "h"), ("th", "e"), ("e", "r"), ("i", "n"),
      ("the", "</w>"), ("er", "</w>"), ("in", "g"))
    val docs = Seq(
      (1L, "the the the the the the"),         // fully mergeable: 2 tokens/word
      (2L, "zxqvw kjfhg pqmzn xxyzw vvbnm"),   // garbled: ~6 tokens/word
      (3L, "in in in in in"),                  // mergeable: 3 tokens/word
      (4L, "zz qq"))                           // under minWords → dropped
      .toDF("doc_id", "text")
    val out = Retrieval.fertilityOutliers(docs, "doc_id", "text", merges,
        k = 10, minWords = 5L)
      .select($"doc_id", $"fertility_ppm").as[(Long, Long)].collect().toSeq
    assert(out.map(_._1) == Seq(2L, 3L, 1L),
      s"garbled doc must rank worst, got $out")
    // hand-check the exact integer ratios: "the" merges all the way to
    // the single [the</w>] symbol (t+h, th+e, the+</w>) → 1 token/word;
    // "in" stops at [in, </w>] (no in+</w> merge) → 2 tokens/word
    val byId = out.toMap
    assert(byId(1L) == 1000000L, s"'the' docs must sit at 1 token/word, got ${byId(1L)}")
    assert(byId(3L) == 2000000L, s"'in' docs must sit at 2 tokens/word, got ${byId(3L)}")
    assert(byId(2L) == 6000000L, s"5-char garbage + </w> = 6 tokens/word, got ${byId(2L)}")
    assert(!byId.contains(4L), "doc under minWords must drop")
  }

  test("rrfFuse: hand-computed integer fusion; one-run docs score; queries independent") {
    import spark.implicits._
    import graft.operators.Retrieval
    // query 1: doc 10 tops both runs, doc 20 lexical-only, doc 30
    // dense-only; query 2 exists only in the lexical run — its ranking
    // must not see query 1's candidates
    val lex = Seq((1L, 10L, 1), (1L, 20L, 2), (2L, 99L, 1))
      .toDF("query_id", "doc_id", "rank")
    val dense = Seq((1L, 10L, 1), (1L, 30L, 2))
      .toDF("query_id", "doc_id", "rank")
    val got = Retrieval.rrfFuse(Seq(lex, dense), "query_id", "doc_id", "rank",
        k = 10, c = 60)
      .select($"query_id", $"doc_id", $"n_runs", $"rrf_ppm", $"rank")
      .as[(Long, Long, Long, Long, Int)].collect().toSet
    // 1000000 div 61 = 16393, div 62 = 16129
    assert(got == Set(
      (1L, 10L, 2L, 32786L, 1),   // both runs at rank 1: 2 × 16393
      (1L, 20L, 1L, 16129L, 2),   // lexical only, rank 2
      (1L, 30L, 1L, 16129L, 3),   // dense only, rank 2 — id breaks the tie
      (2L, 99L, 1L, 16393L, 1)),
      s"unexpected fusion: $got")
    // k cuts per query, not globally
    val cut = Retrieval.rrfFuse(Seq(lex, dense), "query_id", "doc_id", "rank",
        k = 1, c = 60)
      .select($"query_id", $"doc_id").as[(Long, Long)].collect().toSet
    assert(cut == Set((1L, 10L), (2L, 99L)))
    // out-of-contract ranks (< 1) drop instead of null-dividing at −c
    val dirty = Seq((1L, 77L, 0), (1L, 78L, -60)).toDF("query_id", "doc_id", "rank")
    val hardened = Retrieval.rrfFuse(Seq(lex, dense, dirty), "query_id",
        "doc_id", "rank", k = 10, c = 60)
      .select($"doc_id").as[Long].collect().toSet
    assert(!hardened.contains(77L) && !hardened.contains(78L),
      s"rank<1 rows must drop, got $hardened")
  }
}
