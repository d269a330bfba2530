package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators.{Curation, Dedup}

class CurationSpec extends SparkTestBase {

  // --- contamination ---------------------------------------------------

  test("ngram contamination flags coverage of benchmark docs and broadcasts the bench side") {
    import spark.implicits._
    val train = Seq(
      (1L, "a b c d e f g h"),      // covers all of bench 10's grams
      (2L, "a b c d e x y z"),      // covers 1 of 4 grams of bench 10
      (3L, "q r s t u v w")         // disjoint
    ).toDF("doc_id", "text")
    val bench = Seq((10L, "a b c d e f g h")).toDF("doc_id", "text")

    val hits = Curation.ngramContamination(train, bench, "doc_id", "text",
      n = 5, threshold = 0.5).collect()
    assert(hits.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 10L)))
    assert(hits.head.getDouble(2) == 1.0)

    val plan = Curation.ngramContamination(train, bench, "doc_id", "text", 5, 0.5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"bench side must broadcast, got:\n$plan")
  }

  // --- stratified sampling ---------------------------------------------

  test("stratified sampling is deterministic and respects per-stratum rates") {
    import spark.implicits._
    val rows = (0L until 2000L).map(i => (i, if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "lang")
    val keep = Curation.sampleKeep($"doc_id".cast("string"), $"lang",
      Map("en" -> 0.25, "zh" -> 0.0), defaultRate = 1.0, salt = "smp:")
    val kept = rows.filter(keep).groupBy($"lang").count().as[(String, Long)]
      .collect().toMap
    assert(kept("de") == 1000L)                 // default rate keeps all
    assert(kept("en") > 150 && kept("en") < 350) // ~250 of 1000
    // reproducible: same expression, same result
    val again = rows.filter(keep).count()
    assert(again == kept.values.sum)
  }

  // --- packing ----------------------------------------------------------

  test("packBatches fills contiguous token budgets per stratum") {
    import spark.implicits._
    val rows = Seq(
      ("en", 1L, 1000L), ("en", 2L, 1000L), ("en", 3L, 100L), ("en", 4L, 2000L),
      ("de", 1L, 2049L), ("de", 2L, 1L)
    ).toDF("lang", "doc_id", "n_tokens")
    val got = Curation.packBatches(rows, "lang", "doc_id", "n_tokens", 2048L)
      .select($"lang", $"doc_id", $"batch_id").as[(String, Long, Long)]
      .collect().toSet
    assert(got == Set(
      ("en", 1L, 0L), ("en", 2L, 0L),  // offsets 0, 1000
      ("en", 3L, 0L),                  // offset 2000 < 2048
      ("en", 4L, 1L),                  // offset 2100 -> batch 1
      ("de", 1L, 0L), ("de", 2L, 1L))) // 2049 overflows de batch 0
  }

  test("packBatchesSplitting chops boundary-crossing docs so interior batches are full") {
    import spark.implicits._
    // budget 10: doc 2 (7 tokens) crosses the first boundary at offset 6
    val rows = Seq(("en", 1L, 6L), ("en", 2L, 7L), ("en", 3L, 2L), ("de", 9L, 25L))
      .toDF("lang", "doc_id", "n_tokens")
    val got = Curation.packBatchesSplitting(rows, "lang", "doc_id", "n_tokens", 10L)
      .select($"lang", $"doc_id", $"batch_id", $"tokens_in_batch")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == Set(
      ("en", 1L, 0L, 6L),
      ("en", 2L, 0L, 4L), ("en", 2L, 1L, 3L), // split 7 = 4 + 3
      ("en", 3L, 1L, 2L),
      ("de", 9L, 0L, 10L), ("de", 9L, 1L, 10L), ("de", 9L, 2L, 5L))) // 25 = 10+10+5
    // invariant: every batch except each stratum's last holds exactly budget
    val perBatch = Curation.packBatchesSplitting(rows, "lang", "doc_id", "n_tokens", 10L)
      .groupBy($"lang", $"batch_id").agg(sum($"tokens_in_batch").as("t"))
      .as[(String, Long, Long)].collect()
    val lastBatch = perBatch.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    assert(perBatch.forall { case (l, b, t) => t == 10L || b == lastBatch(l) })
  }

  // --- sessionization ---------------------------------------------------

  test("packBatchesSharded: exact cross-shard offsets reproduce the reference fill") {
    import spark.implicits._
    val rows = (0L until 40L).map(i => (i, if (i % 2 == 0) "en" else "fr", 10L + i % 7))
      .toDF("doc_id", "lang", "n_tokens")
    val got = Curation
      .packBatchesSharded(rows, "lang", "doc_id", "n_tokens", budget = 64L,
        nShards = 3, salt = "s:")
      .select($"doc_id", $"shard_id", $"batch_id")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // independent reference computation: md5 shard, order by (shard, id),
    // running offset per stratum across shard boundaries, batch = off/64
    val md = java.security.MessageDigest.getInstance("MD5")
    def shard(id: Long): Long = {
      val hex = md.digest(s"s:$id".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(6)
      java.lang.Long.parseLong(hex, 16) % 3
    }
    val input = (0L until 40L).map(i => (i, if (i % 2 == 0) "en" else "fr", 10L + i % 7))
    val expected = input.groupBy(_._2).flatMap { case (_, rs) =>
      var off = 0L
      rs.map { case (id, _, n) => (id, shard(id), n) }
        .sortBy { case (id, sh, _) => (sh, id) }
        .map { case (id, sh, n) =>
          val b = off / 64L; off += n; id -> ((sh, b))
        }
    }
    assert(got == expected)
  }

  test("sessionize splits on inactivity gaps per user") {
    import spark.implicits._
    def ts(s: Long) = new Timestamp(s * 1000)
    val ev = Seq(
      (1L, ts(0), 100L), (1L, ts(10), 101L), (1L, ts(4000), 102L),
      (2L, ts(0), 200L)
    ).toDF("user_id", "ts", "event_id")
    val got = Curation.sessionize(ev, "user_id", "ts", "event_id", gapMillis = 3600000L)
      .select($"user_id", $"event_id", $"session_id").as[(Long, Long, Long)]
      .collect().toSet
    // session_id = session start epoch ms (same contract as streaming)
    assert(got == Set(
      (1L, 100L, 0L), (1L, 101L, 0L), (1L, 102L, 4000000L), (2L, 200L, 0L)))
    // a NULL-timestamp event DROPS and changes nothing else: engines
    // disagree on null sort position, so it previously either seeded a
    // phantom session_id = NULL group (Spark, nulls-first) or silently
    // attached to the user's last session (nulls-last replay)
    val withNull = ev.unionByName(
      Seq((1L, null.asInstanceOf[Timestamp], 103L)).toDF("user_id", "ts", "event_id"))
    val gotN = Curation.sessionize(withNull, "user_id", "ts", "event_id",
        gapMillis = 3600000L)
      .select($"user_id", $"event_id", $"session_id").as[(Long, Long, Long)]
      .collect().toSet
    assert(gotN == got, s"null-ts event must drop, not sessionize: $gotN")
  }

  // --- bucketPairs (shared LSH pair kernel) ------------------------------

  test("bucketPairs emits each unordered co-bucket pair exactly once per bucket") {
    import spark.implicits._
    val buckets = Seq((1, "a"), (2, "a"), (3, "a"), (4, "b"), (5, "b"), (6, "c"))
      .toDF("id", "k")
    val got = Dedup.bucketPairs(buckets, Seq("k"), "id")
      .select($"x.pid", $"y.pid").as[(Int, Int)].collect().toSeq
    assert(got.sorted == Seq((1, 2), (1, 3), (2, 3), (4, 5)))
    assert(got.forall { case (a, b) => a < b })
  }

  test("bucketPairs hot-bucket cap drops oversized buckets before materializing them") {
    import spark.implicits._
    val buckets = Seq((1, "hot"), (2, "hot"), (3, "hot"), (4, "hot"),
      (5, "cold"), (6, "cold")).toDF("id", "k")
    val got = Dedup.bucketPairs(buckets, Seq("k"), "id", maxBucket = Some(3))
      .select($"x.pid", $"y.pid").as[(Int, Int)].collect().toSeq
    // the 4-item "hot" bucket (boilerplate analog) contributes nothing;
    // the 2-item bucket is untouched
    assert(got.sorted == Seq((5, 6)))
  }

  test("approx_percentile tracks the exact quantiles (the stated 100 TB path)") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(size(split(trim($"text"), "\\s+")).cast("long").as("n"))
    val row = docs.agg(
      expr("percentile(n, 0.9)").as("exact"),
      expr("percentile_approx(n, 0.9, 10000)").cast("double").as("approx")).head()
    val (exact, approx) = (row.getDouble(0), row.getDouble(1))
    assert(math.abs(approx - exact) / exact < 0.02,
      s"approx p90 $approx drifted from exact $exact")
  }

  test("bucketPairs maxBucket drops degenerate hot buckets before pairing") {
    import spark.implicits._
    val buckets = ((1 to 50).map(i => (i, "hot")) ++ Seq((60, "ok"), (61, "ok")))
      .toDF("id", "k")
    val got = Dedup.bucketPairs(buckets, Seq("k"), "id", maxBucket = Some(10))
      .select($"x.pid", $"y.pid").as[(Int, Int)].collect().toSeq
    assert(got == Seq((60, 61)))
  }

  // --- connected components ---------------------------------------------

  test("connectedComponents propagates min labels through chained pairs") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3, needs >1 round), pair 8-9, isolated 5-6
    val pairs = Seq((2L, 3L), (1L, 2L), (3L, 4L), (8L, 9L), (5L, 6L))
      .toDF("d1", "d2")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (8L, 8L), (9L, 8L), (5L, 5L), (6L, 5L)))
  }

  // --- boilerplate removal ----------------------------------------------

  test("stripBoilerplate drops near-universal tokens and preserves order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat"), (2L, "the dog ran"), (3L, "the end"),
      (4L, "the the the")).toDF("doc_id", "text")
    // 'the' is in 4/4 docs; threshold 0.5 -> minDf = 2, so only 'the' drops
    val got = Curation.stripBoilerplate(docs, "doc_id", "text", dfRatio = 0.5)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(got == Set(
      (1L, 3L, 2L, "cat sat"), (2L, 3L, 2L, "dog ran"),
      (3L, 2L, 1L, "end"), (4L, 3L, 0L, "")))
  }

  test("stripBoilerplate: empty docs don't inflate the corpus count") {
    import spark.implicits._
    // 'the' is in 3/5 docs. With the empty docs wrongly counted the corpus
    // marker would read 5 anyway — but splitting "" yields [""], which used
    // to ALSO count toward n via the un-filtered token path. Verify the df
    // threshold still fires on the true corpus size: ratio 0.55 → minDf
    // floor(0.55*5)=2, 'the' (df=3) must drop.
    val docs = Seq(
      (1L, "the cat"), (2L, "the dog"), (3L, "the end"),
      (4L, ""), (5L, "   ")).toDF("doc_id", "text")
    val got = Curation.stripBoilerplate(docs, "doc_id", "text", dfRatio = 0.55)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got(1L) == ((2L, 1L, "cat")))
    assert(got(3L) == ((2L, 1L, "end")))
  }

  test("stripBoilerplate: oversized stoplist takes the anti-join path with identical results") {
    import spark.implicits._
    // adversarially low dfRatio: EVERY token qualifies for the stoplist
    // (df >= 1 > floor(0)), so the literal path would collect the whole
    // vocabulary. With maxStoplistLiteral = 2 the probe overflows and the
    // broadcast anti-join path must produce the same rows the (unbounded)
    // literal path would.
    val docs = Seq(
      (1L, "alpha beta gamma"), (2L, "beta delta"), (3L, "gamma epsilon zeta eta"),
      (4L, "")).toDF("doc_id", "text")
    val viaJoin = Curation
      .stripBoilerplate(docs, "doc_id", "text", dfRatio = 0.0, maxStoplistLiteral = 2)
      .as[(Long, Long, Long, String)].collect().toSet
    val viaLiteral = Curation
      .stripBoilerplate(docs, "doc_id", "text", dfRatio = 0.0)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(viaJoin == viaLiteral)
    // every real token stripped; the empty doc has ZERO tokens (phantom
    // [""] pseudo-tokens are not tokens — hostile-DOCS lockstep rule)
    assert(viaJoin == Set(
      (1L, 3L, 0L, ""), (2L, 2L, 0L, ""), (3L, 4L, 0L, ""), (4L, 0L, 0L, "")))
    // partial strip through the join path: only 'the' is near-universal
    val docs2 = Seq(
      (1L, "the cat sat"), (2L, "the dog ran"), (3L, "the end")).toDF("doc_id", "text")
    val got2 = Curation
      .stripBoilerplate(docs2, "doc_id", "text", dfRatio = 0.5, maxStoplistLiteral = 0)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(got2 == Set(
      (1L, 3L, 2L, "cat sat"), (2L, 3L, 2L, "dog ran"), (3L, 2L, 1L, "end")))
  }

  test("substringDupWindows marks overlapping shared spans, first occurrence wins") {
    import spark.implicits._
    import graft.operators.Dedup
    // doc 1 and doc 2 share the 6-token span "a b c d e f"; with w = 4
    // that span holds 3 interior windows, all duplicated in doc 2. Doc 2's
    // windows straddling into its own suffix differ. Doc 3 repeats a
    // window WITHIN itself ("x y z w x y z w" has 'x y z w' at idx 0 and
    // 4, plus straddlers), doc 4 is too short to have any window.
    val docs = Seq(
      (1L, "a b c d e f tail1"),
      (2L, "a b c d e f other"),
      (3L, "x y z w x y z w"),
      (4L, "too short")).toDF("doc_id", "text")
    val got = Dedup.substringDupWindows(docs, "doc_id", "text", w = 4)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // doc1: 4 windows, all first occurrences
    assert(got(1L) == ((4L, 0L)))
    // doc2: 4 windows; the 3 inside "a b c d e f" duplicate doc1's
    assert(got(2L) == ((4L, 3L)))
    // doc3: 5 windows; idx4 "x y z w" duplicates idx0 (within-doc dedup)
    assert(got(3L) == ((5L, 1L)))
    assert(!got.contains(4L))
  }

  test("substringDupWindows selectMod: sampled windows agree with the exhaustive pass") {
    import spark.implicits._
    import graft.operators.Dedup
    // a long shared span so content-defined sampling must still catch it
    val span = (1 to 60).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, span + " unique-tail-one"),
      (2L, span + " unique-tail-two"),
      (3L, "completely different words " + (1 to 40).map(i => s"zz$i").mkString(" ")))
      .toDF("doc_id", "text")
    val exhaustive = Dedup.substringDupWindows(docs, "doc_id", "text", w = 8)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val sampled = Dedup.substringDupWindows(docs, "doc_id", "text", w = 8, selectMod = 4)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // sampling keeps ~1/4 of windows and still flags doc 2's copy of the
    // 60-token span (53 shared windows → miss probability (3/4)^53 ≈ 0)
    assert(sampled(1L)._2 < exhaustive(1L)._2)
    assert(sampled(2L)._3 > 0L, "sampled pass must still catch the long shared span")
    // content-defined selection: doc1 and doc2 select the SAME span
    // windows, so doc2's dup count equals its selected-span window count
    // minus straddlers — bounded by doc1's selected windows
    assert(sampled(2L)._3 <= sampled(1L)._2)
    // doc3 shares nothing in either pass
    assert(exhaustive(3L)._3 == 0L && sampled.get(3L).forall(_._3 == 0L))
  }

  // --- k-means IVF training ---------------------------------------------

  test("kmeansLabels separates well-formed clusters deterministically") {
    import spark.implicits._
    // two tight clusters on orthogonal axes + ids chosen so the two
    // lowest-id seeds land one in each cluster
    val vecs = Seq(
      (0L, Seq(1.0, 0.0, 0.1)), (2L, Seq(0.9, 0.1, 0.0)), (4L, Seq(1.0, 0.1, 0.1)),
      (1L, Seq(0.0, 1.0, 0.1)), (3L, Seq(0.1, 0.9, 0.0)), (5L, Seq(0.0, 1.0, 0.0))
    ).toDF("vec_id", "v")
    val got = graft.operators.Similarity.kmeansLabels(vecs, k = 2, iters = 2)
      .select($"vec_id", $"cluster").as[(Long, Int)].collect().toMap
    assert(got(0L) == got(2L) && got(2L) == got(4L))
    assert(got(1L) == got(3L) && got(3L) == got(5L))
    assert(got(0L) != got(1L))
    // rerun is bit-identical (no RNG, no order dependence)
    val again = graft.operators.Similarity.kmeansLabels(vecs, k = 2, iters = 2)
      .select($"vec_id", $"cluster").as[(Long, Int)].collect().toMap
    assert(again == got)
  }

  test("kmeansLabels plan depth is constant in the iteration count") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Seq(1.0, 0.0, 0.1)), (2L, Seq(0.9, 0.1, 0.0)), (4L, Seq(1.0, 0.1, 0.1)),
      (1L, Seq(0.0, 1.0, 0.1)), (3L, Seq(0.1, 0.9, 0.0)), (5L, Seq(0.0, 1.0, 0.0))
    ).toDF("vec_id", "v")
    def depth(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int =
      1 + (if (p.children.isEmpty) 0 else p.children.map(depth).max)
    // per-iteration centroid checkpoints truncate lineage: without them
    // the iters=8 plan would embed 4× the crossJoin+window+agg rounds
    val d2 = depth(graft.operators.Similarity.kmeansLabels(vecs, k = 2, iters = 2)
      .queryExecution.analyzed)
    val d8 = depth(graft.operators.Similarity.kmeansLabels(vecs, k = 2, iters = 8)
      .queryExecution.analyzed)
    assert(d2 == d8, s"k-means lineage grew with iters: depth(2)=$d2 depth(8)=$d8")
    // and more rounds still converge to the same labels
    val got8 = graft.operators.Similarity.kmeansLabels(vecs, k = 2, iters = 8)
      .select($"vec_id", $"cluster").as[(Long, Int)].collect().toMap
    val got2 = graft.operators.Similarity.kmeansLabels(vecs, k = 2, iters = 2)
      .select($"vec_id", $"cluster").as[(Long, Int)].collect().toMap
    assert(got8 == got2)
  }

  test("kmeansFit/assignClusters split: sample-fit labels full corpus in one pass") {
    import spark.implicits._
    import graft.operators.Similarity
    val vecs = Seq(
      (0L, Seq(1.0, 0.0, 0.1)), (2L, Seq(0.9, 0.1, 0.0)), (4L, Seq(1.0, 0.1, 0.1)),
      (1L, Seq(0.0, 1.0, 0.1)), (3L, Seq(0.1, 0.9, 0.0)), (5L, Seq(0.0, 1.0, 0.0))
    ).toDF("vec_id", "v")
    // combined path ≡ fit-on-full + one assignment (the oracle-gated form)
    val combined = Similarity.kmeansLabels(vecs, k = 2, iters = 3)
      .select($"vec_id", $"cluster").as[(Long, Int)].collect().toMap
    val split = Similarity
      .assignClusters(vecs, Similarity.kmeansFit(vecs, k = 2, iters = 3))
      .select($"vec_id", $"cluster").as[(Long, Int)].collect().toMap
    assert(split == combined)
    // fit on a bounded sample, assign the full table: full corpus still
    // clusters correctly even though training never saw most rows
    val sample = vecs.filter($"vec_id" < 2)
    val viaSample = Similarity
      .assignClusters(vecs, Similarity.kmeansFit(sample, k = 2, iters = 4))
      .select($"vec_id", $"cluster").as[(Long, Int)].collect().toMap
    assert(viaSample(0L) == viaSample(2L) && viaSample(2L) == viaSample(4L))
    assert(viaSample(1L) == viaSample(3L) && viaSample(3L) == viaSample(5L))
    assert(viaSample(0L) != viaSample(1L))
    // the assignment scans the full input exactly ONCE no matter how many
    // rounds trained the centroids: the fit side ends at a checkpoint
    // leaf, so the assign plan holds a single scan of `vecs`
    def fullScans(iters: Int): Int = {
      val plan = Similarity
        .assignClusters(vecs, Similarity.kmeansFit(sample, k = 2, iters = iters))
        .queryExecution.executedPlan.toString
      "LocalTableScan".r.findAllIn(plan).length
    }
    assert(fullScans(1) == 1, "assign must hold exactly one scan of the corpus")
    assert(fullScans(4) == fullScans(1),
      "training rounds must not add corpus scans to the assignment plan")
  }

  test("native CosineArgmax ≡ the portable HOF argmax (ties, zero vector, many centroids)") {
    import spark.implicits._
    import graft.operators.Similarity
    // 31 centroids (non-contiguous ids must be honored), 300 vectors
    // spread around the circle — many repeated directions, so exact ties
    // between vectors sharing a direction must go the same way on both
    // paths (first strict maximum in ascending cluster order)
    val cents = (0 until 31)
      .map(c => (c * 2, Seq(math.cos(c / 31.0 * math.Pi), math.sin(c / 31.0 * math.Pi))))
      .toDF("cluster", "c")
    val vecs = (0L until 300L)
      .map(i => (i, Seq(math.cos(i % 97 / 97.0 * math.Pi), math.sin(i % 97 / 97.0 * math.Pi))))
      .toDF("vec_id", "v")
    val native = Similarity.assignClusters(vecs, cents)
      .select($"vec_id", $"cluster").as[(Long, Int)].collect().toMap
    val hof = Similarity.assignClustersHof(vecs, cents)
      .select($"vec_id", $"cluster").as[(Long, Int)].collect().toMap
    assert(native == hof, "native and HOF argmax diverged")
    // out-of-contract zero-norm vector: a bare `/` raises ANSI
    // DIVIDE_BY_ZERO (killing the stage); with ANSI off it yields NaN,
    // which nan-safe compare hands to the FIRST centroid. The HOF path
    // must survive (try_divide) AND agree with native on -1.
    val zeroVec = Seq((900L, Seq(0.0, 0.0))).toDF("vec_id", "v")
    val zero = Similarity.assignClusters(zeroVec, cents)
      .select($"cluster").as[Int].head()
    assert(zero == -1, "a zero-norm vector must match no centroid")
    val zeroHof = Similarity.assignClustersHof(zeroVec, cents)
      .select($"cluster").as[Int].head()
    assert(zeroHof == -1,
      "HOF path must give the zero-norm vector the same -1 label (NaN never wins)")
    // out-of-contract length mismatch: the HOF form's zip_with null-pads
    // and the null propagates through the fold, so the -1 init wins; the
    // native expression must take the same -1 path on BOTH directions of
    // the mismatch (shorter and longer than the centroid dim) instead of
    // truncating the dot product and emitting a real label
    val mism = Seq((901L, Seq(0.5)), (902L, Seq(0.5, 0.5, 0.5)))
      .toDF("vec_id", "v")
    val nativeMism = Similarity.assignClusters(mism, cents)
      .select($"vec_id", $"cluster").as[(Long, Int)].collect().toMap
    val hofMism = Similarity.assignClustersHof(mism, cents)
      .select($"vec_id", $"cluster").as[(Long, Int)].collect().toMap
    assert(nativeMism == Map(901L -> -1, 902L -> -1),
      s"length-mismatched vectors must get the no-match label: $nativeMism")
    assert(nativeMism == hofMism, "native and HOF mismatch handling diverged")
    // and the native path's plan is still a pure projection
    val p = Similarity.assignClusters(vecs, cents)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!p.linesIterator.exists(_.matches("\\(\\d+\\) Exchange.*")) && !p.contains("Join"),
      s"native assignment must stay shuffle- and join-free:\n$p")
  }

  test("ANN recall harness: self-recall 1, exhaustive ivf exact, int8 above its floor") {
    import spark.implicits._
    import graft.operators.Similarity
    // 8 well-separated direction clusters × 6 vectors: every probe's
    // true top-5 are exactly its 5 direction-mates, so the k boundary
    // falls in the wide inter-cluster cosine gap — sub-percent
    // quantization error cannot flip it, while a genuinely broken
    // approximation still craters recall
    val rnd = new scala.util.Random(5)
    val vecs = (0L until 48L).map { i =>
      val base = (i % 8).toInt
      (i, (0 until 8).map(d => math.cos(base + d) + 0.05 * rnd.nextGaussian()).toSeq)
    }.toDF("vec_id", "v")
    val probes = vecs.filter($"vec_id" < 3)
      .select($"vec_id".as("probe_id"), $"v".as("p"))
    val exact = Similarity.bruteForceTopK(vecs, probes, k = 5).cache()
    // the measure itself: identity and disjoint extremes
    assert(Similarity.recallAtK(exact, exact, 5) == 1.0)
    assert(Similarity.recallAtK(exact.filter(lit(false)), exact, 5) == 0.0)
    // ivf with nprobe = k clusters routes every probe to every cluster —
    // an exhaustive search that must recover the exact neighborhood
    val cents = Similarity.kmeansFit(vecs, k = 4, iters = 2)
    val exhaustive = Similarity.ivfTopK(vecs, cents, probes, k = 5,
      nprobe = 4, roundTo = 4)
    assert(Similarity.recallAtK(exhaustive, exact, 5) == 1.0,
      "nprobe = k must be exhaustive")
    // pruned ivf trades recall for scan fraction but stays a valid result
    val pruned = Similarity.ivfTopK(vecs, cents, probes, k = 5,
      nprobe = 1, roundTo = 4)
    val prunedRecall = Similarity.recallAtK(pruned, exact, 5)
    assert(prunedRecall > 0.0 && prunedRecall <= 1.0)
    // a zero-norm corpus vector forms the degenerate cluster −1 whose
    // centroid's routing cosine is NaN; NaN sorts above every real in
    // the desc rank, so pre-fix it out-ranked every real centroid and
    // (at nprobe = 1) captured ALL routing — every probe searched only
    // the zero vector and the query returned ZERO rows. Routing must
    // skip undefined similarities and reproduce the clean result.
    val withZero = vecs.unionByName(
      Seq((999L, Seq.fill(8)(0.0))).toDF("vec_id", "v"))
    val prunedZ = Similarity.ivfTopK(
      Similarity.kmeansLabels(withZero, k = 4, iters = 2), "cluster",
      probes, k = 5, nprobe = 1)
    assert(prunedZ.count() > 0, "a zero-norm vector must not hijack IVF routing")
    // int8 quantization error is sub-percent per component; on separated
    // neighborhoods it must clear the published floor
    val quant = Similarity.quantizeInt8(vecs)
    val qprobes = quant.filter($"vec_id" < 3)
      .select($"vec_id".as("probe_id"), $"q".as("pq"))
    val i8 = Similarity.int8TopK(quant, qprobes, k = 5)
    assert(Similarity.recallAtK(i8, exact, 5) >= 0.95,
      "int8 recall fell under its floor")
    // PQ re-rank with fetchK = corpus keeps every candidate, so the
    // exact re-ranking must reproduce brute force row for row — and the
    // raw ADC ordering it corrects must itself score worse or equal
    val cb = Similarity.pqFit(vecs, m = 2, subDim = 4, ksub = 4, iters = 2)
    val enc = Similarity.pqEncode(vecs, cb)
    val rr = Similarity.pqTopKRerank(enc, probes, cb, vecs, k = 5, fetchK = 48)
    assert(Similarity.recallAtK(rr, exact, 5) == 1.0,
      "full-fetch re-rank must equal brute force")
    val rrRows = rr.select($"probe_id", $"vec_id", $"cosine", $"rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val bfRows = exact.select($"probe_id", $"vec_id", $"cosine", $"rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(rrRows == bfRows, "re-ranked rows must match brute force exactly")
    val adcRecall = Similarity.recallAtK(
      Similarity.pqTopK(enc, probes, cb, k = 5), exact, 5)
    assert(adcRecall <= 1.0)
    exact.unpersist()
  }

  test("ANN recall floors: production-shaped configs must clear their gates on clustered data") {
    import spark.implicits._
    import graft.operators.Similarity
    // Deterministic clustered fixture — the shape real embedding spaces
    // have (decaying spectra, separated modes), NOT the isotropic-random
    // worst case the sf fixtures sample. The floors gate the SHIPPED
    // config shapes: a regression that guts a screen's candidate quality
    // (bad codebook fit, broken routing, a rank inversion) craters these
    // numbers and fails loudly, instead of shipping silently-terrible
    // retrieval the bench merely *publishes*.
    val rnd = new scala.util.Random(17)
    val vecs = (0L until 512L).map { i =>
      val base = (i % 8).toInt
      (i, (0 until 16).map(d => math.cos(base * 16 + d) + 0.08 * rnd.nextGaussian()).toSeq)
    }.toDF("vec_id", "v").cache()
    val probes = vecs.filter($"vec_id" < 5)
      .select($"vec_id".as("probe_id"), $"v".as("p"))
    val k = 10
    val exact = Similarity.bruteForceTopK(vecs, probes, k).cache()
    exact.count()
    val cents = Similarity.kmeansFit(vecs, k = 8, iters = 3)
    val ivfR = Similarity.recallAtK(
      Similarity.ivfTopK(vecs, cents, probes, k, nprobe = 4, roundTo = 4),
      exact, k)
    assert(ivfR >= 0.95, s"ivf nprobe=4 recall@10 $ivfR under its 0.95 floor")
    // production-shaped PQ (m=8) + exact re-rank from an 8×k candidate
    // pool — the two-stage shape a deployment runs
    val cb = Similarity.pqFit(vecs, m = 8, subDim = 2, ksub = 16, iters = 3)
    val enc = Similarity.pqEncode(vecs, cb)
    val pqRerankR = Similarity.recallAtK(
      Similarity.pqTopKRerank(enc, probes, cb, vecs, k,
        fetchK = 8 * k), exact, k)
    assert(pqRerankR >= 0.9,
      s"pq m=8 rerank recall@10 $pqRerankR under its 0.9 floor")
    // IVFADC route → compressed scan → exact re-rank, same floor
    val index = Similarity.pqIndex(vecs, cents, cb)
    val ivfpqRerankR = Similarity.recallAtK(
      Similarity.rerankExact(
        Similarity.ivfPqTopK(index, cents, probes, cb, k = 8 * k, nprobe = 4),
        probes, vecs, k), exact, k)
    assert(ivfpqRerankR >= 0.9,
      s"ivfpq rerank recall@10 $ivfpqRerankR under its 0.9 floor")
    // residual IVFADC (Jégou §IV-A): codes spend their bits on the
    // within-cell offset, so the RAW ADC ranking must already clear a
    // floor raw-vector PQ needs a re-rank stage to reach — and the
    // re-ranked composition holds the same 0.9 gate as the others
    val rcb = Similarity.pqFitResidual(vecs, cents, m = 8, subDim = 2,
      ksub = 16, iters = 3)
    val rindex = Similarity.pqIndexResidual(vecs, cents, rcb)
    val resRawR = Similarity.recallAtK(
      Similarity.ivfPqResidualTopK(rindex, cents, probes, rcb, k, nprobe = 4), exact, k)
    assert(resRawR >= 0.6,
      s"residual ivfpq RAW adc recall@10 $resRawR under its 0.6 floor")
    val resRerankR = Similarity.recallAtK(
      Similarity.rerankExact(
        Similarity.ivfPqResidualTopK(rindex, cents, probes, rcb, k = 8 * k,
          nprobe = 4),
        probes, vecs, k), exact, k)
    assert(resRerankR >= 0.9,
      s"residual ivfpq rerank recall@10 $resRerankR under its 0.9 floor")
    // JL dim-HALVING + exact re-rank from an 8×k pool — the shipped
    // screen shape (the bench's 64→32 dial, here at the fixture's 16→8);
    // the d16 quartering config stays diagnostic (recall_diag_* in the
    // bench) and deliberately has no floor
    val jlHalfRerankR = Similarity.recallAtK(
      Similarity.rerankExact(
        Similarity.jlTopK(vecs, probes, inDim = 16, outDim = 8,
          seed = "r10", k = 8 * k),
        probes, vecs, k), exact, k)
    info(f"jl 16->8 rerank recall@10 $jlHalfRerankR%.2f")
    assert(jlHalfRerankR >= 0.9,
      s"jl halving rerank recall@10 $jlHalfRerankR under its 0.9 floor")
    // OPQ (m=8) + exact re-rank holds the SAME 0.9 deployment floor as
    // plain PQ: on near-isotropic data the rotation cannot help (the
    // bench fixture reads 0.92 vs plain-PQ 0.98 — expected, rotation
    // has nothing to align there), but it must never erode BELOW the
    // floor the unrotated config clears
    val (orot, ocb) = Similarity.opqFit(vecs, m = 8, subDim = 2,
      ksub = 16, pqIters = 3, opqIters = 3)
    val opqRerankR = Similarity.recallAtK(
      Similarity.rerankExact(
        Similarity.opqTopK(
          Similarity.opqEncode(vecs, orot, ocb),
          probes, orot, ocb, k = 8 * k),
        probes, vecs, k), exact, k)
    assert(opqRerankR >= 0.9,
      s"opq m=8 rerank recall@10 $opqRerankR under its 0.9 floor")
    exact.unpersist(); vecs.unpersist()
  }

  test("OPQ: trained rotation is orthogonal, cuts distortion, lifts recall on anisotropic data; opqIters=0 ≡ pqFit") {
    import spark.implicits._
    import graft.operators.Similarity
    // Anisotropic fixture — exponentially decaying per-dim variance, the
    // spectrum shape real embeddings have and the case OPQ exists for:
    // under the identity split subspace 0 holds nearly all the energy,
    // so three of four codebooks quantize noise. Row-normalized so the
    // exact-cosine neighborhood and the ADC L2 ranking agree in kind.
    val rnd = new scala.util.Random(23)
    val m = 4; val subDim = 4; val d = m * subDim
    val vecs = (0L until 600L).map { i =>
      val raw = (0 until d).map(j => rnd.nextGaussian() * math.exp(-j / 3.0))
      val nrm = math.sqrt(raw.map(x => x * x).sum)
      (i, raw.map(_ / nrm))
    }.toDF("vec_id", "v").cache()
    val sample = vecs.filter($"vec_id" % 2 === 0)
    // opqIters = 0 degenerates to exactly pqFit with R = I
    val (r0, cb0) = Similarity.opqFit(sample, m, subDim, ksub = 8,
      pqIters = 2, opqIters = 0)
    assert((0 until d).forall(i => (0 until d).forall(j =>
      r0(i)(j) == (if (i == j) 1.0 else 0.0))), "opqIters=0 must return I")
    val plainCb = Similarity.pqFit(sample, m, subDim, ksub = 8, iters = 2)
    assert(cb0.orderBy($"sub", $"cluster").collect().toSeq ==
      plainCb.orderBy($"sub", $"cluster").collect().toSeq,
      "opqIters=0 codebooks must equal pqFit's")
    // trained rotation: orthogonal to float tolerance
    val (r, cb) = Similarity.opqFit(sample, m, subDim, ksub = 8,
      pqIters = 2, opqIters = 6)
    val rtr = Array.tabulate(d, d)((i, j) =>
      (0 until d).map(t => r(t)(i) * r(t)(j)).sum)
    assert((0 until d).forall(i => (0 until d).forall(j =>
      math.abs(rtr(i)(j) - (if (i == j) 1.0 else 0.0)) < 1e-9)),
      "trained rotation must be orthogonal (RᵀR = I)")
    // the objective OPQ minimizes must actually drop
    val dist0 = Similarity.pqDistortion(vecs, cb0)
    val distR = Similarity.pqDistortion(Similarity.rotate(vecs, "v", r),
      cb)
    info(f"distortion: PQ $dist0%.5f OPQ $distR%.5f")
    assert(distR < 0.8 * dist0,
      s"OPQ distortion $distR must undercut plain PQ $dist0 by >20%")
    // and the raw-ADC recall must rise materially on this spectrum
    val probes = vecs.filter($"vec_id" < 8)
      .select($"vec_id".as("probe_id"), $"v".as("p"))
    val k = 10
    val exact = Similarity.bruteForceTopK(vecs, probes, k).cache()
    exact.count()
    val pqR = Similarity.recallAtK(
      Similarity.pqTopK(Similarity.pqEncode(vecs, cb0),
        probes, cb0, k), exact, k)
    val opqR = Similarity.recallAtK(
      Similarity.opqTopK(Similarity.opqEncode(vecs, r, cb),
        probes, r, cb, k), exact, k)
    info(f"recall@10: PQ $pqR%.2f OPQ $opqR%.2f")
    assert(opqR >= pqR + 0.1,
      s"OPQ raw-ADC recall $opqR must beat plain PQ $pqR by >= 0.1")
    // the fixed structured rotation the oracle replays: orthogonal with
    // exactly-representable ±1/√d entries at d a power of 4
    val h = Similarity.hadamardRotation(16)
    assert(h.flatten.forall(x => x == 0.25 || x == -0.25))
    val hth = Array.tabulate(16, 16)((i, j) =>
      (0 until 16).map(t => h(t)(i) * h(t)(j)).sum)
    assert((0 until 16).forall(i => (0 until 16).forall(j =>
      hth(i)(j) == (if (i == j) 1.0 else 0.0))),
      "H/√d must be exactly orthogonal")
    exact.unpersist(); vecs.unpersist()
  }

  test("SRP sketch bits via MatVec ≡ the HOF sign folds, degenerate rows included") {
    import spark.implicits._
    import graft.operators.Similarity
    // the cosineNearDups sketch replaced nPlanes interpreted
    // aggregate(zip_with) folds with one MatVec projection; the bits
    // must be identical element for element — including a null vector
    // and a width-mismatched vector, whose HOF folds null-padded to a
    // null projection and therefore all-zero bits
    val nPlanes = 16; val dim = 8
    val rnd = new scala.util.Random(31)
    val clean = (0L until 40L).map(i => (i,
      Option((0 until dim).map(x => Option(rnd.nextGaussian())).toSeq)))
    val dirty = Seq(
      (900L, None),                                        // null vector
      (901L, Option(Seq(Option(1.0), Option(2.0)))),       // wrong width
      (902L, Option((0 until dim).map(j =>                 // null ELEMENT
        if (j == 3) Option.empty[Double] else Option(1.0)).toSeq)))
    val df = (clean ++ dirty).toDF("vec_id", "v")
      .withColumn("v", $"v".cast("array<double>"))
    val signs = Similarity.hyperplaneSigns(nPlanes, dim)
    val viaExpr = df
      .withColumn("__p", graft.functions.MatVec.mat_vec($"v", signs, 6))
      .select($"vec_id" +: (0 until nPlanes).map { p =>
        when(element_at($"__p", p + 1) >= 0, 1).otherwise(0).as(s"b$p")
      }: _*)
    val viaHof = df.select($"vec_id" +: (0 until nPlanes).map { p =>
      val proj = aggregate(
        zip_with($"v", typedLit(signs(p).toSeq), (x, y) => x * y),
        lit(0.0), (acc, z) => acc + z)
      when(round(proj, 6) >= 0, 1).otherwise(0).as(s"b$p")
    }: _*)
    val a = viaExpr.orderBy($"vec_id").collect().map(_.toSeq)
    val b = viaHof.orderBy($"vec_id").collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq, "MatVec sketch bits diverged from the HOF folds")
    // degenerate rows — null vector, wrong width, null ELEMENT (the HOF
    // fold nulls through acc + null; MatVec must null the row, never
    // read the slot as 0.0) — read all-zero bits in both forms
    assert(a.filter(r => r.head.asInstanceOf[Long] >= 900L)
      .forall(_.tail.forall(_ == 0)))
  }

  test("OPQ: one-projection encode; rotated wiring ≡ pre-rotated PQ; degenerate input never crashes") {
    import spark.implicits._
    import graft.operators.Similarity
    val rnd = new scala.util.Random(29)
    val m = 4; val subDim = 4; val d = m * subDim
    val vecs = (0L until 80L).map { i =>
      (i, (0 until d).map(_ => rnd.nextGaussian()))
    }.toDF("vec_id", "v").cache()
    val rot = Similarity.hadamardRotation(d)
    val cb = Similarity.pqFit(Similarity.rotate(vecs, "v", rot),
      m, subDim, ksub = 8, iters = 2)
    // opqEncode ≡ pqEncode over a pre-rotated corpus (the wiring adds
    // nothing but the rotation)
    val viaOpq = Similarity.opqEncode(vecs, rot, cb)
    val viaPre = Similarity.pqEncode(Similarity.rotate(vecs, "v", rot),
      cb)
    assert(viaOpq.exceptAll(viaPre).isEmpty && viaPre.exceptAll(viaOpq).isEmpty,
      "opqEncode diverged from pqEncode over pre-rotated vectors")
    // the rotated index build stays ONE shuffle-free projection: MatVec
    // and the per-subspace argmins collapse into a single corpus pass
    val p = viaOpq.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!p.linesIterator.exists(_.matches("\\(\\d+\\) Exchange.*")) &&
      !p.contains("Join"),
      s"the OPQ encode must be one shuffle-free projection:\n$p")
    // opqTopK ≡ pqTopK with both sides pre-rotated (search-side wiring)
    val probes = vecs.filter($"vec_id" < 3)
      .select($"vec_id".as("probe_id"), $"v".as("p"))
    val viaOpqTk = Similarity.opqTopK(viaOpq, probes, rot, cb, k = 3)
    val viaPreTk = Similarity.pqTopK(viaPre,
      Similarity.rotate(probes, "p", rot), cb, k = 3)
    assert(viaOpqTk.exceptAll(viaPreTk).isEmpty &&
      viaPreTk.exceptAll(viaOpqTk).isEmpty,
      "opqTopK diverged from pqTopK over pre-rotated inputs")
    // short/degenerate vectors drop from rankings instead of crashing:
    // a corpus row narrower than m·subDim encodes null codes and its ADC
    // distance nulls out of the top-k
    val dirty = vecs.unionByName(Seq(
      (900L, (0 until 3).map(_ => 1.0))).toDF("vec_id", "v"))
    val dirtyTk = Similarity.opqTopK(
      Similarity.opqEncode(dirty, rot, cb), probes, rot, cb,
      k = 80)
    assert(!dirtyTk.select($"vec_id").as[Long].collect().contains(900L),
      "a width-mismatched vector must drop from the ADC ranking")
    // rank-deficient training input (every vector identical): the Gram
    // matrix is singular, the Procrustes update must still produce an
    // orthogonal rotation and a usable codebook, not throw
    val flat = (0L until 40L).map(i => (i, Seq.fill(d)(0.5)))
      .toDF("vec_id", "v")
    val (rf, cbf) = Similarity.opqFit(flat, m, subDim, ksub = 4,
      pqIters = 2, opqIters = 2)
    val rtr = Array.tabulate(d, d)((i, j) =>
      (0 until d).map(t => rf(t)(i) * rf(t)(j)).sum)
    assert((0 until d).forall(i => (0 until d).forall(j =>
      math.abs(rtr(i)(j) - (if (i == j) 1.0 else 0.0)) < 1e-9)),
      "rotation from rank-deficient training must still be orthogonal")
    assert(Similarity.opqEncode(flat, rf, cbf).count() == 40L)
    vecs.unpersist()
  }

  test("OPQ ∘ residual IVFADC composes with zero new code and does not lose recall") {
    import spark.implicits._
    import graft.operators.Similarity
    // The FAISS-canonical production index shape (OPQ pretransform →
    // coarse IVF → residual PQ) is a pure COMPOSITION of existing
    // operators: rotate the corpus once (MatVec literal), then the whole
    // residual-IVFADC chain runs unchanged in the rotated space; probes
    // rotate through the same matrix. Rotation preserves cosine/L2, so
    // the exact re-rank against ORIGINAL vectors and the recall
    // accounting stay valid. Pinned on the anisotropic fixture where
    // rotation matters: composition ≥ the unrotated residual recall.
    val rnd = new scala.util.Random(37)
    val m = 4; val subDim = 4; val d = m * subDim
    val vecs = (0L until 400L).map { i =>
      val raw = (0 until d).map(j => rnd.nextGaussian() * math.exp(-j / 3.0))
      val nrm = math.sqrt(raw.map(x => x * x).sum)
      (i, raw.map(_ / nrm))
    }.toDF("vec_id", "v").cache()
    val probes = vecs.filter($"vec_id" < 5)
      .select($"vec_id".as("probe_id"), $"v".as("p"))
    val k = 10
    val exact = Similarity.bruteForceTopK(vecs, probes, k).cache()
    exact.count()
    val sample = vecs.filter($"vec_id" % 2 === 0)

    def residualRecall(corpus: org.apache.spark.sql.DataFrame,
                       prb: org.apache.spark.sql.DataFrame): Double = {
      val cents = Similarity.kmeansFit(corpus, k = 4, iters = 2)
      val rcb = Similarity.pqFitResidual(
        corpus.filter($"vec_id" % 2 === 0), cents, m, subDim, ksub = 8, iters = 2)
      val rindex = Similarity.pqIndexResidual(corpus, cents, rcb)
      Similarity.recallAtK(
        Similarity.ivfPqResidualTopK(rindex, cents, prb, rcb, k,
          nprobe = 4), exact, k)
    }
    val plainR = residualRecall(vecs, probes)
    val (rot, _) = Similarity.opqFit(sample, m, subDim, ksub = 8,
      pqIters = 2, opqIters = 4)
    val opqR = residualRecall(Similarity.rotate(vecs, "v", rot),
      Similarity.rotate(probes, "p", rot))
    info(f"residual IVFADC recall@10: plain $plainR%.2f opq-rotated $opqR%.2f")
    assert(opqR >= plainR,
      s"OPQ pretransform must not lose residual-IVFADC recall: $opqR < $plainR")
    exact.unpersist(); vecs.unpersist()
  }

  test("editDistancePairs ≡ brute force on adversarial short strings (incl. empty, length gaps)") {
    import spark.implicits._
    import graft.operators.Dedup
    // small alphabet + short lengths force dense near-pairs across every
    // edge: empty strings, strings shorter than d+1 (empty segments),
    // length differences 0..d, and far pairs that blocking may or may
    // not candidate but the verify must reject
    val rnd = new scala.util.Random(41)
    val strs = (0L until 120L).map { i =>
      val len = rnd.nextInt(11) // 0..10
      (i, (0 until len).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)
    }
    val df = strs.toDF("doc_id", "k")
    val got = Dedup.editDistancePairs(df, "doc_id", "k", maxDist = 2)
      .select($"id_a", $"id_b", $"dist").as[(Long, Long, Int)].collect().toSet
    // reference: quadratic Levenshtein over the driver-side fixture
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val expected = (for {
      (ia, ka) <- strs; (ib, kb) <- strs if ia < ib
      dd = lev(ka, kb) if dd <= 2
    } yield (ia, ib, dd)).toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
  }

  test("editDistancePairs hot-key guard: mass-identical keys stay distinct-key-bounded, output unchanged") {
    import spark.implicits._
    import graft.operators.Dedup
    // the LSH-hot-bucket degenerate: 90% of rows carry ONE identical key
    // (180 of 200), the rest spread over 4 near keys within distance 2.
    // Output is inherently quadratic in the hot group (every within-group
    // pair IS a dist-0 answer), but candidate generation, the dedup
    // distinct, and Levenshtein must all run in DISTINCT-KEY space — 5
    // rows here — never fan the 180-member group through the join.
    val hot = "title x"
    val near = Seq("title y", "titlx x", "tile x", "qqqqqqq")
    val rows = (0L until 200L).map { i =>
      if (i % 10 != 0) (i, hot) else (i, near((i / 10 % 4).toInt))
    }
    val df = rows.toDF("doc_id", "k")
    val got = Dedup.editDistancePairs(df, "doc_id", "k", maxDist = 2)
      .select($"id_a", $"id_b", $"dist").as[(Long, Long, Int)].collect().toSet
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val expected = (for {
      (ia, ka) <- rows; (ib, kb) <- rows if ia < ib
      dd = lev(ka, kb) if dd <= 2
    } yield (ia, ib, dd)).toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
    // the verified-candidate core sees 5 distinct keys → at most C(5,2)
    // pairs reach Levenshtein, regardless of the 180-row hot group
    val keyPairs = Dedup.editDistanceKeyPairs(
      df.select($"k").distinct(), maxDist = 2).collect()
    assert(keyPairs.length <= 10,
      s"candidate key pairs must be distinct-key-bounded, got ${keyPairs.length}")
    assert(keyPairs.forall(r => r.getString(0) != r.getString(1)),
      "key-pair core must never pair a key with itself")
    // an id appearing on multiple rows (doc versions carrying near keys)
    // must never pair with itself through the cross-key fan-out — the
    // pre-refactor id =!= pid guard, preserved
    val withDup = df.unionByName(Seq((3L, "titlx x")).toDF("doc_id", "k"))
    val dupOut = Dedup.editDistancePairs(withDup, "doc_id", "k", maxDist = 2)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
    assert(dupOut.nonEmpty && dupOut.forall { case (a, b) => a != b },
      "duplicate-id input must never emit a self-pair")
  }

  test("editDistancePairs: exactly-duplicated (id, key) rows don't multiply output pairs") {
    import spark.implicits._
    import graft.operators.Dedup
    val clean = Seq((1L, "abc"), (2L, "abd"), (3L, "abc"), (4L, "zzz"))
    // triplicate two rows: without the output dedup each affected pair
    // is emitted dup² = 9 times through the fan-out / self-joins
    val noisy = clean ++ Seq.fill(2)((1L, "abc")) ++ Seq.fill(2)((2L, "abd"))
    val want = Dedup.editDistancePairs(clean.toDF("doc_id", "k"), "doc_id",
        "k", maxDist = 1)
      .as[(Long, Long, String, String, Int)].collect()
    val got = Dedup.editDistancePairs(noisy.toDF("doc_id", "k"), "doc_id",
        "k", maxDist = 1)
      .as[(Long, Long, String, String, Int)].collect()
    assert(got.length == got.distinct.length, "output must carry no duplicate rows")
    assert(got.toSet == want.toSet,
      s"dup input changed the pair set: got ${got.toSet} want ${want.toSet}")
    assert(want.toSet.contains((1L, 3L, "abc", "abc", 0)) &&
      want.toSet.contains((1L, 2L, "abc", "abd", 1)))
  }

  test("clusterOutliers: the planted stray ranks first in its cell; zero-norm drops; scoring shuffle-free") {
    import spark.implicits._
    import graft.operators.Similarity
    // two tight direction clusters + one planted stray that the argmax
    // still assigns to cluster of direction 0 but with a much weaker
    // cosine — it must surface as that cell's rank-1 outlier
    val rnd = new scala.util.Random(23)
    val base = (0L until 40L).map { i =>
      val d = (i % 2).toInt
      (i, (0 until 8).map(j => math.cos(3 * d + j) + 0.02 * rnd.nextGaussian()).toSeq)
    }
    val stray = (100L, (0 until 8).map(j =>
      math.cos(j) + (if (j == 0) 2.5 else 0.4)).toSeq)
    val zero = (101L, Seq.fill(8)(0.0))
    val vecs = (base :+ stray :+ zero).toDF("vec_id", "v")
    val cents = Similarity.kmeansFit(
      vecs.filter($"vec_id" < 40L), k = 2, iters = 2)
    val out = Similarity.clusterOutliers(vecs, cents, k = 3)
    val rows = out.select($"cluster", $"vec_id", $"rank")
      .as[(Int, Long, Int)].collect()
    val strayRow = rows.filter(_._2 == 100L)
    assert(strayRow.length == 1 && strayRow.head._3 == 1,
      s"planted stray must be its cell's rank-1 outlier, got ${rows.toSeq}")
    assert(!rows.exists(_._2 == 101L),
      "zero-norm vector must drop, not rank on an undefined cosine")
    assert(rows.count(_._1 == strayRow.head._1) == 3 &&
      rows.forall(_._3 <= 3), "exactly k rows per cell, ranks within k")
    // label+score stays one shuffle-free projection; only the salted
    // two-phase cut exchanges
    val p = out.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    val exchanges = p.linesIterator.count(_.matches("\\(\\d+\\) Exchange.*"))
    assert(exchanges <= 2 && !p.contains("Join"),
      s"scoring must not join or extra-shuffle:\n$p")
  }

  test("mmrSelect: diversity defers the near-dup; λ=1 is pure relevance; degenerates drop") {
    import spark.implicits._
    import graft.operators.Similarity
    // A and B are near-identical high-relevance candidates; C is diverse
    // with lower relevance; D diverse, lowest. Pure relevance picks
    // A, B, C; MMR at λ=0.7 must defer B behind the diverse C.
    val cands = Seq(
      (1L, 10L, 950000L, Seq(1.0, 0.10, 0.0, 0.0)),  // A
      (1L, 20L, 940000L, Seq(1.0, 0.11, 0.0, 0.0)),  // B ≈ A
      (1L, 30L, 600000L, Seq(0.1, 0.0, 1.0, 0.0)),   // C diverse
      (1L, 40L, 500000L, Seq(0.0, 0.1, 0.0, 1.0)))   // D diverse
      .toDF("probe_id", "vec_id", "rel_ppm", "v")
      .withColumn("v", $"v".cast("array<double>"))
    def run(df: org.apache.spark.sql.DataFrame, n: Int, lam: Long) =
      Similarity.mmrSelect(df, "probe_id", "vec_id", "rel_ppm", "v", n, lam)
        .orderBy($"sel_rank")
        .select($"sel_rank", $"vec_id").as[(Int, Long)].collect().toSeq
    assert(run(cands, 3, 700000L) == Seq((1, 10L), (2, 30L), (3, 20L)),
      "MMR must pick A, then the diverse C, then the deferred near-dup B")
    // λ = 1: the diversity term vanishes — selection is the relevance
    // order (ties to lower id), regardless of similarity
    assert(run(cands, 4, 1000000L) ==
      Seq((1, 10L), (2, 20L), (3, 30L), (4, 40L)))
    // n past the candidate count selects everything once
    assert(run(cands, 99, 700000L).map(_._2).toSet == Set(10L, 20L, 30L, 40L))
    // degenerate candidates (zero-norm, mismatched dim) drop before
    // selection instead of ranking on an undefined cosine
    val dirty = cands.unionByName(Seq(
      (1L, 50L, 990000L, Seq(0.0, 0.0, 0.0, 0.0)),   // zero norm
      (1L, 60L, 990000L, Seq(1.0, 0.0)))             // wrong dim
      .toDF("probe_id", "vec_id", "rel_ppm", "v")
      .withColumn("v", $"v".cast("array<double>")))
    assert(run(dirty, 3, 700000L) == Seq((1, 10L), (2, 30L), (3, 20L)),
      "degenerate candidates must not alter the selection")
    // a candidate with ONE null column drops as a unit — it must not
    // misalign the packed arrays (three parallel collect_lists would
    // silently skip the null in just that column, pairing ids with the
    // wrong rel/vec; the struct-pack keeps rows positional)
    val nullRel = dirty.unionByName(Seq(
      (1L, 70L, 0L, Seq(0.7, 0.7, 0.0, 0.0)))
      .toDF("probe_id", "vec_id", "rel_ppm", "v")
      .withColumn("v", $"v".cast("array<double>"))
      .withColumn("rel_ppm", org.apache.spark.sql.functions.lit(null).cast("long")))
    assert(run(nullRel, 3, 700000L) == Seq((1, 10L), (2, 30L), (3, 20L)),
      "a null-rel candidate must drop as a whole row, not shift arrays")
    val nullVec = dirty.unionByName(Seq(
      (1L, 71L, 999000L, Seq(0.7, 0.7, 0.0, 0.0)))
      .toDF("probe_id", "vec_id", "rel_ppm", "v")
      .withColumn("v", org.apache.spark.sql.functions.lit(null).cast("array<double>")))
    assert(run(nullVec, 3, 700000L) == Seq((1, 10L), (2, 30L), (3, 20L)),
      "a null-vec candidate must drop as a whole row, not shift arrays")
    // |rel_ppm| beyond the 1e12 contract bound drops instead of
    // overflowing λ·rel and corrupting the argmax (or the tie-break)
    val hugeRel = dirty.unionByName(Seq(
      (1L, 72L, 4000000000000000000L, Seq(0.0, 0.7, 0.7, 0.0)))
      .toDF("probe_id", "vec_id", "rel_ppm", "v")
      .withColumn("v", $"v".cast("array<double>")))
    assert(run(hugeRel, 3, 700000L) == Seq((1, 10L), (2, 30L), (3, 20L)),
      "an out-of-contract rel_ppm must drop, not overflow the score")
    // selection is input-order independent: reversed candidate order
    // yields the identical picks (argmax + lower-id ties, no positional
    // dependence) — the unordered collect_list needs no sort
    assert(run(cands.orderBy($"vec_id".desc), 3, 700000L) ==
      Seq((1, 10L), (2, 30L), (3, 20L)))
  }

  test("residual IVFADC: one-projection index; exhaustive + full-fetch rerank ≡ brute force") {
    import spark.implicits._
    import graft.operators.Similarity
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 48L).map { i =>
      val base = (i % 8).toInt
      (i, (0 until 8).map(d => math.cos(base + d) + 0.05 * rnd.nextGaussian()).toSeq)
    }.toDF("vec_id", "v")
    val probes = vecs.filter($"vec_id" < 3)
      .select($"vec_id".as("probe_id"), $"v".as("p"))
    val cents = Similarity.kmeansFit(vecs, k = 4, iters = 2)
    val cb = Similarity.pqFitResidual(vecs, cents, m = 2, subDim = 4,
      ksub = 4, iters = 2)
    val index = Similarity.pqIndexResidual(vecs, cents, cb)
    // the joint build equals the residuals() → encode pair
    val res = Similarity.residuals(vecs, cents).cache()
    val viaPair = res.select($"vec_id", $"cluster")
      .join(Similarity.pqEncode(res.select($"vec_id", $"v"), cb), "vec_id")
      .select($"vec_id", $"cluster", $"codes")
    assert(index.exceptAll(viaPair).isEmpty && viaPair.exceptAll(index).isEmpty,
      "pqIndexResidual diverged from residuals + pqEncode")
    // the index stays ONE shuffle-free projection even though the
    // residual depends on the data-dependent cluster label (centroid
    // map rides as a literal — no join materializes)
    val p = index.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!p.linesIterator.exists(_.matches("\\(\\d+\\) Exchange.*")) &&
      !p.contains("Join"),
      s"the residual index build must be one shuffle-free projection:\n$p")
    // exhaustive routing + a full-corpus candidate cut re-ranked exactly
    // must reproduce brute force row for row
    val rr = Similarity.rerankExact(
      Similarity.ivfPqResidualTopK(index, cents, probes, cb, k = 48,
        nprobe = 4),
      probes, vecs, k = 5)
    val exact = Similarity.bruteForceTopK(vecs, probes, k = 5)
    val rrRows = rr.select($"probe_id", $"vec_id", $"cosine", $"rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val bfRows = exact.select($"probe_id", $"vec_id", $"cosine", $"rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(rrRows == bfRows,
      "exhaustive residual IVFADC + exact re-rank must equal brute force")
    res.unpersist()
  }

  test("IVFADC: one-projection index; exhaustive routing ≡ flat ADC; plan shuffle-free") {
    import spark.implicits._
    import graft.operators.Similarity
    val rnd = new scala.util.Random(9)
    val vecs = (0L until 48L).map { i =>
      val base = (i % 8).toInt
      (i, (0 until 8).map(d => math.cos(base + d) + 0.05 * rnd.nextGaussian()).toSeq)
    }.toDF("vec_id", "v")
    val probes = vecs.filter($"vec_id" < 3)
      .select($"vec_id".as("probe_id"), $"v".as("p"))
    val cents = Similarity.kmeansFit(vecs, k = 4, iters = 2)
    val cb = Similarity.pqFit(vecs, m = 2, subDim = 4, ksub = 4, iters = 2)
    val index = Similarity.pqIndex(vecs, cents, cb)
    // the index equals the assign + encode pair, built in ONE projection
    val viaPair = Similarity.assignClusters(vecs, cents)
      .select($"vec_id", $"cluster")
      .join(Similarity.pqEncode(vecs, cb), "vec_id")
      .select($"vec_id", $"cluster", $"codes")
    assert(index.exceptAll(viaPair).isEmpty && viaPair.exceptAll(index).isEmpty,
      "pqIndex diverged from assignClusters + pqEncode")
    val p = index.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!p.linesIterator.exists(_.matches("\\(\\d+\\) Exchange.*")) &&
      !p.contains("Join"),
      s"the index build must be one shuffle-free projection:\n$p")
    // nprobe >= cluster count routes every cluster — exactly flat pqTopK
    val ex = Similarity
      .ivfPqTopK(index, cents, probes, cb, k = 5, nprobe = 4)
      .select($"probe_id", $"vec_id", $"adist", $"rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val flat = Similarity
      .pqTopK(index.select($"vec_id", $"codes"), probes, cb, k = 5)
      .select($"probe_id", $"vec_id", $"adist", $"rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(ex == flat, "exhaustive IVFADC must equal flat ADC")
    // pruned routing only surfaces candidates from each probe's routed
    // cluster: every result id must carry that cluster in the index
    val one = Similarity
      .ivfPqTopK(index, cents, probes, cb, k = 5, nprobe = 1)
    val offRoute = one
      .join(index.select($"vec_id", $"cluster"), "vec_id")
      .join(graft.operators.Similarity // probe's single routed cluster
        .assignClusters(probes.select($"probe_id".as("vec_id"), $"p".as("v")), cents)
        .select($"vec_id".as("probe_id"), $"cluster".as("routed_cluster")),
        "probe_id")
      .filter($"cluster" =!= $"routed_cluster")
    assert(offRoute.isEmpty, "nprobe=1 search leaked candidates outside the routed cluster")
    // the generic exact re-rank stage composes with IVFADC candidates:
    // exhaustive fetch + exact cosine must reproduce brute force
    val rrIvf = Similarity.rerankExact(
      Similarity.ivfPqTopK(index, cents, probes, cb, k = 48, nprobe = 4),
      probes, vecs, k = 5)
      .select($"probe_id", $"vec_id", $"cosine", $"rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val bf = Similarity.bruteForceTopK(vecs, probes, k = 5)
      .select($"probe_id", $"vec_id", $"cosine", $"rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(rrIvf == bf, "exhaustive IVFADC + exact re-rank must equal brute force")
  }

  test("splitByHash: proportions converge, assignment stable under corpus growth") {
    import spark.implicits._
    import graft.operators.Curation
    val fracs = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val big = Curation.splitByHash(
        spark.range(0L, 20000L).toDF("doc_id"), "doc_id", "s:", fracs)
      .groupBy($"split").count().as[(String, Long)].collect().toMap
    assert(math.abs(big("train") - 16000.0) < 500, s"train skewed: $big")
    assert(math.abs(big("val") - 2000.0) < 250 &&
      math.abs(big("test") - 2000.0) < 250, s"val/test skewed: $big")
    // stability: a document's split depends only on (salt, id) — the
    // assignment over a subset is the restriction of the full assignment
    val full = Curation.splitByHash(
        spark.range(0L, 100L).toDF("doc_id"), "doc_id", "s:", fracs)
      .as[(Long, String)].collect().toMap
    val sub = Curation.splitByHash(
        spark.range(0L, 100L).filter($"id" % 3 === 0).toDF("doc_id"),
        "doc_id", "s:", fracs)
      .as[(Long, String)].collect().toMap
    assert(sub.forall { case (k, v) => full(k) == v },
      "subset assignment diverged from the full corpus assignment")
    // shuffle-free projection
    val p = Curation.splitByHash(
        spark.range(0L, 100L).toDF("doc_id"), "doc_id", "s:", fracs)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("Exchange"), s"split must not shuffle:\n$p")
  }

  test("chunkOverlap: overlap content, short tails, sub-window and empty docs") {
    import spark.implicits._
    import graft.operators.Curation
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 toks: starts 0,4,8
      (2L, "a b c"),                                  // shorter than one window
      (3L, "   "),                                    // whitespace-only: no chunks
      (4L, (1 to 8).map(i => s"x$i").mkString(" "))   // exact multiple: starts 0,4
    ).toDF("doc_id", "text")
    val got = Curation.chunkOverlap(docs, "doc_id", "text", window = 8, stride = 4)
      .as[(Long, Int, String, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).toSeq).toMap
    assert(got(1L) == Seq(
      (1L, 0, (1 to 8).map(i => s"w$i").mkString(" "), 8),
      (1L, 1, (5 to 10).map(i => s"w$i").mkString(" "), 6),
      (1L, 2, (9 to 10).map(i => s"w$i").mkString(" "), 2)))
    // consecutive chunks share window - stride = 4 tokens
    assert(got(1L)(0)._3.split(" ").takeRight(4).toSeq ==
      got(1L)(1)._3.split(" ").take(4).toSeq)
    assert(got(2L) == Seq((2L, 0, "a b c", 3)))
    assert(!got.contains(3L), "whitespace-only doc must produce no chunks")
    assert(got(4L).map(_._4) == Seq(8, 4))
  }

  test("native MatVec jlProject ≡ the portable HOF projection; mismatch → null row") {
    import spark.implicits._
    import graft.operators.Similarity
    val vecs = Tables.embeddings(spark, sf())
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val native = Similarity.jlProject(vecs, 64, 16, "r8")
      .select($"vec_id", $"y").as[(Long, Seq[Double])].collect().toMap
    val hof = Similarity.jlProjectHof(vecs, 64, 16, "r8")
      .select($"vec_id", $"y").as[(Long, Seq[Double])].collect().toMap
    assert(native == hof, "native and HOF JL projections diverged")
    assert(native.values.forall(_.length == 16))
    // the projection is codegen'd, shuffle-free, and never drops to
    // interpreted fallback
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val p = Similarity.jlProject(vecs, 64, 16, "r8").queryExecution
      assert(p.executedPlan.toString.contains("*(1) Project"),
        "jlProject fell out of whole-stage codegen")
      val f = p.explainString(org.apache.spark.sql.execution.FormattedMode)
      assert(!f.linesIterator.exists(_.matches("\\(\\d+\\) Exchange.*")) && !f.contains("Join"),
        s"jlProject must stay shuffle- and join-free:\n$f")
    } finally spark.conf.unset("spark.sql.codegen.fallback")
    // out-of-contract width mismatch: the HOF form's zip_with null-pads
    // (an array of nulls); the native expression degrades the whole row
    // to null — same filterable signal, pinned here
    val mism = Seq((900L, Seq(0.5, 0.5))).toDF("vec_id", "v")
    val nm = Similarity.jlProject(mism, 64, 16, "r8")
      .select($"y").collect()
    assert(nm.length == 1 && nm(0).isNullAt(0),
      "width-mismatched vector must project to a null row")
  }

  test("salted two-phase top-k ≡ a single per-probe ranking (candidates ≫ k)") {
    import spark.implicits._
    import graft.operators.Similarity
    // 200 vectors per probe's candidate pool — far more than k=5 and more
    // than k×nSalts bucket survivors — including deliberate cosine ties
    // (duplicate vectors) so the (cosine desc, vec_id asc) tie-break is
    // exercised across salt buckets
    val vecs = (0L until 200L)
      .map(i => (i, Seq(math.cos(i % 17 / 17.0), math.sin(i % 17 / 17.0))))
      .toDF("vec_id", "v")
    val probes = Seq((1000L, Seq(1.0, 0.0)), (1001L, Seq(0.5, 0.5)))
      .toDF("probe_id", "p")
    val got = Similarity.bruteForceTopK(vecs, probes, k = 5)
      .select($"probe_id", $"vec_id", $"cosine", $"rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    // reference ranking computed directly from the scored pairs
    val scored = for {
      (vid, v) <- (0L until 200L).map(i => (i, Seq(math.cos(i % 17 / 17.0), math.sin(i % 17 / 17.0))))
      (pid, p) <- Seq((1000L, Seq(1.0, 0.0)), (1001L, Seq(0.5, 0.5)))
    } yield {
      val dot = v.zip(p).map { case (x, y) => x * y }.sum
      val cos = dot / (math.sqrt(v.map(x => x * x).sum) * math.sqrt(p.map(x => x * x).sum))
      (pid, vid, BigDecimal(cos).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val want = scored.groupBy(_._1).flatMap { case (_, rows) =>
      rows.sortBy(r => (-r._3, r._2)).take(5).zipWithIndex
        .map { case ((pid, vid, cos), i) => (pid, vid, cos, i + 1) }
    }.toSet
    assert(got == want, s"salted top-k diverged from the direct ranking")
  }

  // --- mixture weights (data mixing) -----------------------------------

  test("mixtureWeights: α=1 is proportional, α=0 is uniform, weights sum to 1") {
    import spark.implicits._
    val docs = (Seq.fill(90)("big") ++ Seq.fill(10)("small")).zipWithIndex
      .map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "source")
    def weights(alpha: Double): Map[String, Double] =
      Curation.mixtureWeights(docs, "source", alpha)
        .select($"source", $"weight").as[(String, Double)].collect().toMap
    assert(weights(1.0) == Map("big" -> 0.9, "small" -> 0.1))
    assert(weights(0.0) == Map("big" -> 0.5, "small" -> 0.5))
    val w5 = weights(0.5)
    assert(w5("big") == 0.75 && w5("small") == 0.25)  // 3:1 in sqrt space
    assert(math.abs(w5.values.sum - 1.0) < 1e-6)
    // the 1-row denominator broadcasts — the count frame never reshuffles
    val plan = Curation.mixtureWeights(docs, "source", 0.5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"denominator must broadcast:\n$plan")
  }

  // --- rolling-hash fingerprints ---------------------------------------

  test("rollingHashes matches the hand-computed polynomial and localizes edits") {
    import spark.implicits._
    // "hello wo" stepwise: a = (a*257 + code) % 1e9+7 → 485117186
    val hs = Seq("hello world").toDF("text")
      .select(graft.operators.TextAnalysis.rollingHashes($"text", w = 8))
      .as[Seq[Long]].head()
    assert(hs.length == 4)            // 11 chars → 4 windows
    assert(hs.head == 485117186L)
    // docs shorter than the window fingerprint to an empty array
    val short = Seq("tiny").toDF("text")
      .select(graft.operators.TextAnalysis.rollingHashes($"text", w = 8))
      .as[Seq[Long]].head()
    assert(short.isEmpty)
    // a 1-char edit changes only the windows that cross it
    val a = "abcdefghijklmnopqrstuvwxyz"
    val b = "abcdefghijklmnopqrstuvwxyZ"   // last char edited
    val Seq(ha, hb) = Seq(a, b).toDF("text")
      .select(graft.operators.TextAnalysis.rollingHashes($"text", w = 8))
      .as[Seq[Long]].collect().toSeq
    assert(ha.size == 19 && hb.size == 19)
    assert(ha.init == hb.init, "only the final window may differ")
    assert(ha.last != hb.last)
  }

  // --- LM quality score -------------------------------------------------

  test("lmScore: add-one-smoothed bigram ppm, integer-exact, OOV handled") {
    import spark.implicits._
    val train = Seq((100L, "a b a c")).toDF("doc_id", "text")
    // model: c12(a,b)=1 c12(b,a)=1 c12(a,c)=1; c1: a=2 b=1 c=1; V=3
    val docs = Seq(
      (1L, "a b"),   // (a,b): (1e6·(1+1)) div (2+3) = 400000
      (2L, "z z"),   // OOV bigram and unigram: (1e6·1) div (0+3) = 333333
      (3L, "a")      // no bigrams → absent from output
    ).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.lmScore(docs, train, "doc_id", "text")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == Map(1L -> ((1L, 400000L)), 2L -> ((1L, 333333L))))
    // in-distribution text outscores noise on the real fixture
    val fixture = Tables.documents(spark, sf())
    val scored = graft.operators.TextAnalysis.lmScore(
      fixture, fixture.filter($"doc_id" % 10 === 0), "doc_id", "text")
    val fixtureAvg = scored.agg(avg($"avg_bigram_ppm")).head().getDouble(0)
    val noise = Seq((9999L, "qqq www eee rrr ttt yyy uuu iii")).toDF("doc_id", "text")
    val noiseScore = graft.operators.TextAnalysis.lmScore(
      noise, fixture.filter($"doc_id" % 10 === 0), "doc_id", "text")
      .head().getLong(2).toDouble
    assert(fixtureAvg > noiseScore,
      s"fixture should be in-distribution: $fixtureAvg vs $noiseScore")
  }

  // --- Gopher-style quality flags --------------------------------------

  test("qualityFlags: each rule trips on its own degenerate input") {
    import spark.implicits._
    val docs = Seq(
      // 0: healthy — 12 words, sane lengths, alphabetic, stopwords present
      (0L, "the cat sat on the mat and then ran off to sleep"),
      // 1: too short (< 10 words)
      (1L, "the cat is of note"),
      // 2: mean word length > 10
      (2L, "the extraordinarily incomprehensible hippopotomonstrous " +
        "sesquipedalian antidisestablishment considerations notwithstanding " +
        "internationalization accommodation recommendations characteristic"),
      // 3: < 80% alphabetic words
      (3L, "the 1 2 3 4 5 6 7 8 9 10 11 of it"),
      // 4: > 10% bare symbol tokens
      (4L, "the # # # end of a list is here now ..."),
      // 5: fewer than 2 stopword occurrences
      (5L, "cats dogs birds fish mice lions tigers bears wolves foxes deer elk")
    ).toDF("doc_id", "text")
    val q = graft.operators.TextAnalysis.qualityFlags($"text")
    val got = docs.select($"doc_id", q.as("q"))
      .select($"doc_id", $"q.ok_word_count", $"q.ok_mean_word_len",
        $"q.ok_alpha_ratio", $"q.ok_symbol_ratio", $"q.ok_stopwords")
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean)]
      .collect().map(r => r._1 -> (r._2, r._3, r._4, r._5, r._6)).toMap
    assert(got(0L) == ((true, true, true, true, true)))
    assert(!got(1L)._1 && got(1L)._5)           // short, but stopwords fine
    assert(!got(2L)._2, s"mean-word-len should trip: ${got(2L)}")
    assert(!got(3L)._3, s"alpha-ratio should trip: ${got(3L)}")
    assert(!got(4L)._4, s"symbol-ratio should trip: ${got(4L)}")
    assert(!got(5L)._5, s"stopword rule should trip: ${got(5L)}")
  }

  // --- SemDeDup-style semantic dedup -----------------------------------

  test("semanticDedup removes only lower-id-witnessed near-dups within a cluster") {
    import spark.implicits._
    // two well-separated directions; 10/11 near-duplicate each other and 0;
    // 20 near-duplicates 1; 5 is distinct enough to survive
    val vecs = Seq(
      (0L, Seq(1.0, 0.0, 0.0)),
      (1L, Seq(0.0, 1.0, 0.0)),
      (5L, Seq(0.8, 0.0, 0.6)),        // cos to 0 = 0.8 < 0.95 → kept
      (10L, Seq(0.999, 0.001, 0.0)),   // ≈ 0 → removed
      (11L, Seq(0.998, 0.002, 0.0)),   // ≈ 0 → removed
      (20L, Seq(0.001, 0.999, 0.0))    // ≈ 1 → removed
    ).toDF("vec_id", "v")
    val got = graft.operators.Similarity
      .semanticDedup(vecs, k = 2, iters = 2, threshold = 0.95)
      .select($"removed_vec_id", $"n_near")
      .as[(Long, Long)].collect().toMap
    assert(got.keySet == Set(10L, 11L, 20L), s"got $got")
    assert(got(11L) == 2L, "11 has two lower-id witnesses (0 and 10)")
    // pair generation keys on the cluster id — never a cartesian product
    val plan = graft.operators.Similarity
      .semanticDedup(vecs, k = 2, iters = 2, threshold = 0.95)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"within-cluster join must be key-based:\n$plan")
  }

  // --- URL canonicalization / dedup ------------------------------------

  test("canonicalUrl normalizes case, ports, tracking params, fragments, slashes") {
    import spark.implicits._
    val cases = Seq(
      // scheme+host lowercase, path case preserved
      ("HTTPS://WWW.Example.COM/Docs/A", "https://www.example.com/Docs/A"),
      // scheme-default ports stripped; non-default kept
      ("https://h.com:443/x", "https://h.com/x"),
      ("http://h.com:80/x", "http://h.com/x"),
      ("http://h.com:443/x", "http://h.com:443/x"),
      ("https://h.com:8443/x", "https://h.com:8443/x"),
      // tracking params dropped, real params and their order preserved
      ("https://h.com/x?utm_source=a&id=7&ref=tw&b=2", "https://h.com/x?id=7&b=2"),
      ("https://h.com/x?utm_campaign=z", "https://h.com/x"),
      // `ref` must match as a whole param name, not a prefix
      ("https://h.com/x?refresh=1", "https://h.com/x?refresh=1"),
      // fragment and trailing slash
      ("https://h.com/x/#frag", "https://h.com/x"),
      ("https://h.com/", "https://h.com"),
      (" https://h.com/x ", "https://h.com/x"))
    val got = cases.map(_._1).toDF("url")
      .select(Curation.canonicalUrl($"url")).as[String].collect()
    got.zip(cases).foreach { case (g, (in, want)) =>
      assert(g == want, s"canonicalUrl($in) = $g, want $want")
    }
  }

  test("dedupByUrl groups canonical variants and keeps the smallest id") {
    import spark.implicits._
    val docs = Seq(
      (3L, "https://h.com/a?utm_source=x"),
      (1L, "HTTPS://H.com:443/a"),
      (2L, "https://h.com/a/#top"),
      (7L, "https://h.com/b?id=1"),
      (8L, "https://h.com/b?id=2")   // different real param → distinct
    ).toDF("doc_id", "url")
    val got = Curation.dedupByUrl(docs, "doc_id", "url")
      .as[(String, Long, Long)].collect().toSet
    assert(got == Set(
      ("https://h.com/a", 1L, 3L),
      ("https://h.com/b?id=1", 7L, 1L),
      ("https://h.com/b?id=2", 8L, 1L)))
  }

  // --- chunk-level (CCNet-style) dedup ---------------------------------

  test("dedupChunks keeps a duplicated chunk only at its first occurrence") {
    import spark.implicits._
    // 4-word chunks; docs 1 and 2 share an identical (case-insensitively)
    // first chunk; doc 2's tail is unique; doc 3 is all-unique
    val docs = Seq(
      (1L, "Cookie policy ACCEPT terms alpha beta gamma delta"),
      (2L, "cookie policy accept terms epsilon zeta eta theta"),
      (3L, "iota kappa lambda mu")
    ).toDF("doc_id", "text")
    val ch = Curation.dedupChunks(docs, "doc_id", "text", chunkWords = 4)
      .as[(Long, Int, String, Boolean)].collect()
    val kept = ch.filter(_._4).map(r => (r._1, r._2)).toSet
    val dropped = ch.filterNot(_._4).map(r => (r._1, r._2)).toSet
    assert(kept == Set((1L, 0), (1L, 1), (2L, 1), (3L, 0)))
    assert(dropped == Set((2L, 0)))
    // short tail chunk is the word remainder, space-joined
    assert(ch.find(r => r._1 == 3L && r._2 == 0).get._3 == "iota kappa lambda mu")
  }

  test("dedupChunks keep-winner is deterministic under duplicate-id ties") {
    import spark.implicits._
    // two corpus rows share doc_id 7 with case-variant single chunks that
    // collide in the case-insensitive hash group AND tie on
    // (doc_id, chunk_idx) — without the chunk-text tie-break the surviving
    // case variant is nondeterministic (hostile-DOCS duplicate-id class)
    val docs = Seq(
      (7L, "ALPHA BETA GAMMA DELTA"),
      (7L, "alpha beta gamma delta")
    ).toDF("doc_id", "text")
    val kept = (1 to 5).map { _ =>
      Curation.dedupChunks(docs, "doc_id", "text", chunkWords = 4)
        .as[(Long, Int, String, Boolean)].collect()
        .filter(_._4).map(_._3).toSeq
    }
    // exactly one of the two case variants survives, and it is the SAME
    // one (the lexicographically-smaller chunk text) on every evaluation
    assert(kept.forall(_ == Seq("ALPHA BETA GAMMA DELTA")), kept.toString)
  }

  test("approx_percentile rank denominator excludes null token counts") {
    import spark.implicits._
    // 9 non-null counts + 2 nulls: the sketch ranks over the 9 non-null
    // inputs (ceil(0.5*9)=5th element = 50), NOT over 11 rows (ceil(0.5*11)
    // =6th = 60) — the oracle's window arithmetic mirrors this
    val vals = (1 to 9).map(i => Some(i * 10L)) ++ Seq(None, None)
    val df = vals.toDF("n")
    val got = df.agg(expr("approx_percentile(n, 0.5, 10000)")).head().getLong(0)
    assert(got == 50L, s"p50 over non-nulls should be 50, got $got")
  }

  // --- product quantization -------------------------------------------

  test("PQ: codebook vectors encode to their own codes; a planted twin is the ADC nearest neighbor") {
    import spark.implicits._
    import graft.operators.Similarity
    // 4-dim vectors, m=2 subspaces of 2 dims, ksub=2. The two lowest-id
    // training vectors are opposite corners, so BOTH subspaces seed with
    // distinct centroids ((0,0) and (10,10)) and one refinement round
    // separates low/high cleanly per subspace.
    val vecs = Seq(
      (0L, Seq(0.0, 0.0, 0.0, 0.0)),
      (1L, Seq(10.0, 10.0, 10.0, 10.0)),
      (2L, Seq(0.0, 0.0, 10.0, 10.0)),
      (3L, Seq(10.0, 10.0, 0.0, 0.0)),
      // a near-twin of vector 1, slightly perturbed
      (4L, Seq(10.1, 9.9, 10.2, 9.8)),
      // and one mid-space straggler
      (5L, Seq(4.0, 6.0, 5.0, 5.0))).toDF("vec_id", "v")
    val cb = Similarity.pqFit(vecs.filter($"vec_id" < 4), m = 2, subDim = 2,
      ksub = 2, iters = 2)
    val enc = Similarity.pqEncode(vecs, cb)
      .as[(Long, Seq[Int])].collect().toMap
    // vectors sharing a sub-corner share that subspace's code
    assert(enc(0L)(0) == enc(2L)(0), "0 and 2 share the low first-half corner")
    assert(enc(1L)(0) == enc(3L)(0), "1 and 3 share the high first-half corner")
    assert(enc(0L)(1) == enc(3L)(1), "0 and 3 share the low second-half corner")
    assert(enc(4L) == enc(1L), "the near-twin must quantize to vector 1's codes")
    // ADC: probing with vector 1's exact embedding ranks its code-twin 4
    // first (1 itself is excluded) at distance 0 — the probe sits exactly
    // on the twin's cell centers, and ADC measures probe→cell, not
    // probe→twin
    val probes = Seq((1L, Seq(10.0, 10.0, 10.0, 10.0))).toDF("probe_id", "p")
    val top = Similarity.pqTopK(
      Similarity.pqEncode(vecs, cb), probes, cb,
      k = 3)
      .orderBy($"rank").as[(Long, Long, Double, Int)].collect()
    assert(top.head._2 == 4L && top.head._3 == 0.0,
      s"nearest by ADC must be the code-twin at distance 0: ${top.toSeq}")
    assert(top.length == 3 && top.map(_._4).toSeq == Seq(1, 2, 3))
  }

  test("PQ salted ADC top-k ≡ a single per-probe ranking (candidates ≫ k)") {
    import spark.implicits._
    import graft.operators.Similarity
    import org.apache.spark.sql.expressions.Window
    // 200 8-dim vectors, m=2 × subDim=4, ksub=4: enough candidates that
    // phase-1 buckets matter; compare against the naive global window
    val vecs = (0L until 200L)
      .map(i => (i, Seq.tabulate(8)(j => math.sin(i * 8 + j + 1.0) * 5.0)))
      .toDF("vec_id", "v")
    val cb = Similarity.pqFit(vecs.filter($"vec_id" % 3 === 0), m = 2,
      subDim = 4, ksub = 4, iters = 2)
    val enc = Similarity.pqEncode(vecs, cb)
    val probes = vecs.filter($"vec_id" < 4)
      .select($"vec_id".as("probe_id"), $"v".as("p"))
    val salted = Similarity.pqTopK(enc, probes, cb, k = 5)
      .select($"probe_id", $"vec_id", $"adist", $"rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(salted.size == 20, "4 probes × k=5")
    // vectors other than the probe sharing ALL its codes tie at the same
    // adist; the two-phase cut must resolve them exactly like one window
    val naive = Similarity.pqTopK(enc, probes, cb, k = 200)
      .filter($"rank" <= 5)
      .select($"probe_id", $"vec_id", $"adist", $"rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(salted == naive, "salted two-phase diverged from the exhaustive ranking")
  }

  test("ANN probe guards: short/null probes yield empty results, never ranked nulls") {
    import spark.implicits._
    import graft.operators.Similarity
    val vecs = (0L until 12L)
      .map(i => (i, Seq.tabulate(8)(j => math.cos(i * 3 + j + 1.0) * 4.0)))
      .toDF("vec_id", "v")
    val cb = Similarity.pqFit(vecs, m = 2, subDim = 4, ksub = 2, iters = 2)
    val enc = Similarity.pqEncode(vecs, cb)
    // a probe shorter than m·subDim would null-fill its ADC table —
    // every candidate's adist null, and ascending rank is NULLS FIRST:
    // the guard must drop the probe entirely (empty result, no garbage)
    val shortProbe = Seq((99L, Seq(1.0, 2.0))).toDF("probe_id", "p")
    assert(Similarity.pqTopK(enc, shortProbe, cb, k = 3)
      .count() == 0, "short probe must yield no ranked rows")
    val cents = Similarity.kmeansFit(vecs, k = 2, iters = 2)
    val index = Similarity.pqIndex(vecs, cents, cb)
    assert(Similarity
      .ivfPqTopK(index, cents, shortProbe, cb, k = 3, nprobe = 2)
      .count() == 0, "short probe must yield no ranked rows (ivfpq)")
    // a good probe alongside keeps its full top-k
    val mixed = shortProbe.union(
      vecs.filter($"vec_id" === 0L).select($"vec_id".as("probe_id"), $"v".as("p")))
    val got = Similarity.pqTopK(enc, mixed, cb, k = 3)
      .select($"probe_id", $"adist").as[(Long, Double)].collect()
    assert(got.length == 3 && got.forall(_._1 == 0L),
      s"good probe must rank, short probe must not: ${got.toSeq}")
    // hamming: a null probe code nulls every xor distance — dropped, not
    // crowned rank 1
    val codes = Seq((1L, 0x0fL), (2L, 0xf0L), (3L, 0xffL)).toDF("vec_id", "f")
    val nullProbe = Seq((9L, Some(0x0fL)), (10L, Option.empty[Long]))
      .toDF("probe_id", "pf")
    val hg = Similarity.hammingTopK(codes, nullProbe, k = 2)
      .select($"probe_id", $"vec_id", $"dist").as[(Long, Long, Int)].collect()
    assert(hg.forall(_._1 == 9L) && hg.length == 2,
      s"null probe code must yield no rows: ${hg.toSeq}")
  }

  test("PQ stale-codebook codes drop silently; resolvable candidates still rank") {
    import spark.implicits._
    import graft.operators.Similarity
    // encode against the FULL codebook, then search with a codebook whose
    // subspace-0 centroid for one code was dropped (the stale-index shape:
    // codebook retrained, some stored codes no longer resolve). Candidates
    // carrying the dropped code must vanish via the fused null-distance
    // path — no element_at(.., 0) error, no NULLS-FIRST garbage rank —
    // while every other candidate keeps its exact ADC ranking.
    val vecs = (0L until 16L)
      .map(i => (i, Seq.tabulate(8)(j => math.sin(i * 5 + j + 1.0) * 6.0)))
      .toDF("vec_id", "v")
    val cb = Similarity.pqFit(vecs, m = 2, subDim = 4, ksub = 4, iters = 2)
    val enc = Similarity.pqEncode(vecs, cb)
    val probes = vecs.filter($"vec_id" === 0L)
      .select($"vec_id".as("probe_id"), $"v".as("p"))
    // pick a code that some (not all) vectors carry in subspace 0
    val codeCounts = enc.select(element_at($"codes", 1).as("c0"))
      .groupBy("c0").count().as[(Int, Long)].collect().toMap
    val dropped = codeCounts.keys.min
    assert(codeCounts.size > 1, "fixture must spread over >1 subspace-0 code")
    val staleCb = cb.filter(!($"sub" === 0 && $"cluster" === dropped))
    val got = Similarity.pqTopK(enc, probes, staleCb, k = 16)
      .select($"vec_id").as[Long].collect().toSet
    val unresolvable = enc
      .filter(element_at($"codes", 1) === dropped)
      .select($"vec_id").as[Long].collect().toSet
    assert(got.intersect(unresolvable).isEmpty,
      s"stale-coded candidates must drop, got $got with stale $unresolvable")
    val full = Similarity.pqTopK(enc, probes, cb, k = 16)
      .select($"vec_id").as[Long].collect().toSet
    assert(got == full -- unresolvable - 0L,
      "resolvable candidates must survive exactly")
  }

  test("PQ codebook defect: a subspace gap {0, 2} fails every consumer with a require naming the codebook") {
    import spark.implicits._
    import graft.operators.Similarity
    val vecs = (0L until 8L).map(i => (i, Seq.tabulate(6)(j => (i + j).toDouble)))
      .toDF("vec_id", "v")
    val probes = vecs.filter($"vec_id" < 2).select($"vec_id".as("probe_id"), $"v".as("p"))
    val gap = Seq((0, 0, Seq(0.0, 1.0)), (0, 1, Seq(4.0, 5.0)), (2, 0, Seq(2.0, 3.0)))
      .toDF("sub", "cluster", "c")
    val enc = Seq((0L, Seq(0, 0, 0))).toDF("vec_id", "codes")
    val cents = Similarity.kmeansFit(vecs, k = 2, iters = 1)
    val index = enc.withColumn("cluster", lit(0))
    val consumers: Seq[(String, () => Any)] = Seq(
      "pqEncode" -> (() => Similarity.pqEncode(vecs, gap)),
      "pqTopK" -> (() => Similarity.pqTopK(enc, probes, gap, k = 3)),
      "pqTopKRerank" -> (() => Similarity.pqTopKRerank(enc, probes, gap, vecs, k = 3, fetchK = 3)),
      "pqIndex" -> (() => Similarity.pqIndex(vecs, cents, gap)),
      "pqIndexResidual" -> (() => Similarity.pqIndexResidual(vecs, cents, gap)),
      "ivfPqTopK" -> (() => Similarity.ivfPqTopK(index, cents, probes, gap, k = 3, nprobe = 1)),
      "ivfPqResidualTopK" -> (() =>
        Similarity.ivfPqResidualTopK(index, cents, probes, gap, k = 3, nprobe = 1)),
      "opqEncode" -> (() => Similarity.opqEncode(vecs, Similarity.hadamardRotation(4), gap)),
      "opqTopK" -> (() => Similarity.opqTopK(enc, probes, Similarity.hadamardRotation(4), gap, k = 3)),
      "pqDistortion" -> (() => Similarity.pqDistortion(vecs, gap)))
    consumers.foreach { case (name, call) =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("codebook subspaces must be exactly 0 until m, got {0, 2}"),
        s"$name: ${e.getMessage}")
    }
  }

  test("PQ codebook defect: centroids of mixed widths fail with a require naming the codebook") {
    import spark.implicits._
    import graft.operators.Similarity
    // the first subspace's second centroid is one dim short: a derived
    // subDim of either width would shift the other subspace's offset
    val vecs = (0L until 8L).map(i => (i, Seq.tabulate(4)(j => (i + j).toDouble)))
      .toDF("vec_id", "v")
    val ragged = Seq((0, 0, Seq(0.0, 1.0)), (0, 1, Seq(4.0)), (1, 0, Seq(2.0, 3.0)))
      .toDF("sub", "cluster", "c")
    val e = intercept[IllegalArgumentException](Similarity.pqEncode(vecs, ragged))
    assert(e.getMessage.contains("codebook centroids must share one positive width subDim, got widths {1, 2}"),
      e.getMessage)
  }

  test("PQ codebook defect: a sample shorter than m·subDim fails the fit with a require naming the codebook") {
    import spark.implicits._
    import graft.operators.Similarity
    // 6-dim vectors against m·subDim = 8: the second subspace's seeds
    // are 2 wide, the first's 4 — the fit must not emit them
    val short = (0L until 8L).map(i => (i, Seq.tabulate(6)(j => math.sin((i * 6 + j).toDouble))))
      .toDF("vec_id", "v")
    val mixed = intercept[IllegalArgumentException](
      Similarity.pqFit(short, m = 2, subDim = 4, ksub = 2, iters = 2))
    assert(mixed.getMessage.contains("codebook centroids must share one positive width subDim, got widths {2, 4}"),
      mixed.getMessage)
    // uniformly short: one subspace of 6-dim seeds asked for 8 dims
    val narrow = intercept[IllegalArgumentException](
      Similarity.pqFit(short, m = 1, subDim = 8, ksub = 2, iters = 2))
    assert(narrow.getMessage.contains("codebook centroids are 6 wide, trained for subDim = 8"),
      narrow.getMessage)
    // the residual fit trains on 6-dim residuals, so it fails the same way
    val cents = Similarity.kmeansFit(short, k = 2, iters = 1)
    val residual = intercept[IllegalArgumentException](
      Similarity.pqFitResidual(short, cents, m = 2, subDim = 4, ksub = 2, iters = 2))
    assert(residual.getMessage.contains("codebook centroids must share one positive width subDim"),
      residual.getMessage)
    // OPQ trains only on full-width vectors: none are left, so every
    // subspace is empty
    val opq = intercept[IllegalArgumentException](
      Similarity.opqFit(short, m = 2, subDim = 4, ksub = 2, pqIters = 2, opqIters = 1))
    assert(opq.getMessage.contains("codebook subspace 0 has no centroid"), opq.getMessage)
  }

  // --- substring-dedup removal ----------------------------------------

  test("removeDupSpans: first occurrence keeps its text, later copies lose merged covered spans") {
    import spark.implicits._
    // w = 3. Doc 1 owns the span "a b c d e"; doc 2 repeats it verbatim
    // inside other text (its windows [a b c][b c d][c d e] are all dups →
    // intervals [0,3)[1,4)[2,5) merge to [0,5)); doc 3 is too short for
    // any window; doc 4 duplicates doc 1 ENTIRELY and must empty out.
    val docs = Seq(
      (1L, "a b c d e x y"),
      (2L, "a b c d e q r s"),
      (3L, "t u"),
      (4L, "a b c d e x y")).toDF("doc_id", "text")
    val got = graft.operators.Dedup.removeDupSpans(docs, "doc_id", "text", w = 3)
      .orderBy($"doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, "a b c d e x y", 7L, 0L),
      (2L, "q r s", 8L, 5L),
      (3L, "t u", 2L, 0L),
      (4L, "", 7L, 7L)), s"got $got")
    // corpus-wide: exactly one copy of the shared span survives
    val survivors = got.map(_._2).mkString(" ").split("\\s+").filter(_.nonEmpty)
    assert(survivors.count(_ == "a") == 1, "span must survive exactly once")
  }

  // --- int8 quantization ----------------------------------------------

  test("quantizeInt8: codes, scale, zero vector, dequantization error bound") {
    import spark.implicits._
    import graft.operators.Similarity
    val vecs = Seq(
      (0L, Seq(1.0, -0.5, 0.25, 0.0)),
      (1L, Seq(0.0, 0.0, 0.0, 0.0)),
      (2L, Seq(-2.54, 1.27, 0.635, 2.54))).toDF("vec_id", "v")
    val got = Similarity.quantizeInt8(vecs)
      .as[(Long, Double, Seq[Int])].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // vec 0: scale = 1/127, codes = round(x·127)
    assert(got(0L)._1 == 1.0 / 127)
    assert(got(0L)._2 == Seq(127, -64, 32, 0), s"got ${got(0L)._2}") // 0.25·127 = 31.75 → 32
    // zero vector: scale 0, zero codes, no division error
    assert(got(1L) == ((0.0, Seq(0, 0, 0, 0))))
    // vec 2: scale = 2.54/127 = 0.02, codes exact
    assert(got(2L)._2 == Seq(-127, 64, 32, 127), s"got ${got(2L)._2}") // 0.635/0.02 = 31.75 → 32
    // dequantization error ≤ scale/2 per component, saturating at ±127
    val (s2, q2) = got(2L)
    Seq(-2.54, 1.27, 0.635, 2.54).zip(q2).foreach { case (x, q) =>
      assert(math.abs(x - q * s2) <= s2 / 2 + 1e-12, s"dequant error for $x")
    }
  }

  test("int8TopK ranks by the integer-exact quantized cosine and tracks the float ranking") {
    import spark.implicits._
    import graft.operators.Similarity
    val vecs = (0L until 100L)
      .map(i => (i, Seq.tabulate(16)(j => math.sin(i * 16 + j + 1.0))))
      .toDF("vec_id", "v").cache()
    val quant = Similarity.quantizeInt8(vecs).cache()
    val probes = quant.filter($"vec_id" < 3)
      .select($"vec_id".as("probe_id"), $"q".as("pq"))
    val q8 = Similarity.int8TopK(quant, probes, k = 5)
      .select($"probe_id", $"vec_id", $"cosine", $"rank")
      .as[(Long, Long, Double, Int)].collect()
    assert(q8.length == 15, "3 probes × k=5")
    // int8 cosine must sit within the quantization error of the float
    // cosine for every reported neighbor (16 dims, scale ≤ 1/127 per
    // component → loose 0.05 bound); top-1 must agree with the float
    // ranking on this well-separated fixture
    val floatProbes = vecs.filter($"vec_id" < 3)
      .select($"vec_id".as("probe_id"), $"v".as("p"))
    val f = Similarity.bruteForceTopK(vecs, floatProbes, k = 5)
      .select($"probe_id", $"vec_id", $"cosine", $"rank")
      .as[(Long, Long, Double, Int)].collect()
    val fTop1 = f.filter(_._4 == 1).map(r => r._1 -> r._2).toMap
    val fCos = f.map(r => (r._1, r._2) -> r._3).toMap
    q8.filter(_._4 == 1).foreach { case (p, v, _, _) =>
      assert(fTop1(p) == v, s"probe $p: int8 top-1 $v != float top-1 ${fTop1(p)}")
    }
    q8.foreach { case (p, v, c, _) =>
      fCos.get((p, v)).foreach(fc =>
        assert(math.abs(c - fc) < 0.05, s"probe $p vec $v: int8 $c vs float $fc"))
    }
    vecs.unpersist(); quant.unpersist()
  }

  // --- weighted sampling ----------------------------------------------

  test("weightedSample: exact E-S keys, rank order, and the k / weight contracts") {
    import spark.implicits._
    val docs = (0L until 50L).map(i => (i, (i % 7) + 1L)).toDF("doc_id", "weight")
    val got = Curation.weightedSample(docs, "doc_id", "weight", k = 10, salt = "t:")
      .orderBy($"rank")
      .as[(Long, Long, Double, Int)].collect()
    assert(got.length == 10 && got.map(_._4).toSeq == (1 to 10))
    // replay the E-S key off-engine: u = (first-6-hex-digits(md5) + 1) / 16^6,
    // key = u^(1/w) — the sample must be exactly the 10 largest keys,
    // ranked (as the operator does) on the key ROUNDED to 12 dp with the
    // id tiebreak, so a 1-ulp pow divergence can never flip a rank
    def key(id: Long, w: Long): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"t:$id".getBytes("UTF-8"))
        .take(3).map(b => f"$b%02x").mkString
      val u = (java.lang.Long.parseLong(hex, 16) + 1).toDouble / (1L << 24).toDouble
      math.pow(u, 1.0 / w)
    }
    def r12(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(12, java.math.RoundingMode.HALF_UP).doubleValue()
    val expected = (0L until 50L).map(i => (i, (i % 7) + 1L))
      .map { case (i, w) => (i, w, key(i, w)) }
      .sortBy { case (i, _, k2) => (-r12(k2), i) }.take(10)
    assert(got.map(_._1).toSeq == expected.map(_._1),
      s"sampled ids diverge from the replayed E-S ordering")
    got.zip(expected).foreach { case ((_, _, draw, _), (_, _, k2)) =>
      assert(math.abs(draw - k2) < 5e-7, s"draw $draw != replayed key $k2")
    }
    // zero/negative weights are excluded; k ≥ eligible returns everything
    val mixed = Seq((1L, 0L), (2L, -3L), (3L, 5L)).toDF("doc_id", "weight")
    val all = Curation.weightedSample(mixed, "doc_id", "weight", k = 10, salt = "t:")
      .as[(Long, Long, Double, Int)].collect()
    assert(all.map(_._1).toSet == Set(3L) && all.head._4 == 1)
  }

  test("rebalanceSample: the totalK-bounded cut keeps each stratum's top quota by draw") {
    import spark.implicits._
    // quotas at totalK = 20: a 0.3 → 6 of 40, b 0.5 → 10 of 25,
    // c 0.5 → 10 of 5 (all kept), d 0.0 → none
    val docs = ((0L until 40L).map(i => ("a", i)) ++ (100L until 125L).map(i => ("b", i)) ++
      (200L until 205L).map(i => ("c", i)) ++ (300L until 310L).map(i => ("d", i)))
      .toDF("source", "doc_id")
    val weights = Seq(("a", 0.3), ("b", 0.5), ("c", 0.5), ("d", 0.0)).toDF("source", "weight")
    val got = Curation.rebalanceSample(docs, "source", "doc_id", weights, 20L, salt = "rb:")
      .as[(String, Long, Int)].collect().sortBy(r => (r._1, r._3)).toSeq
    // replay off-engine: draw = first 6 hex digits of md5(salt || id),
    // descending, id tiebreak, ranks 1..quota per stratum
    def u24(id: Long): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5").digest(s"rb:$id".getBytes("UTF-8"))
        .take(3).map(b => f"$b%02x").mkString, 16)
    val quota = Map("a" -> 6, "b" -> 10, "c" -> 10, "d" -> 0)
    val expected = docs.as[(String, Long)].collect().toSeq.groupBy(_._1).toSeq.sortBy(_._1)
      .flatMap { case (src, rows) =>
        rows.map(_._2).sortBy(id => (-u24(id), id)).take(quota(src)).zipWithIndex
          .map { case (id, i) => (src, id, i + 1) }
      }
    assert(got == expected, s"got $got")
  }

  // --- incremental dedup ------------------------------------------------

  test("incremental exact dedup: index blocks known content, delta self-dedups, merge admits") {
    import spark.implicits._
    val corpus = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
    val delta = Seq(
      (10L, "alpha beta"),   // already in corpus → dropped
      (11L, "epsilon zeta"), // novel
      (12L, "epsilon zeta"), // within-delta dup of 11 → collapsed
      (13L, "eta theta")     // novel
    ).toDF("doc_id", "text")
    val index = Dedup.buildExactIndex(corpus, "doc_id", "text")
    val survivors = Dedup.dedupDeltaExact(delta, index, "doc_id", "text")
    val got = survivors.select($"kept_id", $"n_copies").as[(Long, Long)]
      .collect().toSet
    assert(got == Set((11L, 2L), (13L, 1L)))
    // merged index covers old + new content; re-running the same delta
    // against it drops everything (idempotent ingestion)
    val merged = Dedup.mergeExactIndex(index, survivors)
    assert(merged.count() == 4)
    assert(Dedup.dedupDeltaExact(delta, merged, "doc_id", "text").isEmpty)
  }

  test("incremental LSH: verbatim delta copy collides with its corpus source; disjoint text doesn't") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely different sentence about astrophysics and galaxies")
    ).toDF("doc_id", "text")
    val delta = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"), // copy of 1
      (11L, "unrelated clause mentioning neither foxes nor space rocks at all")
    ).toDF("doc_id", "text")
    val index = Dedup.buildBandIndex(corpus, "doc_id", "text", n = 3, k = 12, bands = 4)
    val got = Dedup.incrementalNearDupCandidates(index, delta, "doc_id", "text",
      n = 3, k = 12, bands = 4).as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 10L)), s"verbatim copy must collide, got $got")
    assert(!got.exists(_._2 == 11L), s"disjoint delta doc must not collide, got $got")
    // the delta probe agrees with what the batch path would find across
    // the same corpus∪delta union (restricted to cross corpus-delta pairs)
    val batchPairs: Set[(Long, Long)] = Dedup.lshCandidatePairs(
      graft.operators.MinHash.bands(graft.operators.MinHash.signatures(
        Dedup.wordShingles(corpus.union(delta), "doc_id", "text", 3), 12), Seq("id"), 12, 4))
      .as[(Long, Long)].collect().toSet
    val batch = batchPairs.filter { case (a, b) => a < 10 && b >= 10 }
    assert(got == batch, s"incremental $got != batch cross pairs $batch")
  }

  test("incremental dedup against a BUCKETED stored index: only the delta shuffles") {
    import spark.implicits._
    // the 100 TB deployment shape: the corpus-sized index is stored
    // bucketed on the hash, so each ingest batch's anti-join reads the
    // index co-located and pays exactly one exchange — its own
    val corpus = (0L until 200L).map(i => (i, s"corpus doc number $i"))
      .toDF("doc_id", "text")
    graft.operators.Bucketing.writeBucketed(
      Dedup.buildExactIndex(corpus, "doc_id", "text"),
      "exact_idx_bucketed", "content_md5", nBuckets = 8)
    val delta = Seq((500L, "corpus doc number 7"), (501L, "novel content here"))
      .toDF("doc_id", "text")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val survivors = Dedup.dedupDeltaExact(
        delta, spark.table("exact_idx_bucketed"), "doc_id", "text")
      val plan = survivors.queryExecution.executedPlan.toString
      val nHashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(nHashEx == 1,
        s"expected exactly the delta-side exchange, got $nHashEx:\n$plan")
      assert(survivors.select($"kept_id").as[Long].collect().toSeq == Seq(501L))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("colocatedJoin resolves identically named bucket keys; reserved-name guards fire") {
    import spark.implicits._
    import graft.operators.{Bucketing, Frequency, JoinPrune, Temporal}
    // two tables bucketed on the SAME key name: bare col === col was
    // ambiguous and the operator unusable in its most common shape
    Bucketing.writeBucketed((0L until 50L).map(i => (i, s"l$i"))
      .toDF("key_id", "lv"), "co_l", "key_id", nBuckets = 4)
    Bucketing.writeBucketed((0L until 50L by 2).map(i => (i, s"r$i"))
      .toDF("key_id", "rv"), "co_r", "key_id", nBuckets = 4)
    val n = Bucketing.colocatedJoin(spark, "co_l", "co_r", "key_id", "key_id").count()
    assert(n == 25L, s"same-name bucket keys must join: $n")
    // reserved internal column names fail loudly instead of silently
    // overwriting (then dropping) caller data
    val withSalt = Seq((1L, 0)).toDF("k", "__salt")
    intercept[IllegalArgumentException] {
      JoinPrune.saltedJoin(withSalt, Seq((1L, "d")).toDF("k", "d"),
        Seq("k"), "k", nSalts = 4)
    }
    val withBucket = Seq((1L, 5L, 0)).toDF("k", "ts", "__bucket")
    intercept[IllegalArgumentException] {
      Temporal.rangeJoin(withBucket, "ts",
        Seq((1L, 0L, 10L)).toDF("k", "s", "e"), "s", "e", Seq("k"),
        bucketMs = 100L)
    }
    intercept[IllegalArgumentException] {
      Frequency.skewStats(Seq((1L, 2L)).toDF("n", "x"), Seq("n"), topN = 3)
    }
  }

  test("selectRepresentatives keeps the argmax-quality member, ties to the smaller id") {
    import spark.implicits._
    val clusters = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L), // cluster 1
      (7L, 7L), (9L, 7L)            // cluster 7
    ).toDF("doc_id", "cluster_rep")
    val quality = Seq(
      (1L, 5L), (2L, 9L), (3L, 9L), // tie on q=9 → keep 2 (smaller id)
      (7L, 4L), (9L, 8L)
    ).toDF("doc_id", "q")
    val got = Dedup.selectRepresentatives(clusters, quality, "doc_id", "q")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 3L, 9L), (7L, 9L, 2L, 8L)))
  }

  // --- hashed linear classifier ------------------------------------------

  test("hashedLinearScore: mean bucket weight, replayed off-engine; empty docs drop") {
    import spark.implicits._
    val w = graft.operators.TextAnalysis.pseudoWeights("lw:", 64)
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha alpha"),
      (3L, "   "),
      (4L, "")
    ).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis
      .hashedLinearScore(docs, "doc_id", "text", w, "fh:", threshold = 0.0)
      .as[(Long, Long, Long, Double, Int)].collect().map(r => r._1 -> r).toMap
    assert(got.keySet == Set(1L, 2L), "blank/empty docs must drop")
    // replay: bucket(t) = md5-u24("fh:"+t) mod 64, weight from the same table
    def u24(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(3).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex, 16)
    }
    def sumW(tokens: Seq[String]): Long =
      tokens.map(t => w((u24("fh:" + t) % 64).toInt).toLong).sum
    def score(tokens: Seq[String]): Double =
      java.math.BigDecimal.valueOf(sumW(tokens).toDouble / (tokens.length * 1000.0))
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    assert(got(1L)._2 == 3L && got(1L)._3 == sumW(Seq("alpha", "beta", "gamma")) &&
      got(1L)._4 == score(Seq("alpha", "beta", "gamma")))
    assert(got(2L)._2 == 2L && got(2L)._3 == sumW(Seq("alpha", "alpha")) &&
      got(2L)._4 == score(Seq("alpha", "alpha")))
    // label is the integer cross-multiplied decision, not the rounded score
    assert(got(1L)._5 == (if (got(1L)._3 >= 0L) 1 else 0))
    assert(got(2L)._5 == (if (got(2L)._3 >= 0L) 1 else 0))
    // scoring is a shuffle-free projection: no exchange in the plan
    val plan = graft.operators.TextAnalysis
      .hashedLinearScore(docs, "doc_id", "text", w, "fh:", 0.0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"classifier must not shuffle:\n$plan")
  }

  test("hashedLinearScore: tab-led, tab-trailed and newline-only docs score their words") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val w = graft.operators.TextAnalysis.pseudoWeights("lw:", 64)
    // RDD-built: a Seq.toDF frame would fold into a driver-side local
    // relation and never run the generated code the query runs
    val docs = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, "\ta b"), Row(2L, "a b\t"),
        Row(3L, "\n"), Row(4L, "a b")), 2),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    val got = graft.operators.TextAnalysis
      .hashedLinearScore(docs, "doc_id", "text", w, "fh:", threshold = 0.0)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.keySet == Set(1L, 2L, 4L), s"a word-less doc drops, the others stay: $got")
    // the edge whitespace is no token: each doc scores exactly "a b"
    assert(got(1L) == got(4L) && got(2L) == got(4L) && got(4L)._1 == 2L, got)
  }

  // --- salted skew join --------------------------------------------------

  test("saltedJoin ≡ plain join on a skewed fixture (hot key across all salts)") {
    import spark.implicits._
    // key 1 owns 90% of the fact side — the shape that melts one reducer
    val fact = ((0 until 90).map(i => (i.toLong, 1L)) ++
      (90 until 100).map(i => (i.toLong, (i % 5 + 2).toLong)))
      .toDF("row_id", "k")
    val dim = Seq((1L, "hot"), (2L, "a"), (3L, "b"), (4L, "c"), (5L, "d"), (6L, "e"))
      .toDF("k", "label")
    val salted = graft.operators.JoinPrune
      .saltedJoin(fact, dim, Seq("k"), saltOn = "row_id", nSalts = 4)
    val plain = fact.join(dim, Seq("k"))
    assert(salted.columns.toSeq == plain.columns.toSeq)
    val s = salted.select($"row_id", $"k", $"label").as[(Long, Long, String)]
      .collect().toSet
    val p = plain.select($"row_id", $"k", $"label").as[(Long, Long, String)]
      .collect().toSet
    assert(s == p, "salting must be invisible in the result")
    // the hot key's fact rows really spread across multiple salt buckets
    val spread = fact.filter($"k" === 1L)
      .select(pmod(xxhash64($"row_id"), lit(4L))).distinct().count()
    assert(spread > 1, "hot key must shard across salts")
  }

  // --- embedding pooling -------------------------------------------------

  test("meanPool averages per dimension; l2Normalize yields unit vectors, zero passes through") {
    import spark.implicits._
    val chunks = Seq(
      (1L, Seq(1.0, 3.0)), (1L, Seq(3.0, 5.0)),   // doc 1 → mean (2, 4)
      (2L, Seq(0.0, 0.0))                          // doc 2 → zero vector
    ).toDF("doc_id", "v")
    val pooled = graft.operators.Similarity.meanPool(chunks, "doc_id")
      .as[(Long, Seq[Double])].collect().toMap
    assert(pooled(1L) == Seq(2.0, 4.0) && pooled(2L) == Seq(0.0, 0.0))
    val normed = graft.operators.Similarity.l2Normalize(
      graft.operators.Similarity.meanPool(chunks, "doc_id"))
      .as[(Long, Seq[Double])].collect().toMap
    val n1 = math.sqrt(normed(1L).map(x => x * x).sum)
    assert(math.abs(n1 - 1.0) < 1e-5, s"normalized norm $n1 != 1")
    assert(normed(2L) == Seq(0.0, 0.0), "zero vector must pass through un-NaN'd")
    // component ratio preserved: (2,4) → (1,2)/√5
    assert(math.abs(normed(1L)(1) / normed(1L)(0) - 2.0) < 1e-4)
  }

  test("embeddingDrift: identical → 1, orthogonal → 0, one-sided stratum → null cosine") {
    import spark.implicits._
    val oldV = Seq(
      ("a", Seq(1.0, 0.0)), ("a", Seq(1.0, 0.0)),
      ("b", Seq(0.0, 2.0)),
      ("gone", Seq(1.0, 1.0))
    ).toDF("src", "v")
    val newV = Seq(
      ("a", Seq(1.0, 0.0)),        // unchanged direction → cos 1
      ("b", Seq(3.0, 0.0))         // rotated 90° → cos 0
    ).toDF("src", "v")
    val got = graft.operators.Similarity.embeddingDrift(oldV, newV, "src")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      .toMap
    assert(got("a") == ((2L, 1L, Some(1.0))))
    assert(got("b") == ((1L, 1L, Some(0.0))))
    assert(got("gone") == ((1L, 0L, None)), "one-sided stratum keeps counts, null cosine")
  }

  // --- corpus profile ----------------------------------------------------

  test("corpusProfile: volumes, integer means, language diversity, short-doc ppm") {
    import spark.implicits._
    val docs = Seq(
      (1L, "one two three", "en", "web"),
      (2L, "a b c d e f g h i j", "de", "web"),   // 10 tokens
      (3L, "x", "en", "books")                     // short (< 5)
    ).toDF("doc_id", "text", "lang", "source")
    val got = Curation.corpusProfile(docs, "source", "text", "lang",
        shortBelowTokens = 5L)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // "one two three" is 3 tokens < 5 ⇒ 1 of web's 2 docs is short
    assert(got("web") == (("web", 2L, 13L, 6L, 2L, 500000L)))
    assert(got("books") == (("books", 1L, 1L, 1L, 1L, 1000000L)))
  }

  // --- skew diagnostics --------------------------------------------------

  test("skewStats ranks hot keys with exact shares; salted cut ≡ direct ranking") {
    import spark.implicits._
    // key "hot" 60 rows, "warm" 30, ten cold keys 1 row each: 100 rows, 12 keys
    val rows = (Seq.fill(60)("hot") ++ Seq.fill(30)("warm") ++
      (0 until 10).map(i => s"cold$i")).toDF("k")
    val got = graft.operators.Frequency.skewStats(rows, Seq("k"), topN = 3)
      .as[(String, Long, Long, Double, Int)].collect()
    assert(got.map(r => (r._1, r._2, r._5)).toSeq ==
      Seq(("hot", 60L, 1), ("warm", 30L, 2), ("cold0", 1L, 3)))
    val hot = got.head
    assert(hot._3 == 600000L) // 60/100 in ppm, integer-exact
    assert(hot._4 == 7.2)     // 60 / (100/12 mean)
  }

  // --- NaN / degenerate-input guards (zero-norm cosine is 0/0 = NaN,
  // and Spark's nan-safe ordering + comparisons treat NaN as LARGER
  // than every real double — so an unguarded desc ranking or
  // >= threshold filter promotes exactly the garbage rows) ------------

  test("zero-norm vectors never rank, pair, or semantically dedup") {
    import spark.implicits._
    import graft.operators.Similarity
    // brute-force top-k: an all-zero corpus vector must not crown any
    // probe (pre-guard it ranked FIRST for every probe: cosine NaN
    // sorts above 1.0 in a descending nan-safe sort)
    val vecs = ((0L until 6L)
      .map(i => (i, Seq(math.cos(i / 6.0), math.sin(i / 6.0)))) :+
      (99L, Seq(0.0, 0.0))).toDF("vec_id", "v")
    val probes = Seq((1000L, Seq(1.0, 0.0))).toDF("probe_id", "p")
    val top = Similarity.bruteForceTopK(vecs, probes, k = 3)
      .select($"vec_id", $"cosine").as[(Long, Double)].collect()
    assert(!top.map(_._1).contains(99L),
      s"zero-norm vector crowned the top-k: ${top.toSeq}")
    assert(top.forall(r => !r._2.isNaN) && top.length == 3)
    // SRP near-dup pairs: zero vectors share the all-ones sign code in
    // every band (0.0 >= 0), so they become candidates of each other —
    // but an undefined cosine is not a verified near-duplicate
    val withZeros = ((0L until 4L)
      .map(i => (i, Seq(1.0, 2.0, 3.0, 4.0))) ++
      Seq((50L, Seq(0.0, 0.0, 0.0, 0.0)), (51L, Seq(0.0, 0.0, 0.0, 0.0))))
      .toDF("vec_id", "v")
    val pairs = Similarity.cosineNearDups(withZeros, threshold = 0.9, dim = 4)
      .select($"v1", $"v2", $"cosine").as[(Long, Long, Double)].collect()
    assert(pairs.nonEmpty && pairs.forall(p => !p._3.isNaN),
      s"NaN cosine emitted as a near-dup: ${pairs.toSeq}")
    assert(!pairs.exists(p => p._1 >= 50L || p._2 >= 50L),
      s"zero-norm vectors reported as near-dups: ${pairs.toSeq}")
    // semanticDedup: degenerates share the -1 no-match label — they
    // must neither pair with each other nor appear as removed rows
    val sem = Similarity.semanticDedup(withZeros, k = 2, iters = 2,
        threshold = 0.9)
      .select($"removed_vec_id", $"max_cos").as[(Long, Double)].collect()
    assert(sem.map(_._1).toSet == Set(1L, 2L, 3L),
      s"expected exactly the identical-vector dups removed: ${sem.toSeq}")
    assert(sem.forall(r => !r._2.isNaN))
  }

  test("rerankExact cleans duplicate and self-pair candidates") {
    import spark.implicits._
    import graft.operators.Similarity
    val vecs = (0L until 6L)
      .map(i => (i, Seq(math.cos(i / 6.0), math.sin(i / 6.0))))
      .toDF("vec_id", "v")
    val probes = Seq((0L, Seq(1.0, 0.0))).toDF("probe_id", "p")
    // candidate list carries the probe itself AND a duplicated pair —
    // a union of two ANN sources does exactly this
    val cands = Seq((0L, 0L), (0L, 1L), (0L, 1L), (0L, 2L), (0L, 3L))
      .toDF("probe_id", "vec_id")
    val got = Similarity.rerankExact(cands, probes, vecs, k = 3)
      .select($"vec_id", $"rank").as[(Long, Int)].collect().sortBy(_._2)
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L),
      s"self-pair or duplicate survived the rerank: ${got.toSeq}")
  }

  test("mmrSelect rejects non-integral id and relevance columns loudly") {
    import spark.implicits._
    import graft.operators.Similarity
    val cands = Seq(("q1", "doc42", 1000000L, Seq(1.0, 0.0)))
      .toDF("query_id", "id", "rel_ppm", "v")
    // a string id would cast to null and silently drop EVERY candidate
    val e = intercept[IllegalArgumentException] {
      Similarity.mmrSelect(cands, "query_id", "id", "rel_ppm", "v",
        n = 1, lambdaPpm = 700000L)
    }
    assert(e.getMessage.contains("integral"), e.getMessage)
  }

  test("embeddingDrift pairs the null stratum across versions") {
    import spark.implicits._
    import graft.operators.Similarity
    val oldV = Seq((Option("a"), Seq(1.0, 0.0)), (Option.empty[String], Seq(0.0, 1.0)))
      .toDF("src", "v")
    val newV = Seq((Option("a"), Seq(1.0, 0.0)), (Option.empty[String], Seq(0.0, 1.0)))
      .toDF("src", "v")
    val got = Similarity.embeddingDrift(oldV, newV, "src")
      .select($"src", $"n_old", $"n_new", $"drift_cos")
      .as[(Option[String], Long, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // a plain USING join split the null stratum into two half-rows each
    // claiming the other version was empty, with no drift_cos at all
    assert(got(None) == ((1L, 1L, Some(1.0))),
      s"null stratum must pair across versions: $got")
    assert(got(Some("a")) == ((1L, 1L, Some(1.0))))
  }

  test("dedup edge contracts: bands=1 simhash, replayed-delta self-pairs, string-id representatives, unconverged components fail loudly") {
    import spark.implicits._
    import graft.operators.Dedup
    // bands = 1: the band mask is the FULL 64 bits ((1L << 64) wraps to
    // 1, so a naive mask collapsed every fingerprint to code 0 — one
    // corpus-sized bucket). Distinct fingerprints must NOT pair.
    val fps = Seq((1L, 5L), (2L, 5L), (3L, 0x7fffffffffffffffL))
      .toDF("id", "f")
    val sp = Dedup.simhashNearDups(fps, maxHamming = 0, bands = 1)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    assert(sp == Set((1L, 2L)),
      s"bands=1 must bucket on the full 64-bit code: $sp")
    // a doc present in both the stored index and a replayed delta batch
    // must not pair with itself (it would verify at Jaccard 1.0 and be
    // dropped as a duplicate of itself)
    val corpus = Seq((10L, "alpha beta gamma delta epsilon zeta")).toDF("id", "text")
    val idx = Dedup.buildBandIndex(corpus, "id", "text", n = 3, k = 8, bands = 4)
    val cands = Dedup.incrementalNearDupCandidates(idx, corpus, "id", "text",
        n = 3, k = 8, bands = 4)
      .collect()
    assert(cands.isEmpty, s"self-pairs from a replayed delta: ${cands.toSeq}")
    // string doc ids: the old tie-break negated the id (ANSI cast error /
    // nondeterministic ties); (−q, id) struct argmin keeps string support
    val clusters = Seq(("doc-b", "rep"), ("doc-a", "rep"), ("doc-c", "rep"))
      .toDF("doc_id", "cluster_rep")
    val quality = Seq(("doc-a", 1.0), ("doc-b", 1.0), ("doc-c", 0.5))
      .toDF("doc_id", "q")
    val kept = Dedup.selectRepresentatives(clusters, quality, "doc_id", "q")
      .select($"kept_doc_id").as[String].head()
    assert(kept == "doc-a", s"quality tie must keep the smaller id: $kept")
    // a chain longer than maxIter propagates partially — that must THROW
    // (silent partial labels split one true cluster into several)
    val chain = (0L until 6L).sliding(2).map(p => (p(0), p(1))).toSeq
      .toDF("d1", "d2")
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(chain, maxIter = 2).collect()
    }
    assert(e.getMessage.contains("converge"), e.getMessage)
    // and with enough rounds the same chain fully converges to one rep
    val reps = Dedup.connectedComponents(chain, maxIter = 10)
      .select($"cluster_rep").distinct().as[Long].collect().toSeq
    assert(reps == Seq(0L))
  }

  test("curation guards: empty docs carry zero tokens, zero budget throws, uppercase bm25 terms match") {
    import spark.implicits._
    import graft.operators.{Curation, Retrieval}
    val docs = Seq(
      (1L, "one two three", "en", "web"),
      (2L, "   ", "en", "web"),
      (3L, "", "en", "web")).toDF("doc_id", "text", "lang", "source")
    val prof = Curation.corpusProfile(docs, "source", "text", "lang",
        shortBelowTokens = 2L)
      .select($"sum_tokens", $"n_docs").as[(Long, Long)].head()
    // split(trim('')) is [''] — a phantom token per empty doc unless
    // filtered; 2 empty docs must contribute 0, not 2
    assert(prof == ((3L, 3L)), s"phantom tokens on empty docs: $prof")
    intercept[IllegalArgumentException] {
      Curation.packBatches(docs, "source", "doc_id", "doc_id", budget = 0L)
    }
    // corpus tokens lowercase; a verbatim uppercase query term must
    // normalize instead of silently matching nothing
    val hits = Retrieval.bm25TopK(docs, "doc_id", "text", Seq("Two", "TWO"),
        k = 5)
      .select($"doc_id").as[Long].collect().toSeq
    assert(hits == Seq(1L), s"case-variant terms must match (once): $hits")
  }

  test("pqFit and opqFit release their pinned training samples") {
    import spark.implicits._
    import graft.operators.Similarity
    val sample = (0L until 32L)
      .map(i => (i, Seq.tabulate(4)(j => math.sin(i + j))))
      .toDF("vec_id", "v")
    val before = spark.sparkContext.getPersistentRDDs.size
    Similarity.pqFit(sample, m = 2, subDim = 2, ksub = 4, iters = 2).count()
    Similarity.opqFit(sample, m = 2, subDim = 2, ksub = 4,
      pqIters = 1, opqIters = 1)
    val after = spark.sparkContext.getPersistentRDDs.size
    // Dataset.unpersist on a localCheckpoint is a CacheManager no-op —
    // the release must go through the plan's LogicalRDD (pre-fix this
    // leaked one sample-sized pin per call, one PER ROUND under opqFit)
    assert(after <= before,
      s"pinned training samples leaked: $before -> $after persistent RDDs")
  }
}
