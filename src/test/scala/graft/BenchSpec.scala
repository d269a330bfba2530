package graft

import graft.Bench.{Failed, Measured, Work}

/** The bench's two primitives: [[Bench.drift]] (pure, no Spark) and the
  * work block [[Bench.measure]] records. */
class BenchSpec extends SparkTestBase {

  private def m(median: Double, exchanges: Int = 2): Measured =
    Measured(median, 5.0, Work(1, 2, 8, 0, 0, 0, exchanges))

  private def record(qs: (String, Double, Int)*): String = {
    val medians = qs.map { case (k, v, _) => s""""$k":$v""" }.mkString(",")
    val work = qs.map { case (k, _, x) => s""""$k":${m(0, x).work.toJson}""" }.mkString(",")
    s"""{"metric":"total","queries":{$medians},"work":{$work},"sf":"x"}"""
  }

  test("drift flags a median that moved more than 20% either way") {
    val prev = record(("a", 1.0, 2), ("b", 1.0, 2), ("c", 1.0, 2))
    val d = Bench.drift(Seq("a" -> m(1.5), "b" -> m(0.7), "c" -> m(1.15)), Some(prev))
    assert(d.flagged.toSet == Set("a", "b"))
    assert(d.comparable == 3 && d.warning.isEmpty)
  }

  test("drift flags an Exchange-count change in either direction at an unmoved median") {
    val prev = record(("more", 1.0, 2), ("fewer", 1.0, 2), ("same", 1.0, 2))
    val d = Bench.drift(
      Seq("more" -> m(1.0, exchanges = 3), "fewer" -> m(1.0, exchanges = 1),
        "same" -> m(1.0, exchanges = 2)), Some(prev))
    assert(d.flagged.toSet == Set("more", "fewer"))
  }

  test("a failed (-1) key is excluded from total and listed in failed_queries") {
    val d = Bench.drift(Seq("a" -> m(1.25), "broken" -> Failed, "b" -> m(0.5)), None)
    assert(d.total == 1.75)
    assert(d.failed == Seq("broken"))
    assert(d.flagged.isEmpty && d.warning.isEmpty, "no baseline: nothing to compare, nothing to warn")
  }

  test("a baseline from which nothing compares yields a loud drift_warning") {
    val results = Seq("a" -> m(1.0))
    for (baseline <- Seq("""{"metric":"total","garbage":true}""", "not json {",
                         record(("other", 1.0, 2)))) {
      val d = Bench.drift(results, Some(baseline))
      assert(d.comparable == 0 && d.flagged.isEmpty)
      assert(d.warning.exists(_.contains("vacuous")), s"silent clean record for baseline $baseline")
    }
  }

  test("a baseline without work blocks still compares medians") {
    val prev = """{"queries":{"a":1.0,"b":2.0}}"""
    val d = Bench.drift(Seq("a" -> m(1.0), "b" -> m(3.0)), Some(prev))
    assert(d.comparable == 2 && d.flagged == Seq("b") && d.warning.isEmpty)
  }

  test("the headline line for the full key set parses and stays under 2,000 characters") {
    // the widest plausible medians, and one failed key
    val results = Bench.headline.map(_ -> m(1000.0)) :+ ("broken" -> Failed)
    val d = Bench.drift(results, None)
    val line = Bench.obj(Bench.headlineFields(results, d, 12.34))
    assert(line.length < 2000, s"${line.length} characters")
    val j = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(j.path("metric").asText == "total" && j.path("value").asDouble == d.total)
    assert(j.path("queries").size == Bench.headline.size + 1)
    assert(j.path("failed_queries").get(0).asText == "broken")
    assert(j.path("serde_uuid_vs_gate").asDouble == 12.34)
  }

  test("measure records d_chunk_dedup's 3 exchanges (as PlanSpec pins) and its jobs") {
    val r = Bench.measure(spark)(SparkEntry.queries("d_chunk_dedup")(spark, sf()))
    assert(r.work.exchanges == 3, s"work block: ${r.work}")
    assert(r.work.jobs >= 1 && r.work.tasks >= r.work.stages && r.work.stages >= 1, s"work block: ${r.work}")
    assert(r.median > 0 && r.spreadPct >= 0)
  }
}
