package graft

import graft.refresh.{PriorityRefreshQueue, RefreshStatus}
import graft.schema.SchemaRegistry

/** Refresh jobs as persisted catalog state (reference:
  * schematizer.py:981-1109 refresh CRUD; models/refresh.py): a manager
  * restart must find the queue — statuses, priorities, resume offsets —
  * exactly where it left it. */
class RefreshCatalogSpec extends SparkTestBase {

  private val userJson =
    """{"type":"record","name":"user","namespace":"yelp","fields":[
       |{"name":"id","type":"int","pkey":1},{"name":"name","type":"string"}]}""".stripMargin

  test("refresh CRUD: create for a known source, update status+offset, criteria queries") {
    val reg = new SchemaRegistry
    reg.registerSchema("yelp", "user", userJson)

    intercept[IllegalArgumentException] {
      reg.createRefresh("yelp", "nope", 0L, 500, 50)
    }

    val r1 = reg.createRefresh("yelp", "user", 0L, 500, priority = 75)
    assert(r1.status == RefreshStatus.NotStarted && r1.refreshId == 1)

    val started = reg.updateRefresh(r1.refreshId, RefreshStatus.InProgress, 1000L)
    assert(started.offset == 1000L && started.updatedAt > r1.updatedAt)
    assert(reg.getRefreshById(r1.refreshId).get.status == RefreshStatus.InProgress)

    reg.registerSchema("other_ns", "t", userJson.replace("\"user\"", "\"t\""))
    val r2 = reg.createRefresh("other_ns", "t", 0L, 100, priority = 25)

    assert(reg.getRefreshesByNamespace("yelp").map(_.refreshId) == Seq(1))
    assert(reg.getRefreshesByCriteria(status = Some(RefreshStatus.NotStarted))
      .map(_.refreshId) == Seq(r2.refreshId))
    assert(reg.getRefreshesByCriteria(createdAfter = Some(r2.createdAt))
      .map(_.refreshId) == Seq(r2.refreshId))
    assert(reg.getRefreshesByCriteria(updatedAfter = Some(started.updatedAt))
      .map(_.refreshId) == Seq(1, r2.refreshId))
    assert(reg.getRefreshesByCriteria().size == 2)
  }

  test("a paused refresh survives save/load and resumes from its stored offset") {
    import org.apache.spark.sql.functions.col
    val reg = new SchemaRegistry
    reg.registerSchema("yelp", "user", userJson)
    reg.registerSchema("yelp", "biz", userJson.replace("\"user\"", "\"biz\""))

    val active = reg.createRefresh("yelp", "user", 0L, 500, priority = 100)
    val waiting = reg.createRefresh("yelp", "biz", 0L, 500, priority = 50)
    reg.updateRefresh(active.refreshId, RefreshStatus.InProgress, 0L)
    // SIGTERM analog: pause with the last processed pk (ST8 semantics)
    reg.updateRefresh(active.refreshId, RefreshStatus.Paused, 4200L)

    val dir = java.nio.file.Files.createTempDirectory("refresh_catalog").toString
    reg.save(spark, dir)

    // manager restart
    val reloaded = SchemaRegistry.load(spark, dir)
    val revived = reloaded.getRefreshById(active.refreshId).get
    assert(revived.status == RefreshStatus.Paused)
    assert(revived.offset == 4200L) // resume position intact
    assert(reloaded.refreshes.size == 2)

    // the scheduler runs off the persisted catalog: PAUSED resume beats
    // NOT_STARTED start (priority first, then status rank)
    val sched = PriorityRefreshQueue.scheduleDF(reloaded.refreshesDF(spark))
      .select(col("refresh_id")).collect().map(_.getInt(0)).toSeq
    assert(sched == Seq(active.refreshId, waiting.refreshId))

    // new work after reload continues the id sequence, no collisions
    reg.registerSchema("yelp", "review", userJson.replace("\"user\"", "\"review\""))
    val next = reloaded.getRefreshesByCriteria().map(_.refreshId).max
    val r3 = reloaded.createRefresh("yelp", "user", 0L, 100, 25)
    assert(r3.refreshId == next + 1)

    // resume completes the state machine
    reloaded.updateRefresh(active.refreshId, RefreshStatus.InProgress, 4200L)
    reloaded.updateRefresh(active.refreshId, RefreshStatus.Success, 9999L)
    assert(reloaded.getRefreshById(active.refreshId).get.status == RefreshStatus.Success)
  }

  test("manager tick starts queue heads within concurrency and allocates caps") {
    import graft.refresh.RefreshManager
    val reg = new SchemaRegistry
    Seq("u1", "u2", "u3").foreach(s =>
      reg.registerSchema("yelp", s, userJson.replace("\"user\"", s""""$s"""")))

    val hi = reg.createRefresh("yelp", "u1", 0L, 500, priority = 100)
    val mid = reg.createRefresh("yelp", "u2", 0L, 500, priority = 50,
      avgRowsPerSecondCap = Some(200))
    val lo = reg.createRefresh("yelp", "u3", 0L, 500, priority = 25)
    // a second u1 job must NOT start while u1's first is running
    val hiDup = reg.createRefresh("yelp", "u1", 0L, 500, priority = 100)

    val t1 = RefreshManager.tick(reg, maxConcurrent = 2)
    assert(t1.started.map(_.refreshId) == Seq(hi.refreshId, mid.refreshId))
    assert(reg.getRefreshById(hi.refreshId).get.status == RefreshStatus.InProgress)
    assert(t1.caps.keySet == Set(hi.refreshId, mid.refreshId))
    assert(t1.caps(mid.refreshId) == 200) // under budget: requested cap passes through

    // saturated: nothing new starts
    assert(RefreshManager.tick(reg, maxConcurrent = 2).started.isEmpty)

    // a slot opens -> lo starts; u1's duplicate still blocked by the running one
    reg.updateRefresh(mid.refreshId, RefreshStatus.Success, 9999L)
    val t3 = RefreshManager.tick(reg, maxConcurrent = 2)
    assert(t3.started.map(_.refreshId) == Seq(lo.refreshId))

    // worker loss: running jobs flip FAILED at their stored offsets
    val failed = RefreshManager.failLostJobs(reg, Set(hi.refreshId, lo.refreshId))
    assert(failed.map(_.status).toSet == Set(RefreshStatus.Failed))
    // now u1's duplicate is startable again
    val t4 = RefreshManager.tick(reg, maxConcurrent = 2)
    assert(t4.started.map(_.refreshId) == Seq(hiDup.refreshId))
  }

  test("data targets, consumer groups and meta mappings survive save/load") {
    val reg = new SchemaRegistry
    val e = reg.registerSchema("yelp", "user", userJson)
    val ivEntry = reg.registerSchema("graft.crypto", "iv",
      graft.core.Envelope.initializationVectorSchemaJson)
    val t = reg.createDataTarget("warehouse", "redshift", "jdbc:redshift://x")
    val g = reg.createConsumerGroup("etl", t.dataTargetId)
    reg.addConsumerGroupDataSource(g.consumerGroupId, "yelp", None)
    reg.registerMetaAttributeMapping("yelp", Some("user"), ivEntry.schemaId)

    val dir = java.nio.file.Files.createTempDirectory("dt_catalog").toString
    reg.save(spark, dir)
    val reloaded = SchemaRegistry.load(spark, dir)

    assert(reloaded.dataTargets.map(t2 => (t2.dataTargetId, t2.name, t2.destination)) ==
      Seq((t.dataTargetId, "warehouse", "jdbc:redshift://x")))
    assert(reloaded.consumerGroups.map(g2 => (g2.consumerGroupId, g2.dataTargetId)) ==
      Seq((g.consumerGroupId, t.dataTargetId)))
    // the data-target topic resolution works off the reloaded wiring
    assert(reloaded.topicsByDataTarget(t.dataTargetId).map(_.name)
      .contains(e.topicName))
    assert(reloaded.mandatoryMetaAttributes(e.schemaId) == Set(ivEntry.schemaId))
    // id sequences continue past restored rows
    assert(reloaded.createDataTarget("x", "y", "z").dataTargetId == t.dataTargetId + 1)
  }

  test("refresh requester: reference option validation, then catalog registration") {
    import graft.tools.RefreshRequester
    import graft.tools.RefreshRequester.Request
    val reg = new SchemaRegistry
    reg.registerSchema("yelp", "user", userJson)

    // happy path by (namespace, source_name): defaults mirror the
    // reference (offset 0, batch 500, MEDIUM=50)
    val j = RefreshRequester.request(reg,
      Request(sourceName = Some("user"), namespace = Some("yelp"),
        priority = "HIGH", batchSize = 250, offset = 42L,
        filterCondition = Some("country='CA'"), avgRowsPerSecondCap = Some(100)))
    assert(j.namespaceName == "yelp" && j.sourceName == "user")
    assert(j.priority == 75 && j.batchSize == 250 && j.offset == 42L)
    assert(j.filterCondition.contains("country='CA'") &&
      j.avgRowsPerSecondCap.contains(100))

    // happy path by source id
    val sid = reg.sourcesByNamespace("yelp").find(_.name == "user").get.sourceId
    val j2 = RefreshRequester.request(reg, Request(sourceId = Some(sid)))
    assert(j2.priority == 50 && j2.batchSize == 500 && j2.offset == 0L)

    def fails(r: Request, needle: String): Unit = {
      val e = intercept[IllegalArgumentException](RefreshRequester.request(reg, r))
      assert(e.getMessage.contains(needle), s"message <${e.getMessage}> !~ $needle")
    }
    // each reference validation failure, in its order
    fails(Request(sourceId = Some(sid), avgRowsPerSecondCap = Some(0)),
      "avg-rows-per-second-cap")
    fails(Request(sourceId = Some(sid), batchSize = 0), "batch-size")
    fails(Request(), "source-id or both")
    fails(Request(sourceName = Some("user")), "source-id or both") // half a pair
    fails(Request(sourceId = Some(sid), namespace = Some("yelp")),
      "cannot use both")
    fails(Request(sourceName = Some("nope"), namespace = Some("yelp")),
      "found no sources")
    fails(Request(sourceId = Some(99999)), "found no source")
    fails(Request(sourceId = Some(sid), priority = "URGENT"), "priority")
    // precedence: with BOTH an unknown source and a bad priority the
    // source error wins — the reference's Priority[...] lookup only runs
    // inside create_request, after source resolution
    fails(Request(sourceName = Some("nope"), namespace = Some("yelp"),
      priority = "URGENT"), "found no sources")
  }

  test("applyCdc: upsert/delete/insert/passthrough, latest change per key wins") {
    import spark.implicits._
    import graft.refresh.CdcMerge
    val snapshot = Seq(
      (1L, "alice", 100L), // updated twice — last (by seq) wins
      (2L, "bob", 200L),   // deleted
      (3L, "carol", 300L), // untouched
      (4L, "dave", 400L)   // update then delete — the delete is later
    ).toDF("k", "name", "bal")
    val changes = Seq(
      (1L, "u", "alice2", 110L, 10L),
      (1L, "u", "alice3", 120L, 20L),
      (2L, "d", "", 0L, 11L),
      (4L, "u", "dave2", 410L, 12L),
      (4L, "d", "", 0L, 13L),
      (5L, "u", "eve", 500L, 14L),  // insert: key absent from snapshot
      (6L, "d", "", 0L, 15L)        // delete of an absent key: no-op
    ).toDF("k", "op", "name", "bal", "seq")
    val got = CdcMerge.applyCdc(snapshot, changes, "k",
        seqCols = Seq("seq"), opCol = "op", payloadCols = Seq("name", "bal"))
      .as[(Long, String, Long)].collect().toSet
    assert(got == Set(
      (1L, "alice3", 120L),
      (3L, "carol", 300L),
      (5L, "eve", 500L)))
    // idempotence: re-applying the same batch to the merged state only
    // re-plays the inserts/updates — the steady state of an at-least-once
    // replay (reference delivery guarantee)
    val again = CdcMerge.applyCdc(
        got.toSeq.toDF("k", "name", "bal"), changes, "k",
        Seq("seq"), "op", Seq("name", "bal"))
      .as[(Long, String, Long)].collect().toSet
    assert(again == got, "CDC apply must be idempotent under batch replay")
  }

  test("applyCdc: one batch ≡ folding its changes one at a time in seq order") {
    import spark.implicits._
    import graft.refresh.CdcMerge
    // seeded random op stream over a small key space: heavy key reuse so
    // latest-wins, delete-then-update and update-then-delete all occur
    val rnd = new scala.util.Random(8)
    val changes = (0 until 30).map { i =>
      (rnd.nextInt(8).toLong,
        if (rnd.nextInt(4) == 0) "d" else "u",
        s"n$i", rnd.nextInt(1000).toLong, i.toLong)
    }
    val snapshot: Seq[(Long, String, Long)] =
      (0L until 5L).map(k => (k, s"init$k", k * 10L))
    def apply1(state: Seq[(Long, String, Long)],
               ch: (Long, String, String, Long, Long)): Seq[(Long, String, Long)] =
      CdcMerge.applyCdc(state.toDF("k", "name", "bal"),
          Seq(ch).toDF("k", "op", "name", "bal", "seq"),
          "k", Seq("seq"), "op", Seq("name", "bal"))
        .as[(Long, String, Long)].collect().toSeq
    val folded = changes.foldLeft(snapshot)(apply1).toSet
    val batched = CdcMerge.applyCdc(snapshot.toDF("k", "name", "bal"),
        changes.toDF("k", "op", "name", "bal", "seq"),
        "k", Seq("seq"), "op", Seq("name", "bal"))
      .as[(Long, String, Long)].collect().toSet
    assert(batched == folded,
      "batch apply must equal the sequential one-change-at-a-time fold")
  }

  test("catalog save is crash-atomic: a generation without its commit marker is invisible") {
    val dir = java.nio.file.Files.createTempDirectory("reg_atomic").toString
    val reg = new SchemaRegistry
    reg.registerSchema("yelp", "user", userJson)
    reg.createRefresh("yelp", "user", 0L, 500, 50)
    reg.save(spark, dir)
    reg.updateRefresh(1, RefreshStatus.InProgress, 1234L)
    reg.save(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a crash mid-save of a THIRD generation: tables written,
    // marker never landed, pointer never flipped
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir, "gen_2/schemas"))
    val back = SchemaRegistry.load(spark, dir)
    assert(back.getRefreshById(1).exists(j =>
      j.status == RefreshStatus.InProgress && j.offset == 1234L),
      "load must resolve the newest COMMITTED generation")
    // and a dangling pointer (names a gen whose marker is gone) falls
    // back to the newest committed generation instead of failing
    fs.delete(new org.apache.hadoop.fs.Path(dir, "gen_1/_COMMITTED"), false)
    val back2 = SchemaRegistry.load(spark, dir)
    assert(back2.getRefreshById(1).exists(j =>
      j.status == RefreshStatus.NotStarted && j.offset == 0L),
      "a dangling pointer must fall back to the previous committed generation")
  }

  test("catalog pointer crash windows: a mid-swap temp pointer resolves its generation; a garbage pointer falls back") {
    val dir = java.nio.file.Files.createTempDirectory("reg_pointer").toString
    val reg = new SchemaRegistry
    reg.registerSchema("yelp", "user", userJson)
    reg.createRefresh("yelp", "user", 0L, 500, 50)
    reg.save(spark, dir) // gen_0: refresh not started
    reg.updateRefresh(1, RefreshStatus.InProgress, 1234L)
    reg.save(spark, dir) // gen_1: refresh in progress
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def writeFile(name: String, content: String): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(dir, name), true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
    }
    def status(): Option[(RefreshStatus.Value, Long)] =
      SchemaRegistry.load(spark, dir).getRefreshById(1).map(j => (j.status, j.offset))
    // die between the pointer delete and its rename: the temp pointer
    // is the pointer (it names gen_0 here, so the newest-committed
    // fallback would read differently)
    writeFile("_latest_gen.tmp", "gen_0")
    fs.delete(new org.apache.hadoop.fs.Path(dir, "_latest_gen"), false)
    assert(status().contains((RefreshStatus.NotStarted, 0L)),
      "a mid-swap load must resolve the generation the temp pointer names")
    // a garbage pointer falls back to the newest committed generation
    fs.delete(new org.apache.hadoop.fs.Path(dir, "_latest_gen.tmp"), false)
    writeFile("_latest_gen", "not a generation")
    assert(status().contains((RefreshStatus.InProgress, 1234L)),
      "a garbage pointer must fall back to the newest committed generation")
  }

  test("generation vacuum keeps a COMMITTED grace copy and deletes crash debris") {
    val dir = java.nio.file.Files.createTempDirectory("reg_vacuum").toString
    val reg = new SchemaRegistry
    reg.registerSchema("yelp", "user", userJson)
    reg.save(spark, dir) // gen_0 committed
    reg.save(spark, dir) // gen_1 committed
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash mid-save of gen_2: tables written, marker never landed
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir, "gen_2/schemas"))
    reg.save(spark, dir) // gen_3 committed; vacuum runs
    val left = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filter(_.matches("^gen_\\d+$")).sorted.toSeq
    // survivors: the new generation + ONE grace copy, and the grace copy
    // must be the newest COMMITTED old gen — a reader that resolved the
    // pointer just before the flip was reading gen_1, never the gen_2
    // debris, so keeping debris as the "grace copy" (and deleting gen_1)
    // would void the guarantee exactly in the crash window
    assert(left == Seq("gen_1", "gen_3"),
      s"expected committed grace copy gen_1 + new gen_3, got $left")
    // the surviving grace copy still loads if the new pointer is torn
    fs.delete(new org.apache.hadoop.fs.Path(dir, "gen_3/_COMMITTED"), false)
    val back = SchemaRegistry.load(spark, dir)
    assert(back.schemas.nonEmpty, "grace copy must remain loadable")
  }

  test("reload restores logical ticks verbatim: a checkpointed new-topics consumer never skips a newer topic") {
    val dir = java.nio.file.Files.createTempDirectory("reg_ticks").toString
    val reg = new SchemaRegistry
    reg.registerSchema("yelp", "user", userJson)
    // burn a stretch of clock ticks on refresh traffic between the two
    // registrations — the replay-resynthesized ticks would collapse this
    // gap and shift topic2 BELOW the consumer's checkpoint
    reg.createRefresh("yelp", "user", 0L, 500, 50)
    (0 until 10).foreach(i =>
      reg.updateRefresh(1, RefreshStatus.InProgress, i.toLong))
    val checkpoint = reg.topics.map(_.createdAt).max // consumer caught up
    reg.registerSchema("yelp", "biz", userJson.replace("user", "biz"))
    assert(reg.topicsCreatedAfter(checkpoint).map(_.sourceName) == Seq("biz"))
    reg.save(spark, dir)
    val back = SchemaRegistry.load(spark, dir)
    assert(back.topicsCreatedAfter(checkpoint).map(_.sourceName) == Seq("biz"),
      "restored topic ticks must compare identically against a pre-restart checkpoint")
    // and post-reload ticks stay strictly monotone vs restored history
    val r2 = back.createRefresh("yelp", "biz", 0L, 100, 10)
    assert(r2.createdAt > back.topics.map(_.createdAt).max)
  }

  test("manager transitions are compare-and-set: no offset rollback, no zombie resurrection, namespaces independent") {
    import graft.refresh.RefreshManager
    val reg = new SchemaRegistry
    reg.registerSchema("ads", "users", userJson)
    reg.registerSchema("billing", "users", userJson)
    val a = reg.createRefresh("ads", "users", 0L, 500, 90)
    val b = reg.createRefresh("billing", "users", 0L, 500, 10)
    // ads.users running must NOT starve billing.users (same source name,
    // different namespace)
    reg.updateRefresh(a.refreshId, RefreshStatus.InProgress, 100L)
    val t = RefreshManager.tick(reg)
    assert(t.started.map(_.refreshId) == Seq(b.refreshId),
      s"same-named source in another namespace must start, got ${t.started}")
    // offset preservation: a pause-flush that lands after the scheduling
    // snapshot must not be rolled back by the start transition
    reg.updateRefresh(b.refreshId, RefreshStatus.Paused, 2000L)
    val resumed = reg.transitionRefresh(b.refreshId,
      RefreshStatus.Paused, RefreshStatus.InProgress)
    assert(resumed.exists(_.offset == 2000L),
      "transition must preserve the STORED offset, never a snapshot's")
    // stale CAS fails instead of resurrecting
    assert(reg.transitionRefresh(b.refreshId,
      RefreshStatus.Paused, RefreshStatus.InProgress).isEmpty)
    // zombie sweep cannot overwrite a terminal state the worker raced in
    reg.updateRefresh(a.refreshId, RefreshStatus.Success, 9999L)
    val failed = RefreshManager.failLostJobs(reg, Set(a.refreshId))
    assert(failed.isEmpty &&
      reg.getRefreshById(a.refreshId).exists(_.status == RefreshStatus.Success),
      "a completed job must not be flipped to FAILED by the sweep")
  }

  test("a persisted tick above Int.MaxValue restores without wrap: post-reload ticks stay monotone") {
    val dir = java.nio.file.Files.createTempDirectory("reg_bigtick").toString
    val reg = new SchemaRegistry
    reg.registerSchema("yelp", "user", userJson)
    reg.createRefresh("yelp", "user", 0L, 500, 50)
    reg.save(spark, dir)
    // a long-lived deployment's clock history: rewrite the persisted
    // refresh ticks past 2^31 (an Int clock would truncate these
    // negative on restore and break monotonicity for every later tick)
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gen = fs.listStatus(root).map(_.getPath.getName)
      .filter(_.matches("^gen_\\d+$")).map(_.drop(4).toLong).max
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.functions.lit
    val bigTick = Int.MaxValue.toLong + 7L
    val ref = spark.read.parquet(s"$dir/gen_$gen/refreshes")
      .withColumn("created_at", lit(bigTick))
      .withColumn("updated_at", lit(bigTick))
    val rows = ref.collect().toSeq
    spark.createDataFrame(rows.asJava, ref.schema)
      .write.mode("overwrite").parquet(s"$dir/gen_$gen/refreshes")
    val back = SchemaRegistry.load(spark, dir)
    assert(back.currentTick >= bigTick,
      s"clock must restore past the persisted tick, got ${back.currentTick}")
    val r2 = back.createRefresh("yelp", "user", 0L, 100, 10)
    assert(r2.createdAt > bigTick,
      s"post-reload ticks must stay monotone vs restored history, got ${r2.createdAt}")
  }

  test("reload rejects a store whose refresh references a source with no topics") {
    val dir = java.nio.file.Files.createTempDirectory("reg_orphan").toString
    val reg = new SchemaRegistry
    reg.registerSchema("yelp", "user", userJson)
    reg.createRefresh("yelp", "user", 0L, 500, 50)
    reg.save(spark, dir)
    // corrupt the live generation: repoint the refresh at a nonexistent source
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gen = fs.listStatus(root).map(_.getPath.getName)
      .filter(_.matches("^gen_\\d+$")).map(_.drop(4).toLong).max
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.functions.lit
    val ref = spark.read.parquet(s"$dir/gen_$gen/refreshes")
      .withColumn("source_name", lit("ghost"))
    val rows = ref.collect().toSeq
    spark.createDataFrame(rows.asJava, ref.schema)
      .write.mode("overwrite").parquet(s"$dir/gen_$gen/refreshes")
    val ex = intercept[IllegalArgumentException](SchemaRegistry.load(spark, dir))
    assert(ex.getMessage.contains("corrupt store"), ex.getMessage)
  }

  test("capped admission is atomic with the status flip: no over-admission past maxConcurrent") {
    import graft.refresh.{RefreshManager, RefreshStatus}
    val reg = new SchemaRegistry
    val s1 = reg.registerSchema("ns", "a",
      """{"type":"record","name":"p","namespace":"g","fields":[{"name":"f","type":"int","default":0}]}""")
    reg.registerSchema("ns", "b",
      """{"type":"record","name":"q","namespace":"g","fields":[{"name":"f","type":"int","default":0}]}""")
    val r1 = reg.createRefresh("ns", "a", offset = 0L, batchSize = 100, priority = 50)
    val r2 = reg.createRefresh("ns", "b", offset = 0L, batchSize = 100, priority = 50)
    // tick admits exactly one under cap 1
    val t1 = RefreshManager.tick(reg, maxConcurrent = 1)
    assert(t1.started.map(_.refreshId) == Seq(r1.refreshId) ||
      t1.started.map(_.refreshId) == Seq(r2.refreshId))
    // the registry-level capped CAS refuses a second start even when the
    // caller's snapshot is stale (the per-job CAS alone could not): a
    // concurrent tick that computed slots=1 from a pre-start snapshot
    // hits the authoritative count inside the lock and backs off
    val other = Seq(r1, r2).find(r =>
      !t1.started.map(_.refreshId).contains(r.refreshId)).get
    assert(reg.startRefreshCapped(other.refreshId, RefreshStatus.NotStarted,
      maxInProgress = 1).isEmpty, "stale-snapshot start must be refused")
    // with the cap lifted it starts
    assert(reg.startRefreshCapped(other.refreshId, RefreshStatus.NotStarted,
      maxInProgress = 2).isDefined)
  }

  test("keysetRanges terminates at the Long.MaxValue boundary") {
    import graft.refresh.RefreshScan
    // lo + batchSize wraps past Long.MaxValue: the unguarded iterate
    // never terminated and the wrapped hi emitted negative predicates
    val ranges = RefreshScan.keysetRanges(Long.MaxValue - 10, Long.MaxValue, 7)
    assert(ranges == Seq(
      (Long.MaxValue - 10, Long.MaxValue - 3),
      (Long.MaxValue - 3, Long.MaxValue)), ranges.toString)
  }
}
