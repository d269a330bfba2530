package graft

import java.sql.Timestamp

import graft.schema.SchemaRegistry
import graft.streaming.{ConsumerSource, MonitorStream}
import graft.tools.SchemaMigration

class MigrationAndCatalogSpec extends SparkTestBase {

  private val v1 =
    """{"type":"record","name":"t","namespace":"g","fields":[
         {"name":"id","type":"long"},
         {"name":"old_col","type":"string"},
         {"name":"amount","type":"int"}]}"""
  private val v2 =
    """{"type":"record","name":"t","namespace":"g","fields":[
         {"name":"id","type":"long"},
         {"name":"amount","type":"long"},
         {"name":"note","type":["null","string"],"default":null},
         {"name":"n","type":"int","default":7}]}"""

  test("migration plan: create, drop, add with default, retype") {
    val create = SchemaMigration.plan(None, v1, "g.t")
    assert(create.size == 1 && create.head.startsWith("CREATE TABLE g.t"))
    assert(create.head.contains("old_col VARCHAR NOT NULL"))

    val alter = SchemaMigration.plan(Some(v1), v2, "g.t")
    assert(alter.contains("ALTER TABLE g.t DROP COLUMN old_col;"))
    assert(alter.contains("ALTER TABLE g.t ADD COLUMN note VARCHAR;"))
    assert(alter.contains("ALTER TABLE g.t ADD COLUMN n INTEGER NOT NULL DEFAULT 7;"))
    // NOT NULL never rides inside an ALTER COLUMN ... TYPE clause (it is
    // not legal SQL there); amount stays non-nullable on both sides so
    // no nullability statement is emitted either
    assert(alter.contains("ALTER TABLE g.t ALTER COLUMN amount TYPE BIGINT;"))
    assert(!alter.exists(_.contains("TYPE BIGINT NOT NULL")))
  }

  test("migration plan: string defaults quote, nullability changes emit SET/DROP NOT NULL") {
    val from =
      """{"type":"record","name":"t","namespace":"g","fields":[
           {"name":"id","type":"long"},
           {"name":"status","type":["null","string"],"default":null},
           {"name":"tag","type":"string"}]}"""
    val to =
      """{"type":"record","name":"t","namespace":"g","fields":[
           {"name":"id","type":"long"},
           {"name":"status","type":"string"},
           {"name":"tag","type":["null","string"],"default":null},
           {"name":"label","type":"string","default":"new"},
           {"name":"quoty","type":"string","default":"it's"}]}"""
    val alter = SchemaMigration.plan(Some(from), to, "g.t")
    // a raw interpolation emitted `DEFAULT new` — an unquoted bareword
    assert(alter.contains("ALTER TABLE g.t ADD COLUMN label VARCHAR NOT NULL DEFAULT 'new';"),
      alter.mkString("\n"))
    assert(alter.contains("ALTER TABLE g.t ADD COLUMN quoty VARCHAR NOT NULL DEFAULT 'it''s';"))
    assert(alter.contains("ALTER TABLE g.t ALTER COLUMN status SET NOT NULL;"))
    assert(alter.contains("ALTER TABLE g.t ALTER COLUMN tag DROP NOT NULL;"))
    // same base type on both sides: no TYPE statement for these columns
    assert(!alter.exists(s => s.contains("status TYPE") || s.contains("tag TYPE")))
  }

  private val payloadJson =
    """{"type":"record","name":"p","namespace":"g","fields":[
         {"name":"f","type":"int","default":0}]}"""

  test("data targets and consumer groups resolve topic sets") {
    val reg = new SchemaRegistry
    val a = reg.registerSchema("ns1", "src_a", payloadJson)
    val b = reg.registerSchema("ns2", "src_b", payloadJson)
    reg.registerSchema("ns2", "src_c", payloadJson)
    val target = reg.createDataTarget("redshift-main", "redshift", "jdbc://rs/main")
    val group = reg.createConsumerGroup("warehouse-loaders", target.dataTargetId)
    reg.addConsumerGroupDataSource(group.consumerGroupId, "ns1", None) // whole namespace
    reg.addConsumerGroupDataSource(group.consumerGroupId, "ns2", Some("src_b"))
    val topics = ConsumerSource.TopicsInDataTarget(target.dataTargetId).resolve(reg)
    assert(topics == Set(a.topicName, b.topicName))
  }

  test("meta attribute mappings: namespace-level union source-level") {
    val reg = new SchemaRegistry
    val meta1 = reg.registerSchema("meta", "audit", payloadJson)
    val meta2 = reg.registerSchema("meta", "lineage", payloadJson)
    val biz = reg.registerSchema("ns", "biz", payloadJson)
    reg.registerMetaAttributeMapping("ns", None, meta1.schemaId)
    reg.registerMetaAttributeMapping("ns", Some("biz"), meta2.schemaId)
    assert(reg.mandatoryMetaAttributes(biz.schemaId) == Set(meta1.schemaId, meta2.schemaId))
    assert(reg.mandatoryMetaAttributes(meta1.schemaId) == Set.empty)
  }

  test("monitor catch-up emits zero-count rows for quiet windows") {
    import spark.implicits._
    def t(s: String) = Timestamp.valueOf(s)
    // topic_a: activity in window 0 and window 3 -> windows 1,2 must zero-fill.
    // The null-ts row must be DROPPED, not erase the topic: a null
    // start_timestamp entry nulls the next entry's gap arithmetic, and
    // flatten() of an array with a null element returns NULL — one bad
    // row previously wiped every observed window for its topic.
    val df = Seq(
      (t("2024-01-01 00:01:00"), "topic_a"),
      (t("2024-01-01 00:31:00"), "topic_a"),
      (null.asInstanceOf[Timestamp], "topic_a"),
      (t("2024-01-01 00:05:00"), "topic_b")
    ).toDF("ts", "topic")
    val out = MonitorStream.monitorCountsWithCatchup(df, "c", "consumer")
      .select($"topic", $"start_timestamp", $"message_count")
      .collect().map(r => (r.getString(0), r.getInt(1).toLong, r.getInt(2))).sorted
    val base = t("2024-01-01 00:00:00").getTime / 1000
    assert(out.toSeq == Seq(
      ("topic_a", base, 1), ("topic_a", base + 600, 0), ("topic_a", base + 1200, 0),
      ("topic_a", base + 1800, 1),
      ("topic_b", base, 1)))
  }

  test("monitorCountsWithCatchup fails loudly past the per-topic window cap") {
    import spark.implicits._
    def t(s: String) = Timestamp.valueOf(s)
    val df = Seq(
      (t("2024-01-01 00:01:00"), "topic_a"),
      (t("2024-01-01 00:31:00"), "topic_a"),
      (t("2024-01-01 01:01:00"), "topic_a"),
      (t("2024-01-01 00:05:00"), "topic_b")
    ).toDF("ts", "topic")
    // topic_a spans 7 EMITTED windows (00:00..01:00 at 600 s — observed
    // PLUS gap zeros; the gap zeros are what blow the row up, two sparse
    // messages years apart would pass any observed-count check): a cap
    // of 6 must fail NAMING the topic, never silently build the row
    val e = intercept[Exception] {
      MonitorStream.monitorCountsWithCatchup(df, "c", "consumer",
        maxWindowsPerTopic = 6).collect()
    }
    def msgs(x: Throwable): Seq[String] =
      Option(x).toSeq.flatMap(t => Option(t.getMessage).toSeq ++ msgs(t.getCause))
    assert(msgs(e).exists(m => m.contains("topic_a") && m.contains("windows")),
      s"cap failure must name the topic: ${msgs(e)}")
    // at exactly the span the same frame emits normally (7 rows for
    // topic_a: 3 observed + 4 gap zeros)
    val ok = MonitorStream.monitorCountsWithCatchup(df, "c", "consumer",
      maxWindowsPerTopic = 7).collect()
    assert(ok.count(_.getString(0) == "topic_a") == 7)
  }

  test("registry save/load reproduces ids, topics and snapshot") {
    val dir = java.nio.file.Files.createTempDirectory("reg_store").toString
    val reg = new SchemaRegistry
    reg.registerSchema("ns", "a", payloadJson)
    reg.registerSchema("ns", "a",
      """{"type":"record","name":"p","namespace":"g","fields":[
           {"name":"f","type":"int","default":0},
           {"name":"g","type":"int","default":1}]}""")
    reg.registerSchema("ns2", "b", payloadJson, containsPii = true)
    reg.save(spark, dir)
    val back = SchemaRegistry.load(spark, dir)
    assert(back.snapshot == reg.snapshot)
    assert(back.topics.map(t => (t.name, t.containsPii)) ==
      reg.topics.map(t => (t.name, t.containsPii)))
  }

  test("save/load round-trips sources, metadata, cluster splits and schema_meta") {
    val dir = java.nio.file.Files.createTempDirectory("reg_store_full").toString
    val reg = new SchemaRegistry
    val a = reg.registerSchema("ns", "a", payloadJson, sourceOwnerEmail = "own@example.com")
    // same source, identical schema, different cluster -> forked topic
    val aScribe = reg.registerSchema("ns", "a", payloadJson, clusterType = "scribe")
    val b = reg.registerSchema("ns2", "b", payloadJson, containsPii = true)
    val srcA = reg.getSourceByName("ns", "a").get.sourceId
    reg.setSourceCategory(srcA, "core")
    reg.setSchemaNote(a.schemaId, "schema-level note")
    reg.setFieldNote(a.schemaId, "f", "field-level note")
    reg.setFileSource(b.schemaId, "b.avsc", "repo://b.avsc")
    reg.save(spark, dir)

    val back = SchemaRegistry.load(spark, dir)
    // sources: same ids, owners, categories (replay-deterministic ids)
    assert(back.allSources.map(s => (s.sourceId, s.namespaceName, s.name, s.ownerEmail)) ==
      reg.allSources.map(s => (s.sourceId, s.namespaceName, s.name, s.ownerEmail)))
    assert(back.getSourceCategory(srcA).contains("core"))
    assert(back.namespaceId("ns").contains(1) && back.namespaceId("ns2").contains(2))
    // cluster_type-forced topic split survives with its types
    assert(back.topics.map(t => (t.name, t.clusterType)) ==
      reg.topics.map(t => (t.name, t.clusterType)))
    assert(back.getSchemaById(aScribe.schemaId).map(_.topicName) ==
      reg.getSchemaById(aScribe.schemaId).map(_.topicName))
    // schema_meta: notes + file sources
    assert(back.getSchemaNote(a.schemaId).contains("schema-level note"))
    assert(back.getFieldNote(a.schemaId, "f").contains("field-level note"))
    assert(back.getFileSource(b.schemaId).contains(("b.avsc", "repo://b.avsc")))
  }

  // save() now writes generation directories; corruption/migration tests
  // must target the LIVE generation the loader resolves
  private def liveGen(dir: String): String = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gens = fs.listStatus(root).map(_.getPath.getName)
      .filter(_.matches("^gen_\\d+$")).map(_.drop(4).toLong).sorted
    if (gens.isEmpty) dir else s"$dir/gen_${gens.last}"
  }

  test("load rejects a drifted source catalog") {
    val dir = java.nio.file.Files.createTempDirectory("reg_store_drift").toString
    val reg = new SchemaRegistry
    reg.registerSchema("ns", "a", payloadJson, sourceOwnerEmail = "o@example.com")
    reg.registerSchema("ns", "b", payloadJson)
    reg.save(spark, dir)
    // corrupt: swap the stored source ids so replay ids can't match
    import scala.jdk.CollectionConverters._
    val base = liveGen(dir)
    val src = spark.read.parquet(s"$base/sources")
    val swapped = src.collect().toSeq.map { r =>
      org.apache.spark.sql.Row(
        3 - r.getInt(0), r.getString(1), r.getString(2), r.getString(3),
        r.get(4), r.getLong(5))
    }
    spark.createDataFrame(swapped.asJava, src.schema)
      .write.mode("overwrite").parquet(s"$base/sources")
    val ex = intercept[IllegalArgumentException](SchemaRegistry.load(spark, dir))
    assert(ex.getMessage.contains("catalog reload drifted"))
  }

  test("load accepts a pre-extension catalog lacking base_schema_id/cluster_type") {
    val dir = java.nio.file.Files.createTempDirectory("reg_store_legacy").toString
    val reg = new SchemaRegistry
    reg.registerSchema("ns", "a", payloadJson)
    reg.registerSchema("ns2", "b", payloadJson, containsPii = true)
    reg.save(spark, dir)
    // rewrite the schemas table in the pre-diff column set (no
    // base_schema_id / cluster_type) and drop the then-nonexistent tables
    import scala.jdk.CollectionConverters._
    val base = liveGen(dir)
    val legacy = spark.read.parquet(s"$base/schemas")
      .drop("base_schema_id", "cluster_type", "created_at")
    val rows = legacy.collect().toSeq
    spark.createDataFrame(rows.asJava, legacy.schema)
      .write.mode("overwrite").parquet(s"$base/schemas")
    def rm(p: String): Unit = {
      val path = new org.apache.hadoop.fs.Path(s"$base/$p")
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(path)) fs.delete(path, true)
    }
    rm("sources"); rm("schema_meta"); rm("topics")
    val back = SchemaRegistry.load(spark, dir)
    assert(back.snapshot == reg.snapshot)
    assert(back.topics.forall(_.clusterType == "datapipe"))
    assert(back.schemas.forall(_.baseSchemaId.isEmpty))
  }

  test("consume splits dead letters from decodable rows") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val reg2 = new SchemaRegistry
    val entry = reg2.registerSchema("s", "ev", graft.queries.EnvelopeOps.eventSchemaJson)
    val good = Seq((1L, 10L, "click", 1.5)).toDF("event_id", "user_id", "event_type", "value")
      .select(graft.streaming.Pipeline.envelopeFor(
        struct($"event_id", $"user_id", $"event_type", $"value"), "create", entry,
        lit(1700000000L), unhex(md5($"event_id".cast("string")))).as("value"))
    // forge an envelope whose schema_id is not in the registry
    val orphanReg = new SchemaRegistry
    val orphan = orphanReg.registerSchema("x", "unknown1", payloadJson)
    val orphan2 = orphanReg.registerSchema("x", "unknown2",
      """{"type":"record","name":"q","namespace":"g","fields":[
           {"name":"z","type":"int","default":0}]}""")
    val bad = Seq(5).toDF("z")
      .select(graft.streaming.Pipeline.envelopeFor(
        struct($"z"), "create", orphan2, lit(1700000001L), unhex(md5(lit("x")))).as("value"))
    val (ok, dead) = graft.streaming.Pipeline.consumeWithDeadLetters(
      good.union(bad), reg2, entry.schemaId)
    assert(ok.count() == 1 && dead.count() == 1)
    assert(dead.select($"schema_id").head().getInt(0) == orphan2.schemaId)
    assert(orphan.schemaId >= 0) // silence unused warning
  }

  test("dead letters carry the raw envelope for replay; corrupt payload bytes route there too") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val reg = new SchemaRegistry
    val entry = reg.registerSchema("s", "ev", graft.queries.EnvelopeOps.eventSchemaJson)
    val good = Seq((1L, 10L, "click", 1.5)).toDF("event_id", "user_id", "event_type", "value")
      .select(graft.streaming.Pipeline.envelopeFor(
        struct($"event_id", $"user_id", $"event_type", $"value"), "create", entry,
        lit(1700000000L), unhex(md5($"event_id".cast("string")))).as("value"))
    // corrupt PAYLOAD bytes under a KNOWN schema_id — previously a task
    // killer (the decoder threw), now the dead-letter contract both ways
    val corrupt = Seq(1).toDF("x")
      .select(graft.streaming.Pipeline.envelopeForBytes(
        lit(Array[Byte](0x7f, 0x33, 0x01)), "create", entry.schemaId,
        lit(1700000002L), unhex(md5(lit("c")))).as("value"))
    val (ok, dead) = graft.streaming.Pipeline.consumeWithDeadLetters(
      good.union(corrupt), reg, entry.schemaId)
    assert(ok.count() == 1 && dead.count() == 1)
    // the dead frame keeps the raw transport bytes VERBATIM: a letter
    // dead because the consumer registry lacked its schema must decode
    // field-for-field once replayed against the fixed registry
    val fullReg = new SchemaRegistry
    // a filler registration first, so the event schema's id (2) does NOT
    // exist in the consumer registry below (whose only id is 1) — the
    // letter must dead-letter on a genuinely unknown id
    fullReg.registerSchema("other", "filler",
      """{"type":"record","name":"f","namespace":"o","fields":[
           {"name":"z","type":"int","default":0}]}""")
    val fullEntry = fullReg.registerSchema("s", "ev",
      graft.queries.EnvelopeOps.eventSchemaJson)
    val unknownOnly = Seq((9L, 90L, "view", 2.5))
      .toDF("event_id", "user_id", "event_type", "value")
      .select(graft.streaming.Pipeline.envelopeFor(
        struct($"event_id", $"user_id", $"event_type", $"value"), "create",
        fullEntry, lit(1700000003L), unhex(md5(lit("u")))).as("value"))
    val emptyReg = new SchemaRegistry // consumer missing the schema
    val rdrEntry = emptyReg.registerSchema("s", "ev",
      graft.queries.EnvelopeOps.eventSchemaJson)
    val shortReg = new SchemaRegistry
    val shortRdr = shortReg.registerSchema("other", "x",
      """{"type":"record","name":"x","namespace":"o","fields":[
           {"name":"z","type":"int","default":0}]}""")
    val (_, deadU) = graft.streaming.Pipeline.consumeWithDeadLetters(
      unknownOnly, shortReg, shortRdr.schemaId)
    assert(deadU.count() == 1)
    val raw = deadU.select($"raw_envelope").head().getAs[Array[Byte]](0)
    val replayed = graft.streaming.Pipeline.consume(
      Seq(raw).toDF("value"), fullReg, fullEntry.schemaId)
      .select($"payload.event_id", $"payload.event_type", $"payload.value")
      .head()
    assert((replayed.getLong(0), replayed.getString(1), replayed.getDouble(2))
      == ((9L, "view", 2.5)),
      "the replayed letter must decode field-for-field against the fixed registry")
    assert(rdrEntry.schemaId >= 0) // silence unused warning
    // fully corrupt TRANSPORT bytes dead-letter as an all-null row, raw intact
    val garbage = Seq(Array[Byte](0x7f, 1, 2)).toDF("value")
    val (_, dead2) = graft.streaming.Pipeline.consumeWithDeadLetters(
      garbage, reg, entry.schemaId)
    assert(dead2.count() == 1 &&
      dead2.select($"raw_envelope").head().getAs[Array[Byte]](0).length == 3)
  }

  test("Checkpoint.cut: with a session checkpoint dir every cut site writes reliable checkpoints; rows identical to the local default") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import graft.operators.{Curation, Dedup, Frequency, Retrieval, Similarity}
    import graft.streaming.StreamingIncrementalDedup
    val reg = new SchemaRegistry
    val entry = reg.registerSchema("s", "ev", graft.queries.EnvelopeOps.eventSchemaJson)
    val good = Seq((1L, 10L, "click", 1.5), (2L, 20L, "view", 2.0))
      .toDF("event_id", "user_id", "event_type", "value")
      .select(graft.streaming.Pipeline.envelopeFor(
        struct($"event_id", $"user_id", $"event_type", $"value"), "create", entry,
        lit(1700000000L), unhex(md5($"event_id".cast("string")))).as("value"))
    val corrupt = Seq(1).toDF("x")
      .select(graft.streaming.Pipeline.envelopeForBytes(
        lit(Array[Byte](0x7f, 0x33, 0x01)), "create", entry.schemaId,
        lit(1700000002L), unhex(md5(lit("c")))).as("value"))
    val transport = good.union(corrupt)
    val pairs = Seq((2L, 3L), (1L, 2L), (3L, 4L), (8L, 9L)).toDF("d1", "d2")
    val vecs = Seq(
      (0L, Seq(1.0, 0.0, 0.0)), (1L, Seq(0.0, 1.0, 0.0)),
      (5L, Seq(0.8, 0.0, 0.6)), (10L, Seq(0.999, 0.001, 0.0)),
      (11L, Seq(0.998, 0.002, 0.0)), (20L, Seq(0.001, 0.999, 0.0))
    ).toDF("vec_id", "v")
    val probes = vecs.filter($"vec_id" < 2).select($"vec_id".as("probe_id"), $"v".as("p"))
    val cents = Similarity.kmeansFit(vecs, k = 2, iters = 2)
    val docs = Seq((1L, "spark is fast"), (2L, "spark streaming is fun"),
      (3L, "the fast cat"), (4L, "a cat is a cat")).toDF("doc_id", "text")
    def tmp(name: String): String = java.nio.file.Files.createTempDirectory(name).toString
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
    // each site's rows, as the site composes them (a reliable cut
    // materializes at composition, so the call itself runs under the dir)
    val sites: Seq[(String, () => Seq[String])] = Seq(
      "dead-letter split" -> { () =>
        val (ok, dead) = graft.streaming.Pipeline.consumeWithDeadLetters(
          transport, reg, entry.schemaId)
        rows(ok.select($"payload.event_id")) ++ rows(dead.select(hex($"raw_envelope")))
      },
      "connectedComponents" -> (() => rows(Dedup.connectedComponents(pairs))),
      "ivfTopK (pre-fit)" -> (() =>
        rows(Similarity.ivfTopK(vecs, cents, probes, k = 3, nprobe = 1, roundTo = 4))),
      "semanticDedup (pre-fit)" -> (() =>
        rows(Similarity.semanticDedup(vecs, cents, threshold = 0.95))),
      "Retrieval.bm25TopK" -> (() =>
        rows(Retrieval.bm25TopK(docs, "doc_id", "text", Seq("spark", "cat"), k = 3))),
      "Curation.stripBoilerplate" -> (() =>
        rows(Curation.stripBoilerplate(docs, "doc_id", "text", dfRatio = 0.5))),
      "Frequency.skewStats" -> (() =>
        rows(Frequency.skewStats(Seq("a", "a", "a", "b", "b", "c").toDF("key"),
          Seq("key"), topN = 2))),
      "Similarity.pqFit" -> (() =>
        rows(Similarity.pqFit(vecs, m = 1, subDim = 3, ksub = 2, iters = 2))),
      "StreamingIncrementalDedup.processBatch" -> { () =>
        val out = tmp("cut_incr_out")
        StreamingIncrementalDedup.processBatch(
          Seq((1L, "a"), (2L, "a"), (3L, "b"), (3L, "b")).toDF("doc_id", "text"),
          0L, tmp("cut_incr_state"), out)
        rows(StreamingIncrementalDedup.admittedCorpus(spark, out))
      })
    def rddDirs(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).getOrElse(Array.empty).toSeq
        .flatMap(f => if (f.isDirectory) f +: rddDirs(f) else Seq(f))
        .filter(_.getName.startsWith("rdd-"))
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(); ()
    }
    val sc = spark.sparkContext
    val prevDir = sc.getCheckpointDir
    sites.foreach { case (site, run) =>
      val chkDir = java.nio.file.Files.createTempDirectory("cut_chk").toFile
      try {
        sc.setCheckpointDir(chkDir.getAbsolutePath)
        val reliable = run()
        assert(rddDirs(chkDir).nonEmpty,
          s"$site: a cut must checkpoint into the session checkpoint dir, found none under $chkDir")
        sc.setCheckpointDir(null)
        val local = run()
        assert(local.nonEmpty && reliable == local,
          s"$site: reliable rows $reliable != local rows $local")
      } finally {
        // orNull → Option(null) = None inside setCheckpointDir, i.e. unset
        sc.setCheckpointDir(prevDir.orNull)
        rm(chkDir)
      }
    }
  }

  /** (path, text) of every main source file, for the source guards. */
  private lazy val mainSources: Seq[(String, String)] = {
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).getOrElse(Array.empty).toSeq
        .flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    files(new java.io.File("src/main/scala"))
      .filter(_.getName.endsWith(".scala"))
      .map(f => f.getPath.replace('\\', '/') ->
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
  }

  test("source guard: lineage cuts only in Checkpoint.scala, the commit marker only in Commit.scala") {
    val sources = mainSources
    def outside(needle: String, home: String): Seq[String] = {
      assert(sources.exists(_._1.endsWith(home)), s"$home not found under src/main/scala")
      sources.collect { case (path, text) if !path.endsWith(home) && text.contains(needle) => path }
    }
    val cuts = outside("localCheckpoint(", "graft/operators/Checkpoint.scala")
    assert(cuts.isEmpty, s"cut lineage through Checkpoint.cut, not localCheckpoint, in $cuts")
    val markers = outside("\"_COMMITTED\"", "graft/core/Commit.scala")
    assert(markers.isEmpty, s"commit through graft.core.Commit, not a marker of its own, in $markers")
    // state is committed in place under the as-of-batch rule; the pointer
    // swap is the one rename, and a staging rename would bring back its
    // crash windows
    val renames = outside(".rename(", "graft/core/Commit.scala")
    assert(renames.isEmpty, s"rename only in graft.core.Commit's pointer swap, found in $renames")
  }

  test("source guard: rank cuts only through TopK.scala, nSalts only on the salted join") {
    // per file, the DataFrame row_number windows it may hold: the one
    // bounded cut, and the marks that flag rather than filter (first
    // occurrence of a window hash, the first copy of a chunk)
    val rankHomes = Map(
      "graft/operators/TopK.scala" -> 1,
      "graft/operators/Dedup.scala" -> 2,      // substringDupWindows, removeDupSpans
      "graft/operators/Curation.scala" -> 1)   // dedupChunks' kept
    val windows = mainSources.map { case (path, text) =>
      path -> """row_number\(\)\s*\.over""".r.findAllMatchIn(text).size
    }.filter(_._2 > 0)
    val stray = windows.filterNot { case (path, n) =>
      rankHomes.exists { case (home, max) => path.endsWith(home) && n <= max } }
    assert(stray.isEmpty, s"cut ranks through graft.operators.TopK.cut, not a window of its own, in $stray")
    val saltHomes = Seq("graft/operators/JoinPrune.scala", "graft/queries/Relational.scala")
    val salts = mainSources.collect { case (path, text)
      if text.contains("nSalts") && !saltHomes.exists(path.endsWith) => path }
    assert(salts.isEmpty, s"nSalts belongs to the salted join only, found in $salts")
  }

  test("source guard: PQ kernels only through Codebook.scala") {
    // a consumer calling a kernel itself must be handed the codebook
    // shape again; each kernel appears in Codebook.scala and its own
    // definition only
    val home = "graft/operators/Codebook.scala"
    assert(mainSources.exists(_._1.endsWith(home)), s"$home not found under src/main/scala")
    Seq("l2_argmin(" -> "graft/functions/L2Argmin.scala",
      "pq_dist_table(" -> "graft/functions/PqDistTable.scala",
      "pq_adc(" -> "graft/functions/PqAdc.scala").foreach { case (call, defn) =>
      assert(mainSources.exists(_._1.endsWith(defn)), s"$defn not found under src/main/scala")
      val stray = mainSources.collect { case (path, text)
        if text.contains(call) && !path.endsWith(home) && !path.endsWith(defn) => path }
      assert(stray.isEmpty, s"call $call through graft.operators.Codebook, found in $stray")
    }
  }

  test("source guard: text splits into words only through Words.scala") {
    // one home for the word rule and its oracle twin, so a fix to it
    // lands for Spark and DuckDB together
    val home = "graft/operators/Words.scala"
    assert(mainSources.exists(_._1.endsWith(home)), s"$home not found under src/main/scala")
    val split = """\bsplit\(trim\(|string_split_regex\(""".r
    val stray = mainSources.collect { case (path, text)
      if !path.endsWith(home) && split.findFirstIn(text).isDefined => path }
    assert(stray.isEmpty, s"tokenize through graft.operators.Words, found in $stray")
  }

  test("source guard: vector rules are spelled only in Vectors.scala and Codebook.scala") {
    // one home for cosine, dimension means and the fixtures' dimension,
    // each beside its DuckDB twin, so a fix lands in both engines at once
    val homes = Seq("graft/operators/Vectors.scala", "graft/operators/Codebook.scala")
    homes.foreach(h => assert(mainSources.exists(_._1.endsWith(h)), s"$h not found under src/main/scala"))
    // the fixture dimension's 1-based range, the SQL norm, and the
    // posexplode of a dimension mean
    Seq("""range\(1, 65\)""", """sqrt\(list_sum\(""", """posexplode\(.*\)\.as\(Seq\("dim"""").foreach { p =>
      val stray = mainSources.collect { case (path, text)
        if !homes.exists(path.endsWith) && p.r.findFirstIn(text).isDefined => path }
      assert(stray.isEmpty, s"spell $p through graft.operators.Vectors, found in $stray")
    }
  }

  test("source guard: the md5-u24 draw is spelled only in HashDraw.scala") {
    // one home for the draw and its oracle twin, so a sample, a shard or
    // a bucket cannot drift between engines or call sites
    val home = "graft/operators/HashDraw.scala"
    assert(mainSources.exists(_._1.endsWith(home)), s"$home not found under src/main/scala")
    val stray = mainSources.collect { case (path, text)
      if !path.endsWith(home) && text.contains("conv(substring(") => path }
    assert(stray.isEmpty, s"draw through graft.operators.HashDraw, found in $stray")
  }

  test("source guard: the MinHash member is spelled only in MinHash.scala, the stream runs no xxhash64") {
    // one md5 family for the batch, the stream and the oracle, so a
    // streaming bucket is a batch LSH bucket
    val home = "graft/operators/MinHash.scala"
    assert(mainSources.exists(_._1.endsWith(home)), s"$home not found under src/main/scala")
    val member = """concat\([^;\n]*?, lit\(s?"#|\|\| '#""".r
    assert(mainSources.exists { case (path, text) =>
      path.endsWith(home) && member.findAllIn(text).size == 2 }, "the guard must match both twins")
    val stray = mainSources.collect { case (path, text)
      if !path.endsWith(home) && member.findFirstIn(text).isDefined => path }
    assert(stray.isEmpty, s"hash shingles through graft.operators.MinHash, found in $stray")
    val stream = mainSources.find(_._1.endsWith("graft/streaming/StreamingNearDup.scala"))
    assert(stream.exists(!_._2.contains("xxhash64(")), "the stream bands with MinHash, not xxhash64")
  }

  test("source guard: envelopes pack and unpack only in Pipeline.scala, AES runs only in Encryption.scala") {
    // one envelope codec and one decrypt-before-decode step, so the
    // oracle queries, the bench and a consumer all run the shipped path.
    // Comments are stripped first: the guard matches calls, not prose
    def code(text: String): String =
      text.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
    def stray(call: scala.util.matching.Regex, homes: Seq[String]): Seq[String] = {
      homes.foreach(h =>
        assert(mainSources.exists(_._1.contains(h)), s"$h not found under src/main/scala"))
      mainSources.collect { case (path, text)
        if !homes.exists(path.contains) && call.findFirstIn(code(text)).isDefined => path }
    }
    val envelopes = stray("""\b(un)?pack_envelope(_ascii)?\(""".r,
      Seq("graft/streaming/Pipeline.scala", "graft/functions/"))
    assert(envelopes.isEmpty, s"build and read envelopes through graft.streaming.Pipeline, found in $envelopes")
    val aes = stray("""\b(try_)?aes_(en|de)crypt["(]""".r, Seq("graft/streaming/Encryption.scala"))
    assert(aes.isEmpty, s"encrypt and decrypt through graft.streaming.Encryption, found in $aes")
  }

  test("source guard: queries read vectors only through Tables.validEmbeddings") {
    // a raw read would hand NULL, NaN, wrong-dimension and duplicate-id
    // vectors to the ANN and hybrid operators
    val queries = mainSources.filter(_._1.contains("graft/queries/"))
    assert(queries.exists(_._2.contains("Tables.vectors(")),
      "no query under graft/queries reads Tables.vectors")
    val raw = queries.collect { case (path, text) if text.contains("Tables.embeddings(") => path }
    assert(raw.isEmpty, s"read vectors through Tables.validEmbeddings, not Tables.embeddings, in $raw")
  }

  test("test harness: a checkpoint dir left on the shared session fails the suite and is cleared") {
    val sc = spark.sparkContext
    val chkDir = java.nio.file.Files.createTempDirectory("leak_chk").toFile
    try {
      sc.setCheckpointDir(chkDir.getAbsolutePath)
      val e = intercept[IllegalStateException] {
        SparkTestBase.clearLeftoverCheckpointDir("LeakySpec")
      }
      assert(e.getMessage.contains("LeakySpec"), e.getMessage)
      assert(sc.getCheckpointDir.isEmpty, "the guard must unset the leaked dir")
      SparkTestBase.clearLeftoverCheckpointDir("CleanSpec") // no dir: no-op
    } finally {
      sc.setCheckpointDir(null)
      Option(chkDir.listFiles()).getOrElse(Array.empty).foreach(_.delete())
      chkDir.delete()
    }
  }

  test("heartbeats fan out per topic as REAL enveloped transport rows") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val ticks = Seq(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).toDF("timestamp")
    val hb = graft.streaming.Pipeline.heartbeats(ticks, Seq("t1", "t2"))
    // unionable with produce() output: exactly (topic, key, value)
    assert(hb.columns.toSeq == Seq("topic", "key", "value"))
    // and the value is a decodable envelope carrying the heartbeat type
    val rows = hb
      .select(col("topic"),
        graft.functions.unpack_envelope(col("value")).as("env"))
      .select(col("topic"), col("env.message_type"), col("env.schema_id"),
        col("env.timestamp"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3)))
      .sortBy(_._1)
    assert(rows.toSeq == Seq(
      ("t1", "heartbeat", 0, 1704067200), ("t2", "heartbeat", 0, 1704067200)),
      s"got ${rows.toSeq}")
  }
}
