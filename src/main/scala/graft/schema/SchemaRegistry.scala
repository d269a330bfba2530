package graft.schema

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.avro.{Schema, SchemaCompatibility}
import org.apache.avro.SchemaCompatibility.SchemaCompatibilityType
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Commit
import graft.functions.AvroCodec

/** Embedded schema registry — the engine's control plane.
  *
  * Replaces the reference's Schematizer HTTP service + client cache
  * (reference: schematizer_clientlib/schematizer.py:78-1341) with an
  * in-process catalog: namespace → source → topic → schema hierarchy,
  * schema registration with Avro compatibility checks (incompatible
  * changes spawn a new topic, compatible ones a new schema version on the
  * same topic — schematizer.py:474-742 semantics), primary keys from
  * `pkey` field attributes, and PII flags.
  *
  * Reads are lock-free (TrieMap); `snapshot` produces the immutable
  * schema_id → avro-json map the decode expressions ship to executors —
  * the Message ⋈ registry "join" is an executor-side map lookup, never a
  * shuffle (SURVEY §2.4 J1).
  */
class SchemaRegistry extends Serializable {

  final case class TopicEntry(
      topicId: Int,
      name: String,
      namespaceName: String,
      sourceName: String,
      containsPii: Boolean,
      createdAt: Long,
      clusterType: String = "datapipe")

  /** Source catalog row (reference: schematizer sources — numeric ids,
    * owner emails; `tools/introspector/models/source.py`). Sources are
    * created implicitly by the first schema registration for the
    * (namespace, source) pair, so ids are deterministic in registration
    * order and reproduce exactly on catalog reload. */
  final case class SourceEntry(
      sourceId: Int,
      name: String,
      namespaceName: String,
      ownerEmail: String,
      createdAt: Long)

  final case class SchemaEntry(
      schemaId: Int,
      topicId: Int,
      topicName: String,
      namespaceName: String,
      sourceName: String,
      schemaJson: String,
      primaryKeys: Seq[String],
      containsPii: Boolean,
      baseSchemaId: Option[Int],
      createdAt: Long)

  private val nextSchemaId = new AtomicInteger(0)
  private val nextTopicId = new AtomicInteger(0)
  private val nextSourceId = new AtomicInteger(0)
  private val nextNamespaceId = new AtomicInteger(0)
  private val namespaceIds = TrieMap.empty[String, Int]
  private val schemasById = TrieMap.empty[Int, SchemaEntry]
  private val topicsById = TrieMap.empty[Int, TopicEntry]
  private val sourcesById = TrieMap.empty[Int, SourceEntry]
  // deterministic created_at ticks; a Long so a persisted tick history
  // restores without truncation (an Int clock wrapped negative past 2^31
  // and broke post-reload monotonicity vs restored created_at values)
  private val clock = new AtomicLong(0L)

  // schema_ref / documentation-tool metadata (reference: tools/schema_ref.py,
  // bootstrapper.py:107-144 — notes, categories and file sources attach via
  // their own registry endpoints, separate from the avro `doc` attributes)
  private val sourceCategories = TrieMap.empty[Int, String]
  private val schemaNotes = TrieMap.empty[Int, String]
  private val fieldNotes = TrieMap.empty[(Int, String), String]
  private val fileSources = TrieMap.empty[Int, (String, String)] // display, url

  // --- registration ---------------------------------------------------

  /** Register a schema under namespace/source. Returns the existing entry
    * if the identical schema is already registered for the source's latest
    * topic; otherwise a new schema version on the latest topic when
    * mutually read-compatible, or a brand-new topic when not.
    *
    * A `containsPii` change is treated exactly like an incompatible schema
    * change and forces a new topic (reference Schematizer semantics): a
    * topic's PII flag is what `Scrub.scrubbedIfPii` and
    * `Pipeline.produce(skipPii)` key on, so silently inheriting the old
    * flag would let PII flow unredacted through a previously non-PII
    * topic.
    */
  def registerSchema(
      namespace: String,
      source: String,
      schemaJson: String,
      containsPii: Boolean = false,
      baseSchemaId: Option[Int] = None,
      sourceOwnerEmail: String = "",
      clusterType: String = "datapipe"): SchemaEntry = synchronized {
    val parsed = new Schema.Parser().parse(schemaJson)
    val canonical = parsed.toString // normalized form for identity compare
    getOrCreateSource(namespace, source, sourceOwnerEmail)
    val existingTopics = topicsBySource(namespace, source)
    val latestTopic = existingTopics.sortBy(t => (t.createdAt, t.topicId)).lastOption
      .filter(_.containsPii == containsPii) // PII flip ⇒ never reuse the topic
      .filter(_.clusterType == clusterType) // cluster move ⇒ new topic there

    latestTopic.flatMap { t =>
      schemasByTopic(t.name).find(s => AvroCodec.parse(s.schemaJson).toString == canonical)
    } match {
      case Some(existing) => existing
      case None =>
        val compatible = latestTopic.exists { t =>
          schemasByTopic(t.name).forall(s => isFullyCompatible(parsed, AvroCodec.parse(s.schemaJson)))
        }
        val topic = if (compatible) latestTopic.get else {
          val id = nextTopicId.incrementAndGet()
          val entry = TopicEntry(id, s"$namespace.$source.v$id", namespace, source,
            containsPii, clock.incrementAndGet().toLong, clusterType)
          topicsById.put(id, entry)
          entry
        }
        val id = nextSchemaId.incrementAndGet()
        val entry = SchemaEntry(id, topic.topicId, topic.name, namespace, source,
          schemaJson, primaryKeysOf(parsed), topic.containsPii, baseSchemaId,
          clock.incrementAndGet().toLong)
        schemasById.put(id, entry)
        entry
    }
  }

  /** Register a schema converted from MySQL `CREATE TABLE` statements —
    * the reference's primary CDC registration path (reference:
    * schematizer.py:745 register_schema_from_mysql_stmts). When the old
    * create + alter statements are supplied, they are validated to land on
    * the declared new table (the Schematizer's consistency check) before
    * registration; topic assignment / compatibility / PII handling then
    * follow the normal [[registerSchema]] rules. */
  def registerSchemaFromMysqlStmts(
      namespace: String,
      source: String,
      newCreateTableStmt: String,
      oldCreateTableStmt: Option[String] = None,
      alterTableStmt: Option[String] = None,
      containsPii: Boolean = false,
      sourceOwnerEmail: String = ""): SchemaEntry = {
    val spec = (oldCreateTableStmt, alterTableStmt) match {
      case (Some(o), Some(a)) =>
        graft.tools.MysqlDdlConverter.validateStatementTriple(newCreateTableStmt, o, a)
      case _ =>
        graft.tools.MysqlDdlConverter.parse(newCreateTableStmt)
    }
    registerSchema(namespace, source, spec.avroSchemaJson, containsPii,
      sourceOwnerEmail = sourceOwnerEmail)
  }

  /** Find-or-create the source row for a registration; a non-empty owner
    * email on a later registration updates the stored owner (reference:
    * register_schema carries source_owner_email on every call and the
    * schematizer upserts it onto the source). */
  private def getOrCreateSource(namespace: String, source: String,
                                ownerEmail: String): SourceEntry = {
    sourcesById.values.find(s => s.namespaceName == namespace && s.name == source) match {
      case Some(existing) =>
        if (ownerEmail.nonEmpty && existing.ownerEmail != ownerEmail) {
          val updated = existing.copy(ownerEmail = ownerEmail)
          sourcesById.put(existing.sourceId, updated)
          updated
        } else existing
      case None =>
        namespaceIds.getOrElseUpdate(namespace, nextNamespaceId.incrementAndGet())
        val id = nextSourceId.incrementAndGet()
        val entry = SourceEntry(id, source, namespace, ownerEmail,
          clock.incrementAndGet().toLong)
        sourcesById.put(id, entry)
        entry
    }
  }

  def allSources: Seq[SourceEntry] = sourcesById.values.toSeq.sortBy(_.sourceId)
  def getSourceById(id: Int): Option[SourceEntry] = sourcesById.get(id)
  def getSourceByName(namespace: String, source: String): Option[SourceEntry] =
    sourcesById.values.find(s => s.namespaceName == namespace && s.name == source)
  def sourcesByNamespace(namespace: String): Seq[SourceEntry] =
    allSources.filter(_.namespaceName == namespace)

  /** Deterministic namespace id from the namespace's own id sequence:
    * 1, 2, 3… assigned on the first source registration per distinct
    * namespace (the reference schematizer's namespace table has its own
    * auto-increment id, so ids stay dense even when one namespace holds
    * many sources before the next namespace appears). */
  def namespaceId(namespace: String): Option[Int] = namespaceIds.get(namespace)

  // --- schema_ref metadata (reference: tools/schema_ref.py,
  //     bootstrapper.py:107-229 — category/note/file-source endpoints) ---

  /** Category get/set/delete per source (reference: schematizer
    * update_category / delete_category, bootstrapper.py:195-229). */
  def setSourceCategory(sourceId: Int, category: String): Unit = {
    require(sourcesById.contains(sourceId), s"unknown source $sourceId")
    sourceCategories.put(sourceId, category)
  }
  def getSourceCategory(sourceId: Int): Option[String] = sourceCategories.get(sourceId)
  def deleteSourceCategory(sourceId: Int): Unit = sourceCategories.remove(sourceId)

  /** Schema-level note attach (reference: create_note/update_note on the
    * whole-schema reference type, bootstrapper.py:160-193). */
  def setSchemaNote(schemaId: Int, note: String): Unit = {
    require(schemasById.contains(schemaId), s"unknown schema $schemaId")
    schemaNotes.put(schemaId, note)
  }
  def getSchemaNote(schemaId: Int): Option[String] = schemaNotes.get(schemaId)

  /** Field-level note attach, keyed by field name within the schema
    * (reference: notes on schema elements, bootstrapper.py:246-272). */
  def setFieldNote(schemaId: Int, fieldName: String, note: String): Unit = {
    require(schemasById.contains(schemaId), s"unknown schema $schemaId")
    require(getSchemaElementsBySchemaId(schemaId)
        .exists(_.elementName.endsWith("." + fieldName)),
      s"schema $schemaId has no field '$fieldName'")
    fieldNotes.put((schemaId, fieldName), note)
  }
  def getFieldNote(schemaId: Int, fieldName: String): Option[String] =
    fieldNotes.get((schemaId, fieldName))
  def getFieldNotes(schemaId: Int): Map[String, String] =
    fieldNotes.collect { case ((id, f), n) if id == schemaId => f -> n }.toMap

  /** Source-file provenance for the documentation tool (reference:
    * register_file_source, bootstrapper.py:231-244). */
  def setFileSource(schemaId: Int, display: String, url: String): Unit = {
    require(schemasById.contains(schemaId), s"unknown schema $schemaId")
    fileSources.put(schemaId, (display, url))
  }
  def getFileSource(schemaId: Int): Option[(String, String)] = fileSources.get(schemaId)

  /** Mutual read compatibility (read + write), the reference's FULL check
    * (reference: schematizer.py:1191 is_avro_schema_compatible). */
  def isFullyCompatible(a: Schema, b: Schema): Boolean = {
    def canRead(reader: Schema, writer: Schema): Boolean =
      SchemaCompatibility.checkReaderWriterCompatibility(reader, writer)
        .getType == SchemaCompatibilityType.COMPATIBLE
    canRead(a, b) && canRead(b, a)
  }

  /** Primary keys from `pkey` field attributes, ordered by their ordinal
    * (reference: conftest pkey fixture — FIXTURES.md §2; used for Kafka
    * keys message.py:340-384 and compaction schematizer.py:1221-1242). */
  private def primaryKeysOf(schema: Schema): Seq[String] = {
    // non-record payloads are legal (e.g. the fixed(16) IV schema —
    // reference _avro_payload.py:114-130) and have no keys
    if (schema.getType != Schema.Type.RECORD) return Seq.empty
    schema.getFields.asScala
      .flatMap { f =>
        Option(f.getObjectProp("pkey")).collect {
          case n: java.lang.Number => (n.intValue(), f.name())
        }
      }
      .sortBy(_._1).map(_._2).toSeq
  }

  // --- lookups (SURVEY §2.8 catalog surface) --------------------------

  def getSchemaById(id: Int): Option[SchemaEntry] = schemasById.get(id)

  def schemaStructType(id: Int): org.apache.spark.sql.types.StructType =
    AvroConversions.toStructType(AvroCodec.parse(
      schemasById(id).schemaJson))

  def topics: Seq[TopicEntry] = topicsById.values.toSeq.sortBy(_.topicId)
  def schemas: Seq[SchemaEntry] = schemasById.values.toSeq.sortBy(_.schemaId)

  def getTopicByName(name: String): Option[TopicEntry] = topics.find(_.name == name)

  def topicsBySource(namespace: String, source: String): Seq[TopicEntry] =
    topics.filter(t => t.namespaceName == namespace && t.sourceName == source)

  def namespaces: Seq[String] = topics.map(_.namespaceName).distinct.sorted
  def sources(namespace: String): Seq[String] =
    topics.filter(_.namespaceName == namespace).map(_.sourceName).distinct.sorted

  def schemasByTopic(topicName: String): Seq[SchemaEntry] =
    schemas.filter(_.topicName == topicName)

  def getLatestSchemaByTopicName(topicName: String): Option[SchemaEntry] =
    schemasByTopic(topicName).sortBy(s => (s.createdAt, s.schemaId)).lastOption

  def getLatestTopicBySource(namespace: String, source: String): Option[TopicEntry] =
    topicsBySource(namespace, source).sortBy(t => (t.createdAt, t.topicId)).lastOption

  def topicsCreatedAfter(tick: Long): Seq[TopicEntry] = topics.filter(_.createdAt > tick)

  /** Current logical-clock reading — the registry's "now" for stateful
    * new-topics-only consumer sources (the reference uses wall time;
    * the logical clock gives the same ordering deterministically). */
  def currentTick: Long = clock.get().toLong

  /** Topics whose latest schema declares primary keys — the compaction
    * eligibility filter (reference: schematizer.py:1221-1242,
    * tools/compaction_setter.py). */
  def topicsWithPrimaryKeys: Seq[TopicEntry] =
    topics.filter(t => getLatestSchemaByTopicName(t.name).exists(_.primaryKeys.nonEmpty))

  def piiTopics: Set[String] = topics.filter(_.containsPii).map(_.name).toSet

  /** Keep only topic names whose latest schema declares primary keys
    * (reference: schematizer.py:1221-1242 filter_topics_by_pkeys — the
    * compaction eligibility check). */
  def filterTopicsByPkeys(names: Seq[String]): Seq[String] =
    names.filter(n => getLatestSchemaByTopicName(n).exists(_.primaryKeys.nonEmpty))

  /** Immutable schema_id → avro json map for executor-side decode. */
  def snapshot: Map[Int, String] =
    schemas.map(s => s.schemaId -> s.schemaJson).toMap

  // --- paginated query surface (schematizer.py:141-254, 793-859) --------

  final case class SchemaElement(
      schemaId: Int,
      elementName: String, // "record.field" key form
      elementType: String,
      doc: Option[String])

  /** Field-level elements of a schema (reference:
    * get_schema_elements_by_schema_id, schematizer.py:141-163 — whole-
    * record elements are filtered out, field elements keep the
    * `record.field` key form). */
  def getSchemaElementsBySchemaId(schemaId: Int): Seq[SchemaElement] =
    schemasById.get(schemaId).toSeq.flatMap { s =>
      val parsed = AvroCodec.parse(s.schemaJson)
      if (parsed.getType != Schema.Type.RECORD) Seq.empty
      else parsed.getFields.asScala.map { f =>
        SchemaElement(schemaId, s"${parsed.getName}.${f.name()}",
          f.schema().getType.getName.toLowerCase, Option(f.doc()))
      }.toSeq
    }

  /** One page of schemas: created at-or-after `createdAfter`, id ≥
    * `minId`, ascending id, at most `count` rows (reference:
    * get_schemas_by_criteria, schematizer.py:195-231). */
  def getSchemasByCriteria(createdAfter: Long = 0L, minId: Int = 0,
                           count: Int = 10): Seq[SchemaEntry] =
    schemas.filter(s => s.createdAt >= createdAfter && s.schemaId >= minId)
      .sortBy(_.schemaId).take(count)

  /** All schemas created at-or-after the timestamp, fetched in `pageSize`
    * keyset-paginated pages exactly like the reference client
    * (schematizer.py:166-254): advance min_id past the last page's tail
    * until a short page signals the end. */
  def getSchemasCreatedAfterDate(createdAfter: Long, minId: Int = 0,
                                 pageSize: Int = 10): Seq[SchemaEntry] = {
    val out = Seq.newBuilder[SchemaEntry]
    var cursor = minId
    var lastPageSize = pageSize
    while (lastPageSize == pageSize) {
      val page = getSchemasByCriteria(createdAfter, cursor, pageSize)
      out ++= page
      page.lastOption.foreach(s => cursor = s.schemaId + 1)
      lastPageSize = page.size
    }
    out.result()
  }

  val DefaultTopicPageSize = 20 // reference DEFAULT_PAGE_SIZE

  /** Topics matching conjunctive criteria, internally keyset-paginated at
    * page size 20 with an optional result cap (reference:
    * get_topics_by_criteria, schematizer.py:793-859; created bound
    * inclusive; ordered by topic id). */
  def getTopicsByCriteria(namespace: Option[String] = None,
                          source: Option[String] = None,
                          createdAfter: Option[Long] = None,
                          minId: Int = 0,
                          maxCount: Option[Int] = None): Seq[TopicEntry] = {
    def page(cursor: Int): Seq[TopicEntry] =
      topics.filter { t =>
        t.topicId >= cursor &&
          namespace.forall(_ == t.namespaceName) &&
          source.forall(_ == t.sourceName) &&
          createdAfter.forall(t.createdAt >= _)
      }.sortBy(_.topicId).take(DefaultTopicPageSize)
    val out = Seq.newBuilder[TopicEntry]
    var n = 0
    var cursor = minId
    var more = true
    while (more) {
      val p = page(cursor)
      val capped = maxCount.map(c => p.take(c - n)).getOrElse(p)
      out ++= capped
      n += capped.size
      p.lastOption.foreach(t => cursor = t.topicId + 1)
      more = p.size >= DefaultTopicPageSize && maxCount.forall(n < _)
    }
    out.result()
  }

  // --- data targets / consumer groups (schematizer.py:861-1189) --------

  final case class DataTarget(dataTargetId: Int, name: String,
                              targetType: String, destination: String)
  final case class ConsumerGroup(consumerGroupId: Int, name: String, dataTargetId: Int)

  private val nextDataTargetId = new AtomicInteger(0)
  private val nextConsumerGroupId = new AtomicInteger(0)
  private val dataTargetsById = TrieMap.empty[Int, DataTarget]
  private val consumerGroupsById = TrieMap.empty[Int, ConsumerGroup]
  // consumer group -> data sources (namespace or source scoped)
  private val groupSources = TrieMap.empty[Int, Set[(String, Option[String])]]

  def createDataTarget(name: String, targetType: String, destination: String): DataTarget = {
    val t = DataTarget(nextDataTargetId.incrementAndGet(), name, targetType, destination)
    dataTargetsById.put(t.dataTargetId, t)
    t
  }

  def createConsumerGroup(name: String, dataTargetId: Int): ConsumerGroup = {
    require(dataTargetsById.contains(dataTargetId), s"no data target $dataTargetId")
    val g = ConsumerGroup(nextConsumerGroupId.incrementAndGet(), name, dataTargetId)
    consumerGroupsById.put(g.consumerGroupId, g)
    g
  }

  /** Attach a namespace (source=None) or a single source to a group. */
  def addConsumerGroupDataSource(consumerGroupId: Int, namespace: String,
                                 source: Option[String]): Unit = {
    require(consumerGroupsById.contains(consumerGroupId), s"no consumer group $consumerGroupId")
    groupSources.updateWith(consumerGroupId) {
      case Some(s) => Some(s + ((namespace, source)))
      case None => Some(Set((namespace, source)))
    }
  }

  def dataTargets: Seq[DataTarget] = dataTargetsById.values.toSeq.sortBy(_.dataTargetId)
  def consumerGroups: Seq[ConsumerGroup] =
    consumerGroupsById.values.toSeq.sortBy(_.consumerGroupId)

  /** All topics feeding a data target via its consumer groups' sources
    * (reference: TopicInDataTarget consumer source). */
  def topicsByDataTarget(dataTargetId: Int): Seq[TopicEntry] = {
    val sources = consumerGroups.filter(_.dataTargetId == dataTargetId)
      .flatMap(g => groupSources.getOrElse(g.consumerGroupId, Set.empty))
    topics.filter(t => sources.exists {
      case (ns, None) => t.namespaceName == ns
      case (ns, Some(src)) => t.namespaceName == ns && t.sourceName == src
    })
  }

  // --- refresh jobs (schematizer.py:981-1109; models/refresh.py) --------

  import graft.refresh.{RefreshJob, RefreshStatus}

  private val nextRefreshId = new AtomicInteger(0)
  private val refreshesById = TrieMap.empty[Int, RefreshJob]

  /** Register a refresh for a known source (reference: create_refresh,
    * schematizer.py:1016-1054). Refresh rows are catalog state like topics
    * and schemas — they persist through [[save]]/[[SchemaRegistry.load]],
    * so a manager restart resumes the queue from the stored offsets
    * instead of losing it. */
  def createRefresh(namespace: String, source: String, offset: Long,
                    batchSize: Int, priority: Int,
                    filterCondition: Option[String] = None,
                    avgRowsPerSecondCap: Option[Int] = None): RefreshJob = synchronized {
    require(topicsBySource(namespace, source).nonEmpty,
      s"no source $namespace.$source to refresh")
    val now = clock.incrementAndGet().toLong
    val j = RefreshJob(nextRefreshId.incrementAndGet(), namespace, source,
      RefreshStatus.NotStarted, offset, batchSize, priority,
      filterCondition, avgRowsPerSecondCap, now, now)
    refreshesById.put(j.refreshId, j)
    j
  }

  /** Update status + resume offset (reference: update_refresh,
    * schematizer.py:1057-1077). */
  def updateRefresh(refreshId: Int, status: RefreshStatus.Value,
                    offset: Long): RefreshJob = synchronized {
    val j = refreshesById.getOrElse(refreshId,
      throw new NoSuchElementException(s"no refresh $refreshId"))
    val updated = j.copy(status = status, offset = offset,
      updatedAt = clock.incrementAndGet().toLong)
    refreshesById.put(refreshId, updated)
    updated
  }

  /** Atomic status transition: succeeds only when the job's CURRENT
    * status equals `from`, and preserves the STORED offset — never a
    * caller snapshot's. This is the manager's check-then-act primitive:
    * tick/zombie-sweep decisions are made over a snapshot, and writing
    * the snapshot's offset back would roll a concurrent pause-flush's
    * resume offset backwards (re-extracting and re-publishing the gap),
    * while an unconditional status write would resurrect a job whose
    * worker raced the sweep. [[updateRefresh]] stays the
    * reference-faithful unconditional PATCH for requester/tooling
    * flows. */
  def transitionRefresh(refreshId: Int, from: RefreshStatus.Value,
                        to: RefreshStatus.Value): Option[RefreshJob] =
    synchronized {
      refreshesById.get(refreshId).filter(_.status == from).map { j =>
        val updated = j.copy(status = to,
          updatedAt = clock.incrementAndGet().toLong)
        refreshesById.put(refreshId, updated)
        updated
      }
    }

  /** [[transitionRefresh]] to InProgress, ADMITTED against the
    * authoritative running count inside the same lock: a per-job CAS
    * alone prevents double-starting one job but not over-admission —
    * two concurrent ticks could each see 7 running under a cap of 8 and
    * start DIFFERENT ninth jobs. Count-check + CAS must be one atomic
    * step; this is it (single-registry scope — multi-process managers
    * still need the deployment lock, as the reference's ZK lock does). */
  def startRefreshCapped(refreshId: Int, from: RefreshStatus.Value,
                         maxInProgress: Int): Option[RefreshJob] =
    synchronized {
      val running = refreshesById.values.count(_.status == RefreshStatus.InProgress)
      if (running >= maxInProgress) None
      else transitionRefresh(refreshId, from, RefreshStatus.InProgress)
    }

  def getRefreshById(refreshId: Int): Option[RefreshJob] = refreshesById.get(refreshId)

  def refreshes: Seq[RefreshJob] = refreshesById.values.toSeq.sortBy(_.refreshId)

  def getRefreshesByNamespace(namespace: String): Seq[RefreshJob] =
    refreshes.filter(_.namespaceName == namespace)

  /** Criteria query (reference: get_refreshes_by_criteria,
    * schematizer.py:981-1014 — all criteria optional and conjunctive;
    * created/updated bounds are inclusive). */
  def getRefreshesByCriteria(
      namespace: Option[String] = None,
      status: Option[RefreshStatus.Value] = None,
      createdAfter: Option[Long] = None,
      updatedAfter: Option[Long] = None): Seq[RefreshJob] =
    refreshes
      .filter(j => namespace.forall(_ == j.namespaceName))
      .filter(j => status.forall(_ == j.status))
      .filter(j => createdAfter.forall(j.createdAt >= _))
      .filter(j => updatedAfter.forall(j.updatedAt >= _))

  /** Refresh catalog as a DataFrame, shaped for
    * [[graft.refresh.PriorityRefreshQueue.scheduleDF]]. */
  def refreshesDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    refreshes.map(j => (j.refreshId, j.namespaceName, j.sourceName,
        RefreshStatus.wire(j.status), j.offset, j.batchSize, j.priority,
        j.filterCondition, j.avgRowsPerSecondCap, j.createdAt, j.updatedAt))
      .toDF("refresh_id", "namespace_name", "source_name", "status", "offset",
        "batch_size", "priority", "filter_condition", "avg_rows_per_second_cap",
        "created_at", "updated_at")
  }

  // --- meta-attribute mappings (schematizer.py:523-689) -----------------

  // (namespace, Option(source)) -> meta attribute schema ids
  private val metaAttrMappings = TrieMap.empty[(String, Option[String]), Set[Int]]

  /** Require a meta attribute on everything in a namespace (source=None)
    * or one source. */
  def registerMetaAttributeMapping(namespace: String, source: Option[String],
                                   metaAttributeSchemaId: Int): Unit = {
    require(schemasById.contains(metaAttributeSchemaId),
      s"meta attribute schema $metaAttributeSchemaId not registered")
    metaAttrMappings.updateWith((namespace, source)) {
      case Some(s) => Some(s + metaAttributeSchemaId)
      case None => Some(Set(metaAttributeSchemaId))
    }
  }

  /** Mandatory meta attribute schema ids for a payload schema: namespace-
    * level ∪ source-level mappings. */
  def mandatoryMetaAttributes(schemaId: Int): Set[Int] =
    schemasById.get(schemaId).map { s =>
      metaAttrMappings.getOrElse((s.namespaceName, None), Set.empty) ++
        metaAttrMappings.getOrElse((s.namespaceName, Some(s.sourceName)), Set.empty)
    }.getOrElse(Set.empty)

  // --- catalog as DataFrames (for catalog queries / introspection) -----

  def topicsDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    topics.map(t => (t.topicId, t.name, t.namespaceName, t.sourceName, t.containsPii,
        t.createdAt, t.clusterType))
      .toDF("topic_id", "name", "namespace", "source", "contains_pii",
        "created_at", "cluster_type")
  }

  def schemasDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    schemas.map(s => (s.schemaId, s.topicName, s.namespaceName, s.sourceName,
        s.schemaJson, s.primaryKeys, s.containsPii, s.createdAt, s.baseSchemaId,
        topicsById(s.topicId).clusterType))
      .toDF("schema_id", "topic", "namespace", "source", "schema_json",
        "primary_keys", "contains_pii", "created_at", "base_schema_id",
        "cluster_type")
  }

  def sourcesDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    allSources.map(s => (s.sourceId, s.name, s.namespaceName, s.ownerEmail,
        sourceCategories.get(s.sourceId), s.createdAt))
      .toDF("source_id", "name", "namespace", "owner_email", "category", "created_at")
  }

  // --- persistence ------------------------------------------------------

  /** Persist the catalog as parquet tables (schemas + topics + refreshes +
    * data targets/consumer groups/meta-attribute mappings). The store is
    * the registry's durability layer — an embedded stand-in for the
    * Schematizer's MySQL (at cluster scale: a shared object-store path or
    * Delta table).
    *
    * Atomic and point-in-time consistent: the whole call is synchronized
    * on the registry (a registration racing the save can otherwise split
    * across the table snapshots and produce a store that fails its own
    * reload-drift checks), and all tables land in a fresh GENERATION
    * directory `gen_<n>` committed by [[graft.core.Commit]] — marker
    * after the last table, then the `_latest_gen` pointer flip — so a
    * crash at ANY point leaves the previous generation fully intact and
    * resolvable. Old generations vacuum to one committed grace copy.
    * [[SchemaRegistry.load]] still reads the legacy flat layout when no
    * generation exists. */
  def save(spark: SparkSession, dir: String): Unit = synchronized {
    import spark.implicits._
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // numbered past EVERY generation on disk, uncommitted debris included
    val genId = Commit.ids(fs, root, "gen").lastOption.getOrElse(-1L) + 1L
    val gen = s"gen_$genId"
    val base = s"$dir/$gen"
    topicsDF(spark).write.mode("overwrite").parquet(s"$base/topics")
    schemasDF(spark).write.mode("overwrite").parquet(s"$base/schemas")
    sourcesDF(spark).write.mode("overwrite").parquet(s"$base/sources")
    schemas.flatMap(s => Seq(
        schemaNotes.get(s.schemaId).map(n => (s.schemaId, "note", "", n)),
        fileSources.get(s.schemaId).map { case (d, u) => (s.schemaId, "file_source", d, u) })
        .flatten ++
        getFieldNotes(s.schemaId).toSeq.sortBy(_._1)
          .map { case (f, n) => (s.schemaId, "field_note", f, n) })
      .toDF("schema_id", "kind", "key", "value")
      .write.mode("overwrite").parquet(s"$base/schema_meta")
    refreshesDF(spark).write.mode("overwrite").parquet(s"$base/refreshes")
    dataTargets.map(t => (t.dataTargetId, t.name, t.targetType, t.destination))
      .toDF("data_target_id", "name", "target_type", "destination")
      .write.mode("overwrite").parquet(s"$base/data_targets")
    consumerGroups.map(g => (g.consumerGroupId, g.name, g.dataTargetId))
      .toDF("consumer_group_id", "name", "data_target_id")
      .write.mode("overwrite").parquet(s"$base/consumer_groups")
    groupSources.toSeq
      .flatMap { case (gid, srcs) => srcs.map(s => (gid, s._1, s._2)) }
      .toDF("consumer_group_id", "namespace", "source")
      .write.mode("overwrite").parquet(s"$base/group_sources")
    metaAttrMappings.toSeq
      .flatMap { case ((ns, src), ids) => ids.map(id => (ns, src, id)) }
      .toDF("namespace", "source", "meta_attribute_schema_id")
      .write.mode("overwrite").parquet(s"$base/meta_attr_mappings")
    // commit: marker after every table, pointer flip after the marker
    Commit.mark(fs, new org.apache.hadoop.fs.Path(base))
    Commit.writePointer(fs, root, "_latest_gen", gen)
    // keep ONE grace copy for a reader that resolved the pointer just
    // before the flip — a COMMITTED one, as that reader can only have
    // resolved such; uncommitted debris (a save that crashed pre-marker)
    // deletes unconditionally
    Commit.vacuum(fs, root, "gen", keep = 2, current = genId)
  }

  /** Restore a refresh row verbatim (reload path: ids, offsets and states
    * must survive a manager restart exactly). Referential integrity is
    * re-checked: a torn or hand-edited store whose refresh references a
    * source with no topics would otherwise load silently and get
    * actively scheduled against nothing — the same invariant
    * [[createRefresh]] enforces. */
  private[schema] def restoreRefresh(j: RefreshJob): Unit = synchronized {
    require(topicsBySource(j.namespaceName, j.sourceName).nonEmpty,
      s"refresh ${j.refreshId} references ${j.namespaceName}.${j.sourceName}, " +
        "which has no topics in the restored catalog — corrupt store")
    refreshesById.put(j.refreshId, j)
    var cur = nextRefreshId.get()
    while (cur < j.refreshId && !nextRefreshId.compareAndSet(cur, j.refreshId))
      cur = nextRefreshId.get()
    val tick = math.max(j.createdAt, j.updatedAt)
    var c = clock.get()
    while (c < tick && !clock.compareAndSet(c, tick)) c = clock.get()
  }

  private[schema] def restoreDataTarget(t: DataTarget): Unit = synchronized {
    dataTargetsById.put(t.dataTargetId, t)
    var cur = nextDataTargetId.get()
    while (cur < t.dataTargetId && !nextDataTargetId.compareAndSet(cur, t.dataTargetId))
      cur = nextDataTargetId.get()
  }

  private[schema] def restoreConsumerGroup(g: ConsumerGroup): Unit = synchronized {
    require(dataTargetsById.contains(g.dataTargetId),
      s"consumer group ${g.consumerGroupId} references data target " +
        s"${g.dataTargetId}, absent from the restored catalog — corrupt store")
    consumerGroupsById.put(g.consumerGroupId, g)
    var cur = nextConsumerGroupId.get()
    while (cur < g.consumerGroupId && !nextConsumerGroupId.compareAndSet(cur, g.consumerGroupId))
      cur = nextConsumerGroupId.get()
  }
}

object SchemaRegistry {

  /** Rehydrate a registry from [[SchemaRegistry#save]] output. Schema
    * entries are re-registered in original schema_id order; ids and topic
    * assignment are reproduced because registration is deterministic.
    * Refresh rows restore verbatim — their offsets/states are runtime
    * progress, not derivable, and a restarted manager must resume from
    * them exactly. */
  /** Catalogs are control-plane metadata (thousands of schemas, not data
    * rows); the reload path collects driver-side by design, and this guard
    * turns a mis-pointed path (e.g. a data table) into a clear error
    * instead of a driver OOM. */
  val MaxCatalogRows: Long = 1L << 20

  def load(spark: SparkSession, dir: String): SchemaRegistry = {
    // resolve the catalog generation: a `_latest_gen` pointer naming a
    // committed generation wins; a missing, garbage or dangling pointer
    // falls back to the newest committed generation; a store with no
    // generations at all is the legacy flat layout
    val root = new org.apache.hadoop.fs.Path(dir)
    val rootFs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val resolvedGen: Option[String] = Commit.readPointer(rootFs, root, "_latest_gen")
      .filter(g => g.matches("^gen_\\d+$") &&
        Commit.isCommitted(rootFs, new org.apache.hadoop.fs.Path(root, g)))
      .orElse(Commit.committed(rootFs, root, "gen").lastOption.map(g => s"gen_$g"))
    val base = resolvedGen.map(g => s"$dir/$g").getOrElse(dir)
    val reg = new SchemaRegistry
    val catalog = spark.read.parquet(s"$base/schemas")
    val nRows = catalog.count() // parquet metadata only — no scan
    require(nRows <= MaxCatalogRows,
      s"refusing to rehydrate $nRows rows from $dir/schemas driver-side — " +
        "is this really a catalog store?")
    // Catalogs written before the sources/cluster_type format extension
    // lack these two columns; synthesize the defaults instead of throwing
    // AnalysisException on reload — same optional-shape treatment the
    // fs.exists guards below give whole missing tables.
    import org.apache.spark.sql.functions.lit
    val withBase =
      if (catalog.columns.contains("base_schema_id")) catalog
      else catalog.withColumn("base_schema_id",
        lit(null).cast(org.apache.spark.sql.types.IntegerType))
    val compat =
      if (withBase.columns.contains("cluster_type")) withBase
      else withBase.withColumn("cluster_type", lit("datapipe"))
    val withTick =
      if (compat.columns.contains("created_at")) compat
      else compat.withColumn("created_at",
        lit(null).cast(org.apache.spark.sql.types.LongType))
    val rows = withTick
      .select("schema_id", "namespace", "source", "schema_json", "contains_pii",
        "base_schema_id", "cluster_type", "created_at")
      .collect().sortBy(_.getAs[Int]("schema_id"))
    rows.foreach { r =>
      val entry = reg.registerSchema(
        r.getAs[String]("namespace"), r.getAs[String]("source"),
        r.getAs[String]("schema_json"), r.getAs[Boolean]("contains_pii"),
        baseSchemaId = Option(r.get(r.fieldIndex("base_schema_id")))
          .map(_.asInstanceOf[Int]),
        clusterType = r.getAs[String]("cluster_type"))
      require(entry.schemaId == r.getAs[Int]("schema_id"),
        s"catalog reload drifted: got ${entry.schemaId}, expected ${r.getAs[Int]("schema_id")}")
      // restore the persisted logical tick verbatim: the replay above
      // re-synthesized ticks in replay order, which shifts the clock
      // whenever refresh/update ticks were interleaved between
      // registrations — a new-topics-only consumer's checkpointed tick
      // would then skip genuinely newer topics after a restart
      Option(r.get(r.fieldIndex("created_at"))).map(_.asInstanceOf[Long])
        .foreach { t =>
          reg.schemasById.put(entry.schemaId,
            reg.schemasById(entry.schemaId).copy(createdAt = t))
        }
    }
    // Optional-table existence goes through the Hadoop FileSystem API, not
    // java.io.File: save() targets any Hadoop-supported scheme (s3://,
    // hdfs://, a shared object-store path), and a local-only check would
    // silently drop the refresh queue and group state on reload there.
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    def table(name: String): Seq[org.apache.spark.sql.Row] = {
      val path = new org.apache.hadoop.fs.Path(s"$base/$name")
      val fs = path.getFileSystem(hadoopConf)
      if (!fs.exists(path)) Seq.empty
      else spark.read.parquet(s"$base/$name").collect().toSeq
    }
    // Source rows were re-created by the registration replay above (same
    // order ⇒ same ids); patch on the persisted owner/category metadata.
    table("sources").foreach { r =>
      val id = r.getAs[Int]("source_id")
      val stored = reg.getSourceByName(r.getAs[String]("namespace"), r.getAs[String]("name"))
      require(stored.exists(_.sourceId == id),
        s"catalog reload drifted: source ${r.getAs[String]("name")} expected id $id, " +
          s"got ${stored.map(_.sourceId)}")
      val owner = r.getAs[String]("owner_email")
      if (owner.nonEmpty)
        reg.sourcesById.put(id, stored.get.copy(ownerEmail = owner))
      Option(r.getAs[String]("category")).foreach(reg.setSourceCategory(id, _))
    }
    // same verbatim-tick restoration for topics (by unique topic name);
    // collected ONCE — the max-tick fold below reuses this seq
    val topicRows = table("topics")
    topicRows.foreach { r =>
      val name = r.getAs[String]("name")
      val t = r.getAs[Long]("created_at")
      reg.topicsById.collectFirst { case (id, e) if e.name == name => (id, e) }
        .foreach { case (id, e) => reg.topicsById.put(id, e.copy(createdAt = t)) }
    }
    // advance the clock past every persisted tick so post-reload ticks
    // stay strictly monotone vs the restored history
    val maxTick = (rows.flatMap(r =>
      Option(r.get(r.fieldIndex("created_at"))).map(_.asInstanceOf[Long])) ++
      topicRows.map(_.getAs[Long]("created_at"))).foldLeft(0L)(math.max)
    var c = reg.clock.get()
    while (c < maxTick && !reg.clock.compareAndSet(c, maxTick))
      c = reg.clock.get()

    table("schema_meta").foreach { r =>
      val id = r.getAs[Int]("schema_id")
      (r.getAs[String]("kind"), r.getAs[String]("key"), r.getAs[String]("value")) match {
        case ("note", _, n) => reg.setSchemaNote(id, n)
        case ("field_note", f, n) => reg.setFieldNote(id, f, n)
        case ("file_source", d, u) => reg.setFileSource(id, d, u)
        case (k, _, _) => throw new IllegalArgumentException(s"unknown schema_meta kind $k")
      }
    }
    table("refreshes").sortBy(_.getAs[Int]("refresh_id")).foreach { r =>
      reg.restoreRefresh(graft.refresh.RefreshJob(
        r.getAs[Int]("refresh_id"),
        r.getAs[String]("namespace_name"),
        r.getAs[String]("source_name"),
        graft.refresh.RefreshStatus.fromWire(r.getAs[String]("status")),
        r.getAs[Long]("offset"),
        r.getAs[Int]("batch_size"),
        r.getAs[Int]("priority"),
        Option(r.getAs[String]("filter_condition")),
        Option(r.get(r.fieldIndex("avg_rows_per_second_cap")))
          .map(_.asInstanceOf[Int]),
        r.getAs[Long]("created_at"),
        r.getAs[Long]("updated_at")))
    }
    table("data_targets").sortBy(_.getAs[Int]("data_target_id")).foreach { r =>
      reg.restoreDataTarget(reg.DataTarget(
        r.getAs[Int]("data_target_id"), r.getAs[String]("name"),
        r.getAs[String]("target_type"), r.getAs[String]("destination")))
    }
    table("consumer_groups").sortBy(_.getAs[Int]("consumer_group_id")).foreach { r =>
      reg.restoreConsumerGroup(reg.ConsumerGroup(
        r.getAs[Int]("consumer_group_id"), r.getAs[String]("name"),
        r.getAs[Int]("data_target_id")))
    }
    table("group_sources").foreach { r =>
      reg.addConsumerGroupDataSource(r.getAs[Int]("consumer_group_id"),
        r.getAs[String]("namespace"), Option(r.getAs[String]("source")))
    }
    table("meta_attr_mappings").foreach { r =>
      reg.registerMetaAttributeMapping(r.getAs[String]("namespace"),
        Option(r.getAs[String]("source")), r.getAs[Int]("meta_attribute_schema_id"))
    }
    reg
  }
}
