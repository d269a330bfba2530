package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Envelope
import graft.functions._
import graft.operators.Checkpoint
import graft.schema.SchemaRegistry

/** Producer/consumer surface of the engine: payload rows ⇄ enveloped
  * transport messages.
  *
  * Works identically on batch DataFrames and streaming DataFrames — the
  * envelope expressions are row-local, so the same plan fragment serves
  * `spark.read` and `spark.readStream`. Against a real cluster the sink is
  * `format("kafka")` with the registry topic as the `topic` column and
  * `encoded_keys` as the message key (reference hot path:
  * producer.py:257-289 → _kafka_producer.py:107-247); batching/linger and
  * idempotent produce are the Kafka client's job, checkpointing is
  * Spark's — the reference's hand-rolled buffer/flush/retry machinery
  * (SURVEY §2.7 ST1-ST4) collapses into those two built-ins.
  */
object Pipeline {

  /** Wrap payload columns into enveloped transport bytes:
    * [[envelopeForBytes]] over the [[graft.functions.encode_payload]]
    * encoding of `payload` (and of `previousPayload`, for an update).
    *
    * @param payload     struct column of the payload fields (must match the
    *                    registered writer schema)
    * @param messageType create/update/delete/refresh/log
    * @param entry       the registered schema this payload is written under
    * @param timestamp   unix-seconds column for the envelope
    * @param uuid        16-byte uuid column; defaults to the codegen'd
    *                    [[graft.functions.Uuid4Binary]] uuid4 generator
    *                    (reference: _fast_uuid.py — uuid generation is the
    *                    reference's headline hot path); pass a
    *                    deterministic column for replayable tests/oracles
    */
  def envelopeFor(
      payload: Column,
      messageType: String,
      entry: SchemaRegistry#SchemaEntry,
      timestamp: Column,
      uuid: Column = uuid4_binary(),
      previousPayload: Option[Column] = None): Column =
    envelopeForBytes(encode_payload(payload, entry.schemaJson), messageType,
      entry.schemaId, timestamp, uuid,
      previousPayload = previousPayload.map(encode_payload(_, entry.schemaJson)))

  /** Envelope over PRE-ENCODED payload bytes — the producer half of the
    * encryption integration (reference: message.py:465-468 — encrypt the
    * ENCODED payload, then envelope the ciphertext with the IV meta
    * attribute and encryption_type): encode with
    * [[graft.functions.encode_payload]], run
    * [[Encryption.encryptDF]] over the bytes column, then envelope the
    * ciphertext with the meta/encryption_type columns it added.
    * [[consume]] with [[Encryption.Keys]] is the inverse.
    * `previousPayload` is encoded bytes too; `ascii` packs for the
    * ASCII-only (Scribe) transport. */
  def envelopeForBytes(
      payloadBytes: Column,
      messageType: String,
      schemaId: Int,
      timestamp: Column,
      uuid: Column = uuid4_binary(),
      meta: Option[Column] = None,
      encryptionType: Option[Column] = None,
      ascii: Boolean = false,
      previousPayload: Option[Column] = None): Column =
    envelope(payloadBytes, messageType, lit(schemaId), timestamp, uuid, meta,
      encryptionType, ascii, previousPayload)

  /** The one spelling of the eight envelope fields (SURVEY §1.2,
    * envelope.py:29-121). The schema id is a column so a fixture can
    * plant an unknown id row by row. */
  private[graft] def envelope(
      payloadBytes: Column,
      messageType: String,
      schemaId: Column,
      timestamp: Column,
      uuid: Column,
      meta: Option[Column] = None,
      encryptionType: Option[Column] = None,
      ascii: Boolean = false,
      previousPayload: Option[Column] = None): Column = {
    val metaType = Envelope.sparkType("meta").dataType
    val env = struct(
      uuid.as("uuid"),
      lit(messageType).as("message_type"),
      schemaId.as("schema_id"),
      payloadBytes.as("payload"),
      previousPayload.getOrElse(lit(null).cast("binary")).as("previous_payload"),
      meta.getOrElse(lit(null).cast(metaType)).as("meta"),
      encryptionType.getOrElse(lit(null).cast("string")).as("encryption_type"),
      Envelope.timestampInt(timestamp).as("timestamp"))
    if (ascii) pack_envelope_ascii(env) else pack_envelope(env)
  }

  /** Producer: payload df → (topic, key, value) transport rows.
    * PII topics are dropped when `skipPii` (reference:
    * _kafka_producer.py:107-124) — the filter is a broadcast-set lookup,
    * applied before serialization so skipped rows cost nothing.
    */
  def produce(
      df: DataFrame,
      payload: Column,
      messageType: String,
      entry: SchemaRegistry#SchemaEntry,
      timestamp: Column,
      registry: SchemaRegistry,
      uuid: Column = uuid4_binary(),
      skipPii: Boolean = false): DataFrame = {
    val piiTopics = registry.piiTopics
    val out = df.select(
      lit(entry.topicName).as("topic"),
      keyFor(payload, entry).as("key"),
      envelopeFor(payload, messageType, entry, timestamp, uuid).as("value"))
    // filter(lit(false)), not limit(0): a streaming limit is unsupported
    // in update output mode and otherwise plans a stateful global-limit
    // operator — the row-local filter is free in every mode
    if (skipPii && piiTopics.contains(entry.topicName))
      out.filter(lit(false))
    else out
  }

  /** Kafka message key: the Avro-encoded primary-key projection of the
    * payload (reference: message.py:340-384 keys/encoded_keys). Null when
    * the schema declares no pkeys (round-robin partitioning). */
  def keyFor(payload: Column, entry: SchemaRegistry#SchemaEntry): Column =
    if (entry.primaryKeys.isEmpty) lit(null).cast("binary")
    else {
      val pkStruct = struct(entry.primaryKeys.map(k => payload.getField(k)): _*)
      val pkSchemaJson = primaryKeySchemaJson(entry)
      encode_payload(pkStruct, pkSchemaJson)
    }

  /** Synthesized Avro record of just the pkey fields, in pkey order. */
  def primaryKeySchemaJson(entry: SchemaRegistry#SchemaEntry): String = {
    val parsed = graft.functions.AvroCodec.parse(entry.schemaJson)
    val fields = entry.primaryKeys.map { k =>
      val f = parsed.getField(k)
      require(f != null, s"pkey field $k not in schema")
      s"""{"name":"$k","type":${f.schema().toString}}"""
    }
    s"""{"type":"record","name":"${parsed.getName}_pkeys","namespace":"${parsed.getNamespace}",
        "fields":[${fields.mkString(",")}]}"""
  }

  /** Consumer: transport rows → unpacked envelope + decoded payload under
    * the reader schema (reference: message.py:817-856
    * create_from_kafka_message; reader-schema forcing
    * base_consumer.py:291-313). Keeps envelope metadata columns alongside
    * the decoded struct — column pruning drops whatever the query doesn't
    * project.
    *
    * With `decryption`, a stream that may carry AES-CBC-encrypted payloads
    * decrypts BEFORE the Avro decode (reference: message.py:489-550): the
    * key comes from encryption_type's key id, the IV from meta; a
    * wrong/rotated key or corrupt ciphertext degrades through
    * `try_aes_decrypt` → null → the Avro decode's own null → the
    * dead-letter split, never a task failure. Without it, encrypted
    * payloads decode to null (ciphertext is not decodable Avro) rather
    * than crashing. */
  def consume(
      transport: DataFrame,
      registry: SchemaRegistry,
      readerSchemaId: Int,
      valueCol: String = "value",
      decryption: Option[Encryption.Keys] = None): DataFrame =
    consumeDecrypted(transport, registry, readerSchemaId, valueCol, decryption)
      .drop("raw_envelope")

  private def consumeDecrypted(
      transport: DataFrame,
      registry: SchemaRegistry,
      readerSchemaId: Int,
      valueCol: String,
      decryption: Option[Encryption.Keys]): DataFrame = {
    val env = col("env")
    def payloadBytes(raw: Column): Column = decryption match {
      case Some(k) =>
        when(env.getField("encryption_type").isNotNull,
          Encryption.decrypt(raw, env.getField("encryption_type"),
            env.getField("meta"), k.ivSchemaId, k.byId))
          .otherwise(raw)
      case None =>
        // without key material, ciphertext must not reach the Avro
        // decoder as if it were plaintext — null it into the
        // dead-letter path instead
        when(env.getField("encryption_type").isNotNull,
          lit(null).cast("binary")).otherwise(raw)
    }
    // Both projections ride behind explode/inline GENERATE barriers: a
    // generator's output is a real attribute computed once per row, which
    // is what stops (a) CollapseProject from re-inlining unpack_envelope
    // into every `env.field` extraction (~8 evaluations of the full
    // unpack — and, when the transport column is itself a pack_envelope
    // fixture, of the pack too — per row), and (b) predicate pushdown
    // from substituting the decode_payload tree into a Filter BELOW the
    // projection, where it would evaluate a second time per row for
    // every consumer that filters on `payload` (the dead-letter split
    // does exactly that — its before-plan carried the whole
    // pack→unpack→decode chain inside the scan Filter AND the Project).
    // explode(array(e)) / inline(array(struct(...))) are row-preserving:
    // a 1-element array always yields exactly one output row, even when
    // `e` is null. Optimization guide §4.4 (duplicated evaluation), §1.2
    // (per-task work).
    transport
      .select(col(valueCol), explode(array(unpack_envelope(col(valueCol)))).as("env"))
      .select(inline(array(struct(
        col(valueCol).as("raw_envelope"),
        col("env.uuid").as("uuid"),
        col("env.message_type").as("message_type"),
        col("env.schema_id").as("schema_id"),
        col("env.timestamp").as("timestamp"),
        col("env.encryption_type").as("encryption_type"),
        col("env.meta").as("meta"),
        decode_payload(payloadBytes(col("env.payload")), col("env.schema_id"),
          registry, readerSchemaId).as("payload"),
        when(col("env.previous_payload").isNotNull,
          decode_payload(payloadBytes(col("env.previous_payload")),
            col("env.schema_id"), registry, readerSchemaId))
          .as("previous_payload")))))
  }

  /** Multi-topic consume with per-topic reader schemas (reference:
    * consumer.py:230-233 reader_schema_map, consumer_source.py:120-147
    * FixedSchemas): each topic's frame decodes under its forced reader.
    * One frame per topic because reader schemas differ — heterogeneous
    * payload structs can't share a column; Catalyst prunes each branch's
    * scan to its topic filter. */
  def consumeByTopic(
      transport: DataFrame,
      registry: SchemaRegistry,
      readerSchemaByTopic: Map[String, Int],
      topicCol: String = "topic",
      valueCol: String = "value"): Map[String, DataFrame] =
    readerSchemaByTopic.map { case (topic, readerId) =>
      topic -> consume(
        transport.filter(col(topicCol) === topic), registry, readerId, valueCol)
    }

  /** Consume with an explicit dead-letter split (SURVEY §2.2 P5 error
    * side-output): rows whose payload failed to decode (unknown schema_id,
    * corrupt bytes → null) route to the second frame with the raw envelope
    * intact for replay, instead of silently vanishing or killing the task.
    * Both frames read ONE shared decode pass — see [[deadLetterSplit]].
    * On an encrypted stream pass `decryption` (as for [[consume]]): good
    * rows decrypt+decode, while wrong-key / corrupt / unknown-schema rows
    * land in the dead frame WITH their raw transport bytes, so they
    * replay verbatim once the key or registry is fixed; without it every
    * encrypted row dead-letters, good ones included.
    */
  def consumeWithDeadLetters(
      transport: DataFrame,
      registry: SchemaRegistry,
      readerSchemaId: Int,
      valueCol: String = "value",
      decryption: Option[Encryption.Keys] = None): (DataFrame, DataFrame) =
    deadLetterSplit(consumeDecrypted(transport, registry, readerSchemaId,
      valueCol, decryption))

  /** The two-branch split over one shared decode pass. A dead-letter split
    * BY DEFINITION consumes both halves, and Spark has no cross-branch
    * common-subplan reuse, so without materialization the unpack+decode
    * chain Avro-decodes the corpus once PER BRANCH — the dominant cost of
    * the split at any scale (guide §5: persist what is reused and
    * expensive to recompute). The pass is cut by [[Checkpoint.cut]]:
    * lazy and executor-local by default, reliable and materialized at
    * composition time when the session has a checkpoint dir. Streaming
    * frames keep the two-branch lineage (each micro-batch is small; the
    * sink pair shares the exchange-free scan).
    */
  private def deadLetterSplit(decoded: DataFrame): (DataFrame, DataFrame) = {
    val consumed = Checkpoint.cut(decoded)
    (consumed.filter(col("payload").isNotNull).drop("raw_envelope"),
      // the dead-letter frame KEEPS the raw transport bytes: after a
      // registry fix the letters re-consume from raw_envelope — without
      // it the original envelope is unrecoverable and replay impossible
      consumed.filter(col("payload").isNull))
  }

  /** Effectively-once delivery on an at-least-once transport (SURVEY §2.7
    * ST1/ST2 consumer side): drop redelivered messages by envelope uuid,
    * with state bounded by a watermark on the envelope timestamp instead
    * of growing forever — the Spark-idiomatic form of the reference's
    * offset-audit dedup (producer.py:291-422). `horizon` must exceed the
    * transport's worst-case redelivery window (broker retention for a
    * reprocessed batch; seconds for a producer retry).
    */
  def dedupeEffectivelyOnce(consumed: DataFrame, horizon: String): DataFrame =
    consumed
      .withColumn("__event_time", timestamp_seconds(col("timestamp")))
      .withWatermark("__event_time", horizon)
      .dropDuplicatesWithinWatermark("uuid")
      .drop("__event_time")

  /** Heartbeat rows for quiet-topic keep-alive (SURVEY §2.7 ST5): in
    * streaming mode wire `spark.readStream.format("rate")` through this to
    * union synthetic heartbeats into a transport stream so downstream
    * auditors can distinguish stalled from empty topics. Emits REAL
    * (topic, key, value) transport rows — value is a packed envelope with
    * message_type = heartbeat, schema_id = 0 (the no-schema sentinel;
    * consume() decodes its empty payload to null and the dead-letter
    * split or a message_type filter routes it) — so the frame unions
    * directly with produce() output or a Kafka source and downstream
    * consumers see a decodable envelope, not a schema-mismatched control
    * row. */
  def heartbeats(ticks: DataFrame, topics: Seq[String], tsCol: String = "timestamp"): DataFrame = {
    val topicCol = explode(array(topics.map(lit(_)): _*))
    ticks.select(
      topicCol.as("topic"),
      lit(null).cast("binary").as("key"),
      envelopeForBytes(lit(Array.emptyByteArray), "heartbeat", schemaId = 0,
        timestamp = unix_timestamp(col(tsCol))).as("value"))
  }

  /** Update-message field diff on a consumed stream: per-field
    * {old, current} pairs for fields that changed (reference:
    * message.py:394-398, 780-798 payload_diff/has_changed). */
  def payloadDiff(consumed: DataFrame, fields: Seq[String]): DataFrame = {
    val diffs = fields.map { f =>
      struct(
        col(s"previous_payload.$f").as("old"),
        col(s"payload.$f").as("current"),
        // null-SAFE inequality: =!= yields NULL when either side is
        // null, silently hiding null→value and value→null transitions
        // from any `changed === true` consumer — the reference's
        // has_changed counts those as changes
        (!(col(s"previous_payload.$f") <=> col(s"payload.$f"))).as("changed")
      ).as(s"diff_$f")
    }
    consumed
      .filter(col("message_type") === "update")
      .select(col("uuid") +: col("schema_id") +: diffs: _*)
  }
}
