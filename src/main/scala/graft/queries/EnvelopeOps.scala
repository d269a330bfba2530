package graft.queries

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.core.Envelope
import graft.functions._
import graft.schema.SchemaRegistry
import graft.streaming.{Encryption, Pipeline}

/** Envelope/payload serde exercised as oracle-checkable queries.
  *
  * The trick: a pack→unpack→decode round trip is the identity, so the
  * DuckDB oracle is a plain SELECT of the input columns — the serde gets a
  * hash-checked correctness gate even though Avro bytes themselves aren't
  * SQL-expressible (SURVEY §2.2 P1-P4, §2.9).
  */
object EnvelopeOps {

  /** Writer schema for the events demo payload. */
  val eventSchemaJson: String =
    """{"type":"record","name":"event","namespace":"graft.demo","fields":[
         {"name":"event_id","type":"long"},
         {"name":"user_id","type":"long"},
         {"name":"event_type","type":"string"},
         {"name":"value","type":"double"}]}"""

  /** Reader schema with an extra defaulted field — exercises Avro
    * reader/writer resolution inside the same gate. */
  val eventSchemaV2Json: String =
    """{"type":"record","name":"event","namespace":"graft.demo","fields":[
         {"name":"event_id","type":"long"},
         {"name":"user_id","type":"long"},
         {"name":"event_type","type":"string"},
         {"name":"value","type":"double"},
         {"name":"channel","type":"string","default":"unknown"}]}"""

  private def registryForEvents: (SchemaRegistry, Int, Int) = {
    val reg = new SchemaRegistry
    val v1 = reg.registerSchema("demo", "event", eventSchemaJson)
    val v2 = reg.registerSchema("demo", "event", eventSchemaV2Json)
    (reg, v1.schemaId, v2.schemaId)
  }

  /** The events fixture's envelope: [[graft.streaming.Pipeline]]'s one
    * envelope with a deterministic uuid, so every envelope query
    * (round-trip, evolution, dead-letter) replays bit for bit.
    * `schemaId`/`payload` are columns so the dead-letter query can plant
    * per-row corruption. */
  private def eventEnvelope(schemaId: Column, payload: Column,
                            ascii: Boolean = false): Column =
    Pipeline.envelope(payload, "create", schemaId, unix_timestamp(col("ts")),
      uuid = unhex(md5(col("event_id").cast("string"))), ascii = ascii)

  /** The canonical v1 payload encoding of an events row. */
  private def eventPayload(spark: SparkSession): Column = {
    import spark.implicits._
    encode_payload(
      struct($"event_id", $"user_id", $"event_type", $"value"),
      eventSchemaJson)
  }

  /** The producer-side validation gate: a source row null in ANY field
    * the envelope or payload schema requires (id, user, type, value, ts)
    * cannot produce a message — pack_envelope/encode_payload would
    * dead-letter it to NULL (their per-row contract; spec-pinned), and
    * the identity oracles replay only producible rows. The envelope
    * timestamp is Avro int (Y2038-bounded): a ts outside the int range
    * dead-letters at pack ([[Envelope.timestampInt]] nulls the required
    * ordinal), so the gate is that same rule. */
  private def producible: Column =
    col("event_id").isNotNull && col("user_id").isNotNull &&
      col("event_type").isNotNull && col("value").isNotNull &&
      Envelope.timestampInt(unix_timestamp(col("ts"))).isNotNull

  /** [[producible]]'s DuckDB twin, the WHERE clause of every envelope
    * oracle. */
  private val producibleSql: String =
    "event_id IS NOT NULL AND user_id IS NOT NULL AND event_type IS NOT NULL AND " +
      "value IS NOT NULL AND ts IS NOT NULL AND " +
      s"floor(epoch(ts)) BETWEEN ${Int.MinValue} AND ${Int.MaxValue}"

  /** The producible events: ONE definition so every envelope fixture
    * agrees on the survivor set. */
  private def validEvents(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).filter(producible)

  private def packEvents(spark: SparkSession, dir: String, schemaId: Int,
                         ascii: Boolean): DataFrame =
    validEvents(spark, dir).select(
      eventEnvelope(lit(schemaId), eventPayload(spark), ascii).as("value"))

  /** encode → pack(binary) → consume(v1 reader) ≡ identity. */
  def qEnvelopeRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (reg, v1, _) = registryForEvents
    Pipeline.consume(packEvents(spark, dir, v1, ascii = false), reg, v1)
      .select($"payload.event_id", $"payload.user_id", $"payload.event_type",
        $"payload.value")
      .orderBy($"event_id")
  }

  /** ASCII/Scribe transport variant + schema-evolution read: v1-written
    * payloads consumed under the v2 reader schema (defaults filled). */
  def qEnvelopeEvolution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (reg, v1, v2) = registryForEvents
    Pipeline.consume(packEvents(spark, dir, v1, ascii = true), reg, v2)
      .select($"payload.event_id", $"payload.user_id", $"payload.event_type",
        $"payload.value", $"payload.channel")
      .orderBy($"event_id")
  }

  /** AES-CBC payload encryption round trip (SURVEY §2.2 P7 — reference
    * _encryption_helper.py:108-198) through the shipped wire layout:
    * [[Encryption.encryptDF]] (raw CBC blocks, IV in meta), then
    * [[Encryption.decrypt]]. The IV is fixed here so the query is
    * deterministic; the key rides as a plan-opaque secret.
    */
  def qEncryptRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ivSchemaId = Encryption.registerIvSchema(new SchemaRegistry).schemaId
    val key = "0123456789abcdef"
    Encryption.encryptDF(
        Tables.documents(spark, dir)
          .select($"doc_id", $"text", $"text".cast("binary").as("ciphertext")),
        "ciphertext", key, keyId = 1, ivSchemaId = ivSchemaId,
        iv = lit("fedcba9876543210".getBytes(StandardCharsets.UTF_8)))
      .select($"doc_id",
        Encryption.decrypt($"ciphertext", $"encryption_type", $"meta",
          ivSchemaId, Map(1 -> key)).cast("string").as("decrypted"),
        $"text")
      // null-safe: a null text encrypts and decrypts to null, a round
      // trip (the oracle reports true)
      .select($"doc_id", $"decrypted", ($"decrypted" <=> $"text").as("matches"))
      .orderBy($"doc_id")
  }

  /** Dead-letter split classification, oracle-gated (SURVEY §2.2 P5;
    * reference decode-failure classes: message.py:812-856 envelope
    * unpack failures, envelope.py:103-121 payload decode failures).
    *
    * Corruption is PLANTED deterministically by event_id % 10 —
    * 0: corrupt transport bytes (0xFF×3 — envelope unpack fails),
    * 1: corrupt payload bytes (a lone 0xFF — an Avro varint with its
    * continuation bit set and no continuation, so the decode always
    * hits EOF), 2: unknown schema_id (valid envelope + payload, id
    * 9999 absent from the registry), everything else clean — then
    * [[Pipeline.consumeWithDeadLetters]] must route
    * each class to the dead frame as a NULL-payload row with its raw
    * envelope retained (n_raw = n; the good frame drops raw_envelope,
    * so its n_raw is 0) while every clean row decodes (the ok bucket's
    * event_id sum equals the source's). The classification the query
    * reports is exactly the reference's: no schema_id ⇒ the transport
    * bytes never unpacked; a schema_id the registry doesn't know ⇒
    * unknown-schema; a known schema_id with a null decode ⇒ corrupt
    * payload. DuckDB replays the planting rule directly. */
  def qDeadLetterSplit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (reg, v1, v2) = registryForEvents
    val cls = pmod($"event_id", lit(10))
    val env = eventEnvelope(
      schemaId = when(cls === 2, lit(9999)).otherwise(lit(v1)),
      payload = when(cls === 1, lit(Array(0xFF.toByte)))
        .otherwise(eventPayload(spark)))
    // fanOut HERE (not in the shared validEvents): this is the one
    // envelope query whose timed action cannot prune the serde — both
    // split halves Avro-decode every row — so the one-split fixture scan
    // otherwise serializes the whole chain on one core (guide §2.5).
    // The identity queries' count()-style actions never run the serde,
    // so for them the spread would be a pure extra exchange (measured
    // +40-70% on env_roundtrip); identity at corpus scale either way.
    // All aggregates below are integer-exact, so the partitioning
    // change cannot move a result bit.
    val transport = Tables.fanOut(validEvents(spark, dir)).select(
      when(cls === 0, lit(Array.fill(3)(0xFF.toByte)))
        .otherwise(env).as("value"))
    val (good, dead) = Pipeline.consumeWithDeadLetters(transport, reg, v1)
    val okRow = good
      .agg(count(lit(1)).as("n"), sum($"payload.event_id").as("event_id_sum"))
      .select(lit("ok").as("bucket"), $"n", lit(0L).as("n_raw"),
        $"event_id_sum")
    val deadRows = dead
      .select(
        when($"schema_id".isNull, "dead_transport")
          .when(!$"schema_id".isin(v1, v2), "dead_unknown_schema")
          .otherwise("dead_payload").as("bucket"),
        $"raw_envelope")
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"),
        sum(when($"raw_envelope".isNotNull, 1L).otherwise(0L)).as("n_raw"))
      .select($"bucket", $"n", $"n_raw",
        lit(null).cast("long").as("event_id_sum"))
    okRow.unionByName(deadRows).orderBy($"bucket")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "env_roundtrip" -> (qEnvelopeRoundtrip _),
    "env_evolution" -> (qEnvelopeEvolution _),
    "env_encrypt_roundtrip" -> (qEncryptRoundtrip _),
    "env_dead_letter" -> (qDeadLetterSplit _)
  )

  val oracles: Map[String, String] = Map(
    "env_roundtrip" ->
      s"""SELECT event_id, user_id, event_type, value FROM events
         WHERE $producibleSql ORDER BY event_id""",
    "env_evolution" ->
      s"""SELECT event_id, user_id, event_type, value,
                'unknown' AS channel
         FROM events
         WHERE $producibleSql ORDER BY event_id""",
    "env_encrypt_roundtrip" ->
      """SELECT doc_id, text AS decrypted, true AS matches
         FROM documents ORDER BY doc_id""",
    // replay the deterministic planting rule: class = pmod(event_id, 10)
    // (0 transport, 1 payload, 2 unknown schema, else ok); dead buckets
    // retain every raw envelope (n_raw = n), the ok bucket none. The
    // pmod replication (((x % 10) + 10) % 10) keeps a negative event_id
    // in 0..9 like Spark's pmod, and the HAVING mirrors Spark's groupBy
    // omitting empty dead buckets (the ok row is a global aggregate —
    // one row on both sides even over an empty class).
    "env_dead_letter" ->
      s"""WITH cls AS (SELECT event_id,
                             ((event_id % 10) + 10) % 10 AS c FROM events
                      WHERE $producibleSql)
         SELECT 'ok' AS bucket, COUNT(*) AS n, CAST(0 AS BIGINT) AS n_raw,
                CAST(SUM(event_id) AS BIGINT) AS event_id_sum
         FROM cls WHERE c > 2
         UNION ALL
         SELECT 'dead_payload', COUNT(*), CAST(COUNT(*) AS BIGINT),
                CAST(NULL AS BIGINT) FROM cls WHERE c = 1 HAVING COUNT(*) > 0
         UNION ALL
         SELECT 'dead_transport', COUNT(*), CAST(COUNT(*) AS BIGINT),
                CAST(NULL AS BIGINT) FROM cls WHERE c = 0 HAVING COUNT(*) > 0
         UNION ALL
         SELECT 'dead_unknown_schema', COUNT(*), CAST(COUNT(*) AS BIGINT),
                CAST(NULL AS BIGINT) FROM cls WHERE c = 2 HAVING COUNT(*) > 0
         ORDER BY bucket"""
  )
}
