package graft

import org.apache.spark.sql.functions._

import graft.schema.SchemaRegistry
import graft.streaming.Encryption

/** AES-CBC payload encryption with IV meta attributes
  * (reference: _encryption_helper.py semantics). */
class EncryptionSpec extends SparkTestBase {

  private val key = "0123456789abcdef" // 16-byte AES-128 key file analog

  test("encrypt/decrypt round-trips; IV rides as a meta attribute; wire is raw CBC blocks") {
    import spark.implicits._
    val reg = new SchemaRegistry
    val ivEntry = Encryption.registerIvSchema(reg)

    val df = Seq((1L, "private-row-data"), (2L, "more-secrets"))
      .toDF("id", "data")
      .withColumn("payload", $"data".cast("binary"))

    val enc = Encryption.encryptDF(df, "payload", key,
      keyId = 1, ivSchemaId = ivEntry.schemaId)

    val c0 = enc.orderBy($"id").head()
    // ciphertext is not the plaintext
    assert(!new String(c0.getAs[Array[Byte]]("payload"), "UTF-8").contains("private"))
    assert(c0.getAs[String]("encryption_type") == "AES_MODE_CBC-1")
    // reference wire layout: raw CBC blocks only — a 16-byte plaintext pads
    // to exactly 2 blocks (32 bytes), no IV prefix
    assert(c0.getAs[Array[Byte]]("payload").length == 32)

    // IV meta attribute: present, 16 bytes, tagged with the IV schema id
    val iv = Encryption.ivFromMeta($"meta", ivEntry.schemaId)
    assert(enc.select(length(iv)).head().getInt(0) == 16)

    // decrypt with the key from encryption_type and the IV from meta
    val dec = enc.select($"id",
      Encryption.decrypt($"payload", $"encryption_type", $"meta",
        ivEntry.schemaId, Map(1 -> key)).cast("string").as("data"))
      .orderBy($"id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(dec.toSeq == Seq((1L, "private-row-data"), (2L, "more-secrets")))
  }

  test("IVs are random per message: same plaintext twice gives distinct ciphertexts") {
    import spark.implicits._
    val reg = new SchemaRegistry
    val ivEntry = Encryption.registerIvSchema(reg)
    val df = Seq((1L, "same-content"), (2L, "same-content"))
      .toDF("id", "data").withColumn("payload", $"data".cast("binary"))
    val enc = Encryption.encryptDF(df, "payload", key,
      keyId = 1, ivSchemaId = ivEntry.schemaId)
    val rows = enc.select(hex($"payload").as("c"),
      hex(Encryption.ivFromMeta($"meta", ivEntry.schemaId)).as("iv")).collect()
    assert(rows(0).getString(1) != rows(1).getString(1), "IVs must differ")
    assert(rows(0).getString(0) != rows(1).getString(0),
      "equal plaintexts must not produce equal ciphertexts under CBC")
  }

  test("unknown key id decrypts to null (dead-letter), not task failure") {
    import spark.implicits._
    val reg = new SchemaRegistry
    val ivEntry = Encryption.registerIvSchema(reg)
    val df = Seq((1L, "x")).toDF("id", "data")
      .withColumn("payload", $"data".cast("binary"))
    val enc = Encryption.encryptDF(df, "payload", key,
      keyId = 9, ivSchemaId = ivEntry.schemaId)
    val out = enc.select(
      Encryption.decrypt($"payload", $"encryption_type", $"meta",
        ivEntry.schemaId, Map(1 -> key)).as("d"))
      .head()
    assert(out.isNullAt(0))
  }

  test("encrypted envelope end to end: encode -> encrypt -> envelope -> consumeEncrypted round-trips; wrong key dead-letters") {
    import spark.implicits._
    import graft.streaming.Pipeline
    val reg = new SchemaRegistry
    val ivEntry = Encryption.registerIvSchema(reg)
    val entry = reg.registerSchema("crypto", "ev",
      """{"type":"record","name":"ev","namespace":"crypto","fields":[
        |{"name":"event_id","type":"long"},{"name":"body","type":"string"}]}""".stripMargin)
    val rows = Seq((1L, "alpha"), (2L, "beta")).toDF("event_id", "body")
    val enveloped = Encryption.encryptDF(
      rows.withColumn("pb",
        graft.functions.encode_payload(
          org.apache.spark.sql.functions.struct($"event_id", $"body"),
          entry.schemaJson)),
      "pb", key, keyId = 1, ivSchemaId = ivEntry.schemaId)
      .select(Pipeline.envelopeForBytes($"pb", "create", entry.schemaId,
        org.apache.spark.sql.functions.lit(1700000000L),
        meta = Some($"meta"), encryptionType = Some($"encryption_type"))
        .as("value"))
    def keys(k: String) = Some(Encryption.Keys(Map(1 -> k), ivEntry.schemaId))
    // right key: decrypt-then-decode round-trips the payload
    val good = Pipeline.consume(enveloped, reg, entry.schemaId, decryption = keys(key))
      .select($"payload.event_id", $"payload.body", $"encryption_type")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
    assert(good.toSeq == Seq((1L, "alpha", "AES_MODE_CBC-1"),
      (2L, "beta", "AES_MODE_CBC-1")), s"got ${good.toSeq}")
    // rotated/wrong key: try_aes_decrypt -> null -> dead-letter, no crash
    val (ok, dead) = Pipeline.consumeWithDeadLetters(
      enveloped, reg, entry.schemaId)
    assert(ok.count() == 0 && dead.count() == 2,
      "without key material, encrypted payloads must dead-letter")
    val wrong = Pipeline.consume(enveloped, reg, entry.schemaId,
      decryption = keys("1111222233334444"))
    assert(wrong.filter($"payload".isNotNull).count() == 0,
      "a wrong key must dead-letter, never return garbage or crash")
    // the ENCRYPTED dead-letter composition: wrong-key rows land in the
    // dead frame WITH raw bytes, and replay verbatim once the right key
    // is restored
    val (okW, deadW) = Pipeline.consumeWithDeadLetters(
      enveloped, reg, entry.schemaId, decryption = keys("1111222233334444"))
    assert(okW.count() == 0 && deadW.count() == 2)
    val rawLetters = deadW.select($"raw_envelope").as[Array[Byte]].collect()
    val healed = Pipeline.consume(
      rawLetters.toSeq.toDF("value"), reg, entry.schemaId, decryption = keys(key))
      .select($"payload.body").as[String].collect().sorted
    assert(healed.toSeq == Seq("alpha", "beta"),
      "dead letters must replay once the right key is restored")
    // permanent misconfiguration fails FAST at plan build, never a
    // silent full-stream dead-letter drain
    intercept[IllegalArgumentException] {
      Pipeline.consume(enveloped, reg, entry.schemaId, decryption = keys("tooshort"))
        .count()
    }
    // foreign scheme + missing IV degrade to null (ANSI-safe guards)
    val foreign = enveloped.limit(1)
      .withColumn("env", graft.functions.unpack_envelope($"value"))
      .select(
        Encryption.decrypt($"env.payload", org.apache.spark.sql.functions
          .lit("AES_MODE_GCM-2"), $"env.meta", ivEntry.schemaId,
          Map(1 -> key)).as("d1"),
        Encryption.decrypt($"env.payload", $"env.encryption_type",
          $"env.meta", ivEntry.schemaId + 999, // no IV attr under that id
          Map(1 -> key)).as("d2"))
      .head()
    assert(foreign.isNullAt(0) && foreign.isNullAt(1))
  }

  test("key material never appears in the query plan") {
    import spark.implicits._
    val reg = new SchemaRegistry
    val ivEntry = Encryption.registerIvSchema(reg)
    val df = Seq((1L, "x")).toDF("id", "data")
      .withColumn("payload", $"data".cast("binary"))
    val enc = Encryption.encryptDF(df, "payload", key,
      keyId = 1, ivSchemaId = ivEntry.schemaId)
    val dec = enc.select(Encryption.decrypt($"payload", $"encryption_type",
      $"meta", ivEntry.schemaId, Map(1 -> key)).as("d"))
    Seq(enc, dec).foreach { frame =>
      val plans = frame.queryExecution.toString +
        frame.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      assert(!plans.contains(key),
        "AES key leaked into the query plan (explain/UI/event logs)")
      assert(plans.contains("secret_bytes(aes-key-1)"),
        "the key must render as its redacted label")
      // TreeNode JSON serialization walks constructor args directly
      // (bypassing toString/sql): a raw Array[Byte] arg would render as
      // a JSON byte array — the Holder wrapper must fall through to null
      Seq(frame.queryExecution.logical, frame.queryExecution.analyzed)
        .foreach { plan =>
          val json = plan.toJSON
          assert(!json.contains(key),
            "AES key leaked into tree-node JSON (plan-change logging)")
          assert(!json.contains(key.getBytes("UTF-8").mkString(",")),
            "AES key bytes leaked into tree-node JSON as a byte array")
        }
    }
  }

  test("env_encrypt_roundtrip: a null text round-trips, as its oracle reports") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val dir = java.nio.file.Files.createTempDirectory("enc_docs").toString
    spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(1L, "plain text"), Row(2L, null)), 1),
        StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.queries.EnvelopeOps.qEncryptRoundtrip(spark, dir)
      .collect().map(r => r.getLong(0) -> (Option(r.getString(1)), r.get(2))).toMap
    assert(got == Map(1L -> (Some("plain text"), true), 2L -> (None, true)), got)
  }

  test("env_encrypt_roundtrip: the key never prints in its plan") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val dir = java.nio.file.Files.createTempDirectory("enc_plan").toString
    spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(1L, "plain text")), 1),
        StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // the logical plans print a string literal as text, the physical
    // plan folds it to binary and prints its bytes in hex
    val qe = graft.queries.EnvelopeOps.qEncryptRoundtrip(spark, dir).queryExecution
    val plans = qe.toString + qe.explainString(org.apache.spark.sql.execution.FormattedMode)
    val keyHex = key.getBytes("UTF-8").map(b => f"$b%02x").mkString
    assert(!plans.contains(key) && !plans.toLowerCase.contains(keyHex),
      s"the AES key prints in the plan:\n$plans")
  }

  test("Keys names its key ids, never the keys") {
    val shown = Encryption.Keys(Map(2 -> key, 1 -> "fedcba9876543210"), 7).toString
    assert(shown == "Keys(ids=1,2, ivSchemaId=7)", shown)
  }
}
