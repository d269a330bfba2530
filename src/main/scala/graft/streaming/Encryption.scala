package graft.streaming

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.core.Envelope
import graft.schema.SchemaRegistry

/** AES-CBC payload encryption with the IV carried as a meta attribute
  * (reference: _encryption_helper.py:108-198, initialization_vector.py,
  * message.py:465-468, 489-550).
  *
  * Spark's builtin `aes_encrypt(…, 'CBC', 'PKCS', iv)` (codegen'd) does the
  * crypto; the engine contributes the reference's key/IV/wire management:
  *
  *  - IVs are drawn **randomly per message** (CBC is only semantically
  *    secure with unpredictable IVs; a content- or uuid-derived IV leaks
  *    plaintext-prefix equality across re-encryptions);
  *  - the wire layout matches the reference: the payload carries **raw CBC
  *    blocks only** and the IV travels exclusively in the
  *    `initialization_vector` meta attribute — not Spark's default
  *    IV-prefixed ciphertext — so payloads interoperate both directions
  *    with reference-produced envelopes;
  *  - `encryption_type = "AES_MODE_CBC-<key_id>"` names the key for
  *    rotation; decrypt resolves the key from encryption_type and the IV
  *    from meta.
  *
  * Key material arrives as a driver-provided map (the `key-N.key` file
  * analog); it is closure-captured, never logged, never a column.
  */
object Encryption {

  val EncryptionTypePrefix = "AES_MODE_CBC-"

  /** A consumer's key material: AES keys by key id, and the schema id of
    * the IV meta attribute ([[registerIvSchema]]). `toString` names the
    * key ids only, so a logged argument never prints a key. */
  final case class Keys(byId: Map[Int, String], ivSchemaId: Int) {
    override def toString: String =
      s"Keys(ids=${byId.keys.toSeq.sorted.mkString(",")}, ivSchemaId=$ivSchemaId)"
  }

  /** Register the IV meta-attribute schema (fixed 16). */
  def registerIvSchema(registry: SchemaRegistry): registry.SchemaEntry =
    registry.registerSchema("graft.crypto", "initialization_vector",
      Envelope.initializationVectorSchemaJson)

  /** Fresh unpredictable 16-byte IV per row from a per-partition CSPRNG
    * ([[graft.functions.SecureRandomBinary]]; reference parity:
    * initialization_vector.py:29 uses os.urandom). Not [[graft.functions.Uuid4Binary]]:
    * that rides XORShift, whose state is recoverable from a few published
    * IVs — an observer could then predict future IVs, breaking CBC's
    * unpredictable-IV requirement. A CSPRNG also never replays across
    * streaming micro-batches (self-seeded per partition initialization). */
  def randomIv(): Column = graft.functions.secure_random_binary(16)

  /** Encrypt `payloadCol` in place, adding `meta` (IV attribute) and
    * `encryption_type` columns. The ciphertext is raw CBC blocks — Spark's
    * IV prefix is stripped; the IV rides only in the meta attribute, as on
    * the reference wire.
    *
    * DataFrame-level on purpose: the random IV must be **materialized in
    * its own projection** before use. `uuid()` is nondeterministic, so a
    * single expression tree referencing it twice (once inside aes_encrypt,
    * once in the meta attribute) would draw two different IVs and produce
    * undecryptable output; separate projection steps over a nondeterministic
    * column are not collapsed by Catalyst, so here it evaluates exactly
    * once per row. Pass an explicit `iv` only for replayable tests. */
  def encryptDF(df: org.apache.spark.sql.DataFrame, payloadCol: String,
                key: String, keyId: Int, ivSchemaId: Int,
                iv: Column = randomIv()): org.apache.spark.sql.DataFrame = {
    requireValidKey(key, keyId)
    val prefixed = call_function("aes_encrypt",
      col(payloadCol), keyCol(key, keyId), lit("CBC"), lit("PKCS"), col("__iv"))
    df.withColumn("__iv", iv)
      .withColumn("__ct", prefixed)
      .withColumn(payloadCol, col("__ct").substr(lit(17), length(col("__ct")) - 16))
      .withColumn("meta", array(struct(
        lit(ivSchemaId).as("schema_id"), col("__iv").as("payload"))))
      .withColumn("encryption_type", lit(EncryptionTypePrefix + keyId))
      .drop("__iv", "__ct")
  }

  /** Key material as a plan-opaque column: `lit(key)` would render the
    * key verbatim in `explain()`, the Spark UI SQL tab, and event logs —
    * [[graft.functions.SecretBytes]] carries it as an object reference
    * and prints only the key id. */
  private def keyCol(key: String, keyId: Int): Column =
    graft.functions.SecretBytes.secret(key, s"aes-key-$keyId")

  /** Driver-side key sanity, checked EAGERLY at plan build: an invalid
    * key length is permanent misconfiguration — letting try_aes_decrypt
    * null it per row would silently drain the entire stream into the
    * dead-letter path, indistinguishable from universal corruption. The
    * try_ degradation is reserved for genuinely per-row failures. */
  private def requireValidKey(key: String, keyId: Int): Unit = {
    val n = key.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
    require(n == 16 || n == 24 || n == 32,
      s"AES key $keyId has $n bytes; must be 16, 24 or 32")
  }

  /** Decrypt an encrypted envelope payload: IV from the meta attribute,
    * key chosen by the key id parsed from encryption_type. EVERY failure
    * mode degrades to null — dead-letter, not task failure: an unknown
    * or foreign encryption_type (the key-id parse is guarded, so a
    * non-matching scheme never hits an ANSI cast error), a meta array
    * without an IV attribute (`try_element_at`, not ANSI `element_at`),
    * and wrong key material or corrupt/truncated ciphertext
    * (`try_aes_decrypt` — plain `aes_decrypt` throws on the ~255/256
    * padding-check failures a rotated key produces). CBC is
    * unauthenticated, so the residual ~1/256 wrong-key decrypts that
    * pass padding yield garbage that the downstream Avro decode's own
    * dead-letter path rejects. */
  def decrypt(ciphertext: Column, encryptionType: Column, meta: Column,
              ivSchemaId: Int, keys: Map[Int, String]): Column = {
    keys.foreach { case (id, k) => requireValidKey(k, id) }
    val iv = ivFromMeta(meta, ivSchemaId)
    // the id group is bounded to 9 digits: always in int range, so the
    // guarded cast can never hit an ANSI overflow — a longer (foreign /
    // poisoned) id simply fails the key match and degrades to null
    val keyIdStr = regexp_extract(encryptionType,
      EncryptionTypePrefix.replace("-", "\\-") + "(\\d{1,9})$", 1)
    // regexp_extract's no-match result is '' — cast only inside the
    // matched branch
    val keyId = when(keyIdStr =!= "", keyIdStr.cast("int"))
    keys.foldLeft(lit(null).cast("binary")) { case (acc, (id, key)) =>
      when(keyId === id && iv.isNotNull,
        call_function("try_aes_decrypt",
          concat(iv, ciphertext), keyCol(key, id), lit("CBC"), lit("PKCS")))
        .otherwise(acc)
    }
  }

  /** IV recorded in the meta attributes for the given schema id; null —
    * never an ANSI array-index error — when meta carries no IV. */
  def ivFromMeta(meta: Column, ivSchemaId: Int): Column =
    try_element_at(
      filter(meta, m => m.getField("schema_id") === ivSchemaId), lit(1))
      .getField("payload")
}
