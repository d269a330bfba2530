package graft

import org.apache.spark.sql.{Column, GraftBridge}

import graft.schema.SchemaRegistry

/** Column-level API over the engine's custom Catalyst expressions. */
package object functions {

  private def col(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    GraftBridge.column(e)
  private def expr(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    GraftBridge.expression(c)

  /** Plan-string arguments of a kernel that carries arrays: each array
    * prints as its shape plus a content hash (`double[8][4](hash=1f2e3d4c)`)
    * instead of a JVM identity hash, so a plan prints the same in every
    * run and two kernels over equal arrays print alike. Printing only —
    * `equals` and `hashCode` stay the case class's. */
  private[functions] def kernelStringArgs(args: Iterator[Any]): Iterator[Any] =
    args.map {
      case a: Array[_] =>
        val depth = a.getClass.getName.takeWhile(_ == '[').length
        val dims = Iterator.iterate(Seq[Any](a))(_.flatMap(_.asInstanceOf[Array[_]]))
          .take(depth)
          .map(_.map(_.asInstanceOf[Array[_]].length).distinct match {
            case Seq(n) => s"[$n]"
            case _ => "[*]"
          })
        val elem = a.getClass.getSimpleName.takeWhile(_ != '[')
        val hash = java.util.Arrays.deepHashCode(Array[AnyRef](a))
        f"$elem${dims.mkString}(hash=$hash%08x)"
      case other => other
    }

  /** Envelope struct → framed binary-transport bytes (magic 0x00). */
  def pack_envelope(envelope: Column): Column =
    col(PackEnvelope(expr(envelope), ascii = false))

  /** Envelope struct → ASCII/Scribe transport ('a' + urlsafe base64). */
  def pack_envelope_ascii(envelope: Column): Column =
    col(PackEnvelope(expr(envelope), ascii = true))

  /** Framed bytes (either transport) → envelope struct. */
  def unpack_envelope(bytes: Column): Column =
    col(UnpackEnvelope(expr(bytes)))

  /** Payload struct → Avro bytes under the given writer schema. */
  def encode_payload(payload: Column, schemaJson: String): Column =
    col(EncodePayload(expr(payload), schemaJson))

  /** (payload bytes, writer schema_id) → struct decoded under the reader
    * schema, resolving writer schemas from the registry snapshot. */
  def decode_payload(payload: Column, schemaId: Column,
                     registry: SchemaRegistry, readerSchemaId: Int): Column =
    col(DecodePayload(expr(payload), expr(schemaId), registry.snapshot, readerSchemaId))

  /** Variant taking an explicit snapshot (e.g. rehydrated on executors). */
  def decode_payload(payload: Column, schemaId: Column,
                     snapshot: Map[Int, String], readerSchemaId: Int): Column =
    col(DecodePayload(expr(payload), expr(schemaId), snapshot, readerSchemaId))

  /** Fresh 16-byte uuid4 per row (codegen'd; see [[Uuid4Binary]]) —
    * per-task entropy, so streaming micro-batches never replay a stream. */
  def uuid4_binary(): Column =
    col(Uuid4Binary(new java.security.SecureRandom().nextLong(), perTaskEntropy = true))

  /** Seeded variant, fully deterministic per (seed, partition, row) —
    * for replayable tests and benchmarks. */
  def uuid4_binary(seed: Long): Column =
    col(Uuid4Binary(seed, perTaskEntropy = false))

  /** `numBytes` of CSPRNG output per row (see [[SecureRandomBinary]]) —
    * the unpredictable-IV source for CBC encryption. */
  def secure_random_binary(numBytes: Int): Column =
    col(SecureRandomBinary(numBytes, new java.security.SecureRandom().nextLong()))
}
