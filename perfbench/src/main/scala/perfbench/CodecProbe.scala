package perfbench

import org.apache.avro.generic.GenericRecord
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String

import graft.core.Envelope
import graft.functions.AvroCodec
import graft.schema.AvroConversions

/** Single-thread codec rates on the CDC workloads' own schema, outside
  * Spark: the per-core baseline for the publish (encode + pack) and the
  * drain (unpack + decode) sides. The chain rate — one message through
  * both sides — is held against the 90k rows/s/core gate. */
object CodecProbe {
  val GateRowsPerS = 90000.0
  private val N = 200000

  def metrics(seed: Long): Map[String, Any] = {
    val payloadJson = CdcPath.SchemaJson
    val payloadSchema = AvroCodec.parse(payloadJson)
    val payloadType = AvroConversions.toStructType(payloadSchema)
    val envSchema = AvroCodec.parse(Envelope.avroSchemaJson)
    val uuid = Array.fill[Byte](16)(7)
    val gen = new ChangeGen(seed, 20000)
    val rows = Array.fill(N)(gen.next(1700000000L))

    def encode(c: Change): Array[Byte] = {
      val payload = AvroCodec.encode(AvroConversions.toAvro(
        new GenericInternalRow(Array[Any](c.id, c.seq, UTF8String.fromString(c.name), c.amount)),
        payloadType, payloadSchema).asInstanceOf[GenericRecord], payloadSchema)
      AvroCodec.frameBinary(AvroCodec.encode(AvroConversions.toAvro(
        new GenericInternalRow(Array[Any](uuid, UTF8String.fromString("update"), 1, payload,
          null, null, null, 1700000000)),
        Envelope.sparkType, envSchema).asInstanceOf[GenericRecord], envSchema))
    }
    def decode(framed: Array[Byte]): Any = {
      val env = AvroConversions.toCatalyst(AvroCodec.decode(AvroCodec.unframe(framed),
        envSchema, envSchema), envSchema).asInstanceOf[InternalRow]
      AvroConversions.toCatalyst(AvroCodec.decode(env.getBinary(3), payloadSchema,
        payloadSchema), payloadSchema)
    }
    def rate(body: => Unit): Double = {
      body // JIT warm-up
      val t0 = System.nanoTime()
      body
      N / ((System.nanoTime() - t0) / 1e9)
    }
    var framed: Array[Array[Byte]] = null
    val enc = rate { framed = rows.map(encode) }
    var sink = 0
    val dec = rate { framed.foreach(f => if (decode(f) != null) sink += 1) }
    val chain = 1.0 / (1.0 / enc + 1.0 / dec)
    Map("codec.encode_rows_per_s_core" -> enc, "codec.decode_rows_per_s_core" -> dec,
      "codec.gate_ratio" -> chain / GateRowsPerS)
  }
}
