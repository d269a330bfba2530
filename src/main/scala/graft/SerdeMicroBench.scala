package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String

import graft.core.Envelope
import graft.functions.AvroCodec
import graft.schema.AvroConversions

/** Single-threaded microbenchmark of the envelope codec, no Spark job
  * machinery: the per-core ceiling [[Bench]] holds to the BASELINE.md
  * ≥90k rows/s/core gate. */
object SerdeMicroBench {

  /** Full chain (encode → pack → unpack → decode) drawing a fresh uuid4
    * per message — the reference's "message instantiation with FastUUID"
    * tier (~185k/s, message.py:193-198). One untimed pass warms the JIT,
    * then one timed pass of `n` rows; returns rows/s. */
  def chainWithUuidRowsPerSecCore(n: Int): Double = {
    val payloadJson = queries.EnvelopeOps.eventSchemaJson
    val payloadSchema = AvroCodec.parse(payloadJson)
    val payloadType = AvroConversions.toStructType(payloadSchema)
    val envelopeSchema = AvroCodec.parse(Envelope.avroSchemaJson)
    val gen = org.apache.spark.sql.catalyst.util.RandomUUIDGenerator(42L)
    def once(): Unit = {
      var i = 0
      while (i < n) {
        val uuid = graft.functions.Uuid4Binary.toBytes(gen.getNextUUID())
        val payload = AvroCodec.encode(
          AvroConversions.toAvro(
            new GenericInternalRow(Array[Any](
              i.toLong, (i % 150).toLong, UTF8String.fromString("click"), i * 0.5)),
            payloadType, payloadSchema)
            .asInstanceOf[org.apache.avro.generic.GenericRecord], payloadJson)
        val framed = AvroCodec.frameBinary(AvroCodec.encode(
          AvroConversions.toAvro(
            new GenericInternalRow(Array[Any](
              uuid, UTF8String.fromString("create"), 1, payload, null, null, null,
              1700000000)),
            Envelope.sparkType, envelopeSchema)
            .asInstanceOf[org.apache.avro.generic.GenericRecord],
          Envelope.avroSchemaJson))
        val env = AvroConversions.toCatalyst(
          AvroCodec.decode(AvroCodec.unframe(framed), Envelope.avroSchemaJson,
            Envelope.avroSchemaJson), envelopeSchema).asInstanceOf[InternalRow]
        AvroConversions.toCatalyst(
          AvroCodec.decode(env.getBinary(3), payloadJson, payloadJson), payloadSchema)
        i += 1
      }
    }
    once() // warm-up: JIT
    val t0 = System.nanoTime()
    once()
    n / ((System.nanoTime() - t0) / 1e9)
  }
}
