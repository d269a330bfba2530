package graft.functions

import java.io.ByteArrayInputStream

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

/** Bloom-filter membership test as a native Catalyst expression — the
  * pre-shuffle pruning predicate for
  * [[graft.operators.JoinPrune.bloomSemiJoin]].
  *
  * The filter is built once on the driver from the (small) build side
  * (`DataFrameStatFunctions.bloomFilter` — a mergeable sketch
  * aggregation, bounded memory per task) and carried here as its
  * serialized byte image: each task deserializes once (lazy, per-JVM
  * `@transient`) and then answers membership with two xxhash-derived
  * probes per row — no join, no shuffle, no per-row allocation. A `true`
  * answer may be a false positive (rate `fpp` chosen at build time); a
  * `false` answer is exact, which is what makes the expression safe as a
  * strictly-filtering pre-pass in front of an exact join.
  *
  * At 100 TB this is the classic semi-join pruning lever: the sketch (a
  * few MB for hundreds of millions of keys at 1% fpp) ships with the
  * task binary, the probe runs inside whole-stage codegen directly over
  * the scan, and only the ~matching fraction of the fact table ever
  * reaches the exchange.
  */
case class BloomMightContainLong(child: Expression, bloomBytes: Array[Byte])
  extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"
  override protected def stringArgs: Iterator[Any] = kernelStringArgs(super.stringArgs)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType | IntegerType | ShortType | ByteType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bloom_might_contain expects an integral key, got $other")
  }

  // One deserialization per executor JVM, shared across rows and tasks
  // that reference the same expression instance.
  @transient private lazy val bf: BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(bloomBytes))

  /** Shared by the interpreted and generated paths. */
  def mightContain(v: Long): Boolean = bf.mightContainLong(v)

  override def nullSafeEval(input: Any): Any = {
    val v = child.dataType match {
      case LongType    => input.asInstanceOf[Long]
      case IntegerType => input.asInstanceOf[Int].toLong
      case ShortType   => input.asInstanceOf[Short].toLong
      case ByteType    => input.asInstanceOf[Byte].toLong
    }
    java.lang.Boolean.valueOf(mightContain(v))
  }

  // Same reference-object pattern as CosineArgmax.doGenCode: the
  // generated code carries one object reference and calls the primitive
  // probe — the filter stays inside whole-stage codegen over the scan.
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomMightContain", this,
      classOf[BloomMightContainLong].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.mightContain((long) $v);")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContainLong =
    copy(child = newChild)
}

object BloomMightContainLong {
  /** `bloom_might_contain(key)` over a pre-built sketch: false ⇒ key is
    * definitely absent from the build side; true ⇒ present or a false
    * positive at the sketch's fpp. */
  def bloom_might_contain(key: Column, bf: BloomFilter): Column = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    GraftBridge.column(
      BloomMightContainLong(GraftBridge.expression(key), bos.toByteArray))
  }
}
