package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Dense matrix × vector product as a native Catalyst expression — the
  * fast path for any fixed linear map over an embedding column
  * ([[graft.operators.Similarity.jlProject]]'s random projection; equally
  * a PCA loading or a learned rotation).
  *
  * The HOF formulation (`transform` over matrix rows + an
  * `aggregate(zip_with(...))` fold per row — see
  * `Similarity.jlProjectHof`) pays interpreted lambda dispatch and boxed
  * array allocation per output element per row; this expression is one
  * tight primitive loop — outDim·inDim fused multiply-adds, a single
  * output array allocation — over matrix rows carried on the expression
  * itself (the same plan-literal footprint as the HOF's matrix literal).
  *
  * Bit-identical semantics to the HOF form, spec-pinned: each output
  * element accumulates `Σ mat(j)(i)·v(i)` left to right in index order,
  * exactly the `aggregate` fold sequence. A null input array yields null
  * (nullSafeEval); a vector whose length differs from the matrix width
  * also yields null, matching the HOF form where `zip_with` null-pads
  * and the fold propagates null into every output element — a whole-row
  * null beats an array of nulls for filterability and carries the same
  * signal. A vector CONTAINING a null element likewise yields a whole
  * null (the HOF fold nulls every output element through `acc + null`);
  * reading the slot as 0.0 instead would silently produce a projection
  * the fold forms disagree with. The per-element null check only runs
  * when the input schema admits null elements, so the common
  * containsNull = false path stays branch-free.
  */
case class MatVec(child: Expression, mat: Array[Array[Double]],
                  roundTo: Int = MatVec.NoRounding)
  extends UnaryExpression {

  require(mat.nonEmpty && mat.forall(_.length == mat(0).length),
    "matrix must be rectangular and non-empty")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "mat_vec"
  override protected def stringArgs: Iterator[Any] = kernelStringArgs(super.stringArgs)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"mat_vec expects array<double>, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  // Reference-object codegen (the CosineArgmax pattern): the generated
  // code carries one object reference and calls the same primitive loop
  // the interpreted path runs; child subtrees stay in whole-stage codegen.
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("matVec", this, classOf[MatVec].getName)
    nullSafeCodeGen(ctx, ev, v =>
      s"""
         |${ev.value} = $ref.compute($v);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  /** The fused product loop shared by the interpreted and generated
    * paths; null on width mismatch (see class doc). Rounding happens
    * here rather than through an outer `transform(_, round)` because
    * higher-order functions are CodegenFallback — wrapping the result
    * would drop the whole projection out of whole-stage codegen. The
    * rounding is exactly Spark's `round` for doubles
    * (`BigDecimal.valueOf(x).setScale(d, HALF_UP)`, NaN/±Inf pass
    * through), the same contract CosineArgmax pins. */
  // resolved lazily: the child's type is only bound after analysis
  private lazy val mayContainNull: Boolean = child.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => true
  }

  def compute(v: ArrayData): ArrayData = {
    val n = v.numElements()
    if (n != mat(0).length) return null
    if (mayContainNull) {
      var i = 0
      while (i < n) { if (v.isNullAt(i)) return null; i += 1 }
    }
    val out = new Array[Double](mat.length)
    var j = 0
    while (j < mat.length) {
      val row = mat(j)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += row(i) * v.getDouble(i); i += 1 }
      out(j) =
        if (roundTo == MatVec.NoRounding ||
            java.lang.Double.isNaN(acc) || java.lang.Double.isInfinite(acc)) acc
        else java.math.BigDecimal.valueOf(acc)
          .setScale(roundTo, java.math.RoundingMode.HALF_UP).doubleValue()
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): MatVec =
    copy(child = newChild)
}

object MatVec {
  /** Sentinel: emit raw (unrounded) products. */
  val NoRounding: Int = Int.MinValue

  /** `mat_vec(v)`: the dense product `mat · v` as `array<double>`,
    * each element rounded to `roundTo` dp (pass [[NoRounding]] for raw);
    * null for a null or width-mismatched input. */
  def mat_vec(v: Column, mat: Array[Array[Double]],
              roundTo: Int = NoRounding): Column =
    GraftBridge.column(MatVec(GraftBridge.expression(v), mat, roundTo))
}
