package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Raw (unrounded) cosine similarity between two array<double> columns as
  * a native Catalyst expression — the pairwise hot path under the
  * similarity/dedup operators (`bruteForceTopK`, `ivfTopK` scoring and
  * routing, `cosineNearDups` verification, `semanticDedup`'s
  * within-cluster pairs).
  *
  * The column-expression form — `aggregate(zip_with(v, p, (x,y) → x·y),
  * …) / (sqrt(aggregate(v…)) · sqrt(aggregate(p…)))` — pays interpreted
  * higher-order-function dispatch and boxing for every element of every
  * candidate pair; this expression is one fused primitive loop (dot and
  * both norms accumulate in index order, each with the same left-to-right
  * `acc + x·y` / `acc + x·x` sequence as its SQL fold), so the quotient
  * is the bit-identical double. Rounding stays OUTSIDE, in the one
  * rounded rule [[graft.operators.Vectors.cosine]].
  *
  * Null parity with the HOF form: any null element, a null array, or
  * length-mismatched inputs (zip_with pads the shorter side with null)
  * make the SQL form null — this expression returns null in the same
  * cases. One documented divergence OUTSIDE the contract: zero-norm
  * inputs make the SQL form raise ANSI DIVIDE_BY_ZERO, while this
  * returns NaN (a filterable non-value instead of a failed stage; NaN
  * never passes a `>= threshold` filter and never beats a real cosine
  * under the salted top-k's strict ordering... it sorts ABOVE real
  * values in a descending SQL sort, so pre-filter zero vectors when
  * ranking untrusted input).
  */
case class CosineSim(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cosine_sim expects (array<double>, array<double>), got $other")
    }

  override def nullSafeEval(l: Any, r: Any): Any =
    CosineSim.compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  // Whole-stage codegen: one static call into the same fused loop the
  // interpreted path runs (no expression-tree re-dispatch, no boxing of
  // the inputs, no InternalRow materialization as CodegenFallback would
  // do); the boxed Double only exists to carry the null-result cases.
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val res = ctx.freshName("cosRes")
      s"""
         |java.lang.Double $res = graft.functions.CosineSim.compute($a, $b);
         |if ($res == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $res.doubleValue();
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  /** `cosine_sim(a, b)`: dot(a, b) / (‖a‖·‖b‖), unrounded. */
  def cosine_sim(a: Column, b: Column): Column =
    GraftBridge.column(CosineSim(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** The fused dot/norm loop shared by the interpreted and generated
    * paths — null on length mismatch or any null element (zip_with
    * parity), NaN on zero norms. */
  def compute(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0
    var sa = 0.0
    var sb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y
      sa += x * x
      sb += y * y
      i += 1
    }
    java.lang.Double.valueOf(dot / (math.sqrt(sa) * math.sqrt(sb)))
  }
}
