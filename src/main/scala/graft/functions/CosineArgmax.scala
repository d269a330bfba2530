package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Max-cosine centroid argmax as a native Catalyst expression — the fast
  * path for [[graft.operators.Similarity.assignClusters]]' per-vector
  * cluster label.
  *
  * The column-expression formulation (`transform` scoring every centroid
  * + an `aggregate` fold keeping the best — see
  * `Similarity.assignScoreHof`) pays interpreted higher-order-function
  * dispatch and a boxed (ccos, cluster) struct allocation per centroid
  * per row; this expression is one tight primitive loop — k·dim fused
  * multiply-adds, one BigDecimal rounding per centroid, no allocation —
  * over centroid arrays carried in the expression itself (k·dim doubles,
  * the same plan-literal footprint).
  *
  * Bit-identical semantics to the HOF form, spec-pinned: the dot product
  * and ‖v‖ accumulate left to right in index order, cosine =
  * dot / (‖v‖·‖c‖) rounded to 6 dp exactly as Spark's `round` does for
  * doubles (`BigDecimal.valueOf(x).setScale(6, HALF_UP)`, NaN/±Inf pass
  * through), and the winner is the FIRST strict maximum over centroids
  * in ascending-cluster order — ties go to the lower cluster id, NaN
  * never wins (matching the fold's `p.ccos > acc.ccos` over a −2.0
  * init). Two documented divergences OUTSIDE the operator's contract,
  * both downgrading a garbage row to the filterable no-match label −1
  * instead of failing or mislabeling: a zero-norm vector makes the SQL
  * form raise ANSI DIVIDE_BY_ZERO, and a vector whose length differs
  * from the centroid dim makes the HOF form's `zip_with` null-pad (null
  * propagates through the fold, every centroid scores null, the −1 init
  * wins) — this expression returns −1 up front for both rather than
  * truncating the dot to the shorter length and emitting a real label.
  */
case class CosineArgmax(child: Expression,
                        clusterIds: Array[Int],
                        cents: Array[Array[Double]])
  extends UnaryExpression {

  require(cents.nonEmpty && clusterIds.length == cents.length,
    "one cluster id per centroid, at least one centroid")
  require(cents.forall(_.length == cents(0).length),
    "all centroids must share one dimensionality")

  override def dataType: DataType = IntegerType
  override def prettyName: String = "cosine_argmax"
  override protected def stringArgs: Iterator[Any] = kernelStringArgs(super.stringArgs)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cosine_argmax expects array<double>, got $other")
    }

  // ‖c‖ per centroid, folded left to right with the same acc + x·x
  // sequence the SQL aggregate uses — sqrt of the identical double
  private val norms: Array[Double] = cents.map { c =>
    var a = 0.0
    var i = 0
    while (i < c.length) { a += c(i) * c(i); i += 1 }
    math.sqrt(a)
  }

  override def nullSafeEval(input: Any): Any =
    java.lang.Integer.valueOf(compute(input.asInstanceOf[ArrayData]))

  // Whole-stage codegen: the centroid arrays live on this expression
  // object, so the generated code carries one object reference and calls
  // the same primitive loop the interpreted path runs — one virtual call
  // per row amortized over the k·dim multiply-adds inside (vs
  // CodegenFallback's per-row InternalRow materialization + boxed
  // expression-tree eval).
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cosineArgmax", this,
      classOf[CosineArgmax].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.compute($v);")
  }

  // resolved lazily: the child's type is only bound after analysis
  private lazy val mayContainNull: Boolean = child.dataType match {
    case org.apache.spark.sql.types.ArrayType(_, containsNull) => containsNull
    case _ => true
  }

  /** The fused argmax loop shared by the interpreted and generated paths. */
  def compute(v: ArrayData): Int = {
    val n = v.numElements()
    if (n != cents(0).length) return -1 // HOF zip_with null path (see doc)
    if (mayContainNull) {
      // a null ELEMENT reads as 0.0 through getDouble — the HOF parity
      // (zip_with null product -> null fold -> -1) demands the no-match
      // label, not a silently wrong cluster from a phantom zero (the
      // same hazard MatVec fixed; ported here)
      var i = 0
      while (i < n) { if (v.isNullAt(i)) return -1; i += 1 }
    }
    var sv = 0.0
    var i = 0
    while (i < n) { val x = v.getDouble(i); sv += x * x; i += 1 }
    val nv = math.sqrt(sv)
    var best = -2.0
    var bestC = -1
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      var dot = 0.0
      var j = 0
      while (j < n) { dot += v.getDouble(j) * cent(j); j += 1 }
      val cos = dot / (nv * norms(c))
      val r =
        if (java.lang.Double.isNaN(cos) || java.lang.Double.isInfinite(cos)) cos
        else java.math.BigDecimal.valueOf(cos)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      if (r > best) { best = r; bestC = clusterIds(c) }
      c += 1
    }
    bestC
  }

  override protected def withNewChildInternal(newChild: Expression): CosineArgmax =
    copy(child = newChild)
}

object CosineArgmax {
  /** `cosine_argmax(v, ids, cents)`: the cluster id whose centroid has
    * the highest 6-dp-rounded cosine with `v` (ties to the lower id;
    * pass centroids in ascending cluster-id order). */
  def cosine_argmax(v: Column, clusterIds: Array[Int],
                    cents: Array[Array[Double]]): Column =
    GraftBridge.column(CosineArgmax(GraftBridge.expression(v), clusterIds, cents))
}
