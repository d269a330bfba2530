package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Min-squared-L2 centroid argmin over a SUB-RANGE of an array<double>
  * column — the product-quantization encode step
  * (`Similarity.pqEncode`): each subquantizer labels a vector with the id
  * of its closest codebook centroid over dims [offset, offset + len).
  *
  * Reading the sub-range in place (offset/len carried on the expression)
  * means encoding never materializes `slice(v, …)` arrays — one primitive
  * ksub·len loop per vector per subspace, no allocation, and the whole
  * m-subspace encode is a single shuffle-free projection.
  *
  * Determinism contract (mirrors [[CosineArgmax]], and what the DuckDB
  * oracle replays): squared distances accumulate left to right in index
  * order, are rounded to 6 dp exactly as Spark's `round` does
  * (`BigDecimal.valueOf(x).setScale(6, HALF_UP)`), and the winner is the
  * FIRST strict minimum over centroids in ascending-cluster order — ties
  * go to the lower cluster id. A vector shorter than `offset + len` is
  * scored over the dims it has (missing dims contribute the centroid
  * component squared — the zero-padded reading); NaN distances never win.
  */
case class L2Argmin(child: Expression,
                    clusterIds: Array[Int],
                    cents: Array[Array[Double]],
                    offset: Int)
  extends UnaryExpression {

  require(cents.nonEmpty && clusterIds.length == cents.length,
    "one cluster id per centroid, at least one centroid")
  require(offset >= 0, "offset must be non-negative")

  override def dataType: DataType = IntegerType
  override def prettyName: String = "l2_argmin"
  override protected def stringArgs: Iterator[Any] = kernelStringArgs(super.stringArgs)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"l2_argmin expects array<double>, got $other")
    }

  override def nullSafeEval(input: Any): Any =
    java.lang.Integer.valueOf(compute(input.asInstanceOf[ArrayData]))

  // resolved lazily: the child's type is only bound after analysis
  private lazy val mayContainNull: Boolean = child.dataType match {
    case org.apache.spark.sql.types.ArrayType(_, containsNull) => containsNull
    case _ => true
  }

  /** The fused argmin loop shared by the interpreted and generated paths. */
  def compute(v: ArrayData): Int = {
    val n = v.numElements()
    if (mayContainNull && cents.nonEmpty) {
      // a null element inside the scored sub-range would read as 0.0 and
      // emit a concrete (wrong) codebook id; -1 is the degenerate code —
      // PqAdc (code < 0 -> null) and the stale-code drop path already
      // reject it downstream (same null-element hazard MatVec fixed)
      val hi = math.min(offset + cents(0).length, n)
      var i = offset
      while (i < hi) { if (v.isNullAt(i)) return -1; i += 1 }
    }
    var best = Double.PositiveInfinity
    var bestC = -1
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      var d2 = 0.0
      var j = 0
      while (j < cent.length) {
        val i = offset + j
        val x = if (i < n) v.getDouble(i) else 0.0
        val diff = x - cent(j)
        d2 += diff * diff
        j += 1
      }
      val r =
        if (java.lang.Double.isNaN(d2) || java.lang.Double.isInfinite(d2)) d2
        else java.math.BigDecimal.valueOf(d2)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      if (r < best) { best = r; bestC = clusterIds(c) }
      c += 1
    }
    bestC
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("l2Argmin", this, classOf[L2Argmin].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.compute($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): L2Argmin =
    copy(child = newChild)
}

object L2Argmin {
  /** `l2_argmin(v, ids, cents, offset)`: the cluster id whose centroid
    * minimizes the 6-dp-rounded squared L2 distance to
    * `v[offset, offset + len)` (ties to the lower id; pass centroids in
    * ascending cluster-id order). */
  def l2_argmin(v: Column, clusterIds: Array[Int], cents: Array[Array[Double]],
                offset: Int): Column =
    GraftBridge.column(L2Argmin(GraftBridge.expression(v), clusterIds, cents, offset))
}
