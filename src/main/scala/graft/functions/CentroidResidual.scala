package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** `v − centroid[cluster]` as a native Catalyst expression — the
  * residual step of the IVFADC index build
  * ([[graft.operators.Similarity.pqIndexResidual]], Jégou §IV-A).
  *
  * The column-expression formulation
  * (`zip_with(v, element_at(centMap, cluster), (x, y) -> x − y)`) is a
  * higher-order function and therefore CodegenFallback: on the
  * FULL-CORPUS index projection every row pays interpreted lambda
  * dispatch, a boxed map lookup, and an intermediate array of boxed
  * doubles — and the whole projection (coarse argmax + residual + m
  * sub-argmins) drops out of whole-stage codegen with it. This
  * expression is one primitive loop — dim subtractions into a single
  * primitive array — over a centroid table carried on the expression
  * object (k·dim doubles, the same plan-literal footprint as the map
  * literal), keeping the index build inside one codegen stage.
  *
  * Identical values to the HOF form wherever the operator contract
  * reaches (spec-pinned): per-element `v(i) − cent(i)` in index order.
  * Degenerates null the whole ROW — a null vector, a null or unknown
  * cluster id (only possible against a stale centroid frame), a vector
  * whose length disagrees with the centroid dim, or a null vector
  * element. (The zip_with form instead null-PADS a length-mismatched
  * pair into an array with null elements; a whole-row null carries the
  * same drop-the-row signal downstream and is filterable — the same
  * documented trade [[MatVec]] makes.)
  */
case class CentroidResidual(left: Expression, right: Expression,
                            clusterIds: Array[Int],
                            cents: Array[Array[Double]])
  extends BinaryExpression {

  // an EMPTY centroid table is legal (k-means over an empty/degenerate
  // corpus): every lookup misses and every residual nulls — the same
  // graceful empty-result path the map-literal form this replaced had,
  // not a plan-construction crash
  require(clusterIds.length == cents.length,
    "one cluster id per centroid")
  require(cents.isEmpty || cents.forall(_.length == cents(0).length),
    "all centroids must share one dimensionality")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "centroid_residual"
  override protected def stringArgs: Iterator[Any] = kernelStringArgs(super.stringArgs)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), IntegerType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"centroid_residual expects (array<double>, int), got $other")
    }

  // id → centroid, resolved once at construction (k entries)
  private val lookup: java.util.HashMap[Integer, Array[Double]] = {
    val m = new java.util.HashMap[Integer, Array[Double]](cents.length * 2)
    var i = 0
    while (i < cents.length) { m.put(clusterIds(i), cents(i)); i += 1 }
    m
  }

  override def nullSafeEval(v: Any, cluster: Any): Any =
    compute(v.asInstanceOf[ArrayData], cluster.asInstanceOf[Int])

  // Reference-object codegen (the CosineArgmax pattern): one object
  // reference, one call into the same primitive loop per row; the
  // surrounding projection stays in whole-stage codegen.
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroidResidual", this,
      classOf[CentroidResidual].getName)
    nullSafeCodeGen(ctx, ev, (v, c) => {
      val res = ctx.freshName("residual")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $res = $ref.compute($v, $c);
         |if ($res == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $res;
         |}
       """.stripMargin
    })
  }

  /** The subtraction loop shared by the interpreted and generated paths;
    * null for an unknown cluster, width mismatch, or null element. */
  def compute(v: ArrayData, cluster: Int): ArrayData = {
    val cent = lookup.get(cluster)
    if (cent == null) return null
    val n = v.numElements()
    if (n != cent.length) return null
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return null
      out(i) = v.getDouble(i) - cent(i)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): CentroidResidual =
    copy(left = newLeft, right = newRight)
}

object CentroidResidual {
  /** `centroid_residual(v, cluster)`: `v − cents[cluster]` as
    * `array<double>`; null for a null/unknown cluster, a null or
    * width-mismatched vector, or a null element. */
  def centroid_residual(v: Column, cluster: Column,
                        clusterIds: Array[Int],
                        cents: Array[Array[Double]]): Column =
    GraftBridge.column(CentroidResidual(GraftBridge.expression(v),
      GraftBridge.expression(cluster), clusterIds, cents))
}
