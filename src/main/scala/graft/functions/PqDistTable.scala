package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Per-probe ADC distance table as a native Catalyst expression — the
  * probe side of [[graft.operators.Similarity.pqTopK]], `ivfPqTopK` and
  * `ivfPqResidualTopK` (Jégou et al., "Product quantization for nearest
  * neighbor search", §III: d[j][c] = ‖p_j − c_j‖²). Row j, entry c is
  * the 6-dp-rounded squared L2 between the probe's subspace-j dims
  * [j·subDim, j·subDim + len) and centroid c of codebook j.
  *
  * The column-expression form (`Similarity.distTableHof`) is one
  * `(element_at(p, i) − literal)²` term per (subspace, centroid, dim) —
  * m·ksub·subDim leaves, 512 at m=4/ksub=8/subDim=16 — which Catalyst
  * re-analyses and re-optimizes on every plan build and AQE re-plans at
  * every query stage: driver-side work that dwarfed the query's task
  * time. Here the codebooks ride on the expression object and the whole
  * table is one primitive loop shared by the interpreted and generated
  * paths; the plan carries a single node.
  *
  * Bit-identical to the expression form (FunctionsSpec parity sweep on
  * raw bits; the sim_pq_topk / sim_ivfpq_topk / sim_ivfpq_res_topk
  * oracles replay the same tables):
  *  - each entry folds its squared differences left to right starting
  *    from the first term (the `reduce(_ + _)` of the column form);
  *  - it rounds as Spark's `round` does for doubles —
  *    `BigDecimal.valueOf(x).setScale(6, HALF_UP)`, NaN and ±Inf
  *    passed through unchanged;
  *  - an entry whose dims include a null element, or reach past the end
  *    of `p` (the legacy `element_at` reading), is null; with equal-width
  *    centroids a null in subspace j nulls exactly row j;
  *  - a null `p` yields null.
  * Callers keep probes shorter than m·subDim out up front (see
  * `Similarity.probesWithDistTable`).
  */
case class PqDistTable(child: Expression, cents: Array[Array[Array[Double]]],
                       subDim: Int)
  extends UnaryExpression {

  require(cents.nonEmpty && cents.forall(cs => cs.nonEmpty && cs.forall(_.nonEmpty)),
    "every subspace needs at least one non-empty centroid")
  require(subDim >= 0, "subDim must be non-negative")

  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = true), containsNull = false)
  override def prettyName: String = "pq_dist_table"
  override protected def stringArgs: Iterator[Any] = kernelStringArgs(super.stringArgs)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"pq_dist_table expects array<double>, got $other")
    }

  // resolved lazily: the child's type is only bound after analysis
  private lazy val mayContainNull: Boolean = child.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => true
  }

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[ArrayData])

  /** The table loop shared by the interpreted and generated paths. */
  def compute(p: ArrayData): ArrayData = {
    val n = p.numElements()
    val rows = new Array[Any](cents.length)
    var j = 0
    while (j < cents.length) {
      val cs = cents(j)
      val off = j * subDim
      val row = new Array[Any](cs.length)
      var c = 0
      while (c < cs.length) {
        val cent = cs(c)
        var d2 = 0.0
        var ok = true
        var i = 0
        while (ok && i < cent.length) {
          val k = off + i
          if (k >= n || (mayContainNull && p.isNullAt(k))) ok = false
          else {
            val diff = p.getDouble(k) - cent(i)
            d2 = if (i == 0) diff * diff else d2 + diff * diff
          }
          i += 1
        }
        row(c) =
          if (!ok) null
          else if (java.lang.Double.isNaN(d2) || java.lang.Double.isInfinite(d2)) d2
          else java.math.BigDecimal.valueOf(d2)
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        c += 1
      }
      rows(j) = new GenericArrayData(row)
      j += 1
    }
    new GenericArrayData(rows)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqDistTable", this, classOf[PqDistTable].getName)
    nullSafeCodeGen(ctx, ev, p => s"${ev.value} = $ref.compute($p);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqDistTable =
    copy(child = newChild)
}

object PqDistTable {
  /** `pq_dist_table(p, codebooks, subDim)`: array(sub)(pos) of the
    * 6-dp-rounded squared L2 between `p`'s subspace dims and each
    * centroid; `codebooks(j)` holds subspace j's centroids in ascending
    * cluster-id order (table positions follow it). */
  def pq_dist_table(p: Column, codebooks: Array[Array[Array[Double]]],
                    subDim: Int): Column =
    GraftBridge.column(PqDistTable(GraftBridge.expression(p), codebooks, subDim))
}
