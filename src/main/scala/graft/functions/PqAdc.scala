package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Asymmetric-distance-computation (ADC) lookup-sum as a native Catalyst
  * expression — the per-(probe, candidate) hot path under
  * [[graft.operators.Similarity.pqTopK]] / `ivfPqTopK` (reference shape:
  * Jégou et al., "Product quantization for nearest neighbor search",
  * §IV: adist = Σⱼ tbl[j][code[j]]).
  *
  * The column-expression form pays, per candidate row, m×
  * `array_position` scans over a ksub-entry literal id array (O(m·ksub)
  * comparisons — at m=4/ksub=64 that is 256 boxed equality checks, MORE
  * work than the 64 multiply-adds ADC exists to avoid) plus m boxed
  * `element_at` chains. This expression replaces each scan with one
  * direct-index lookup into a code→table-position map precomputed ONCE
  * at plan build (codebook ids are small ints by construction —
  * k-means row_numbers 0..ksub-1 — so the map is a flat int array),
  * and runs the whole lookup-sum as one primitive loop inside
  * whole-stage codegen.
  *
  * Bit-identical semantics to the expression form, spec-pinned
  * (FunctionsSpec parity sweep + the sim_pq_topk / sim_ivfpq_topk /
  * sim_pq_rerank DuckDB oracles replay the same sums): terms accumulate
  * left to right in subspace order and the sum re-rounds to 6 dp exactly
  * as Spark's `round` does for doubles
  * (`BigDecimal.valueOf(x).setScale(6, HALF_UP)`, NaN/±Inf passed
  * through). Null parity: a null codes/table array, a codes array
  * shorter than m, a null code element, a code that resolves to no
  * table position (stale codebook), or a missing/null table entry all
  * yield null — the same cases where the
  * expression form's `element_at`/`nullif(array_position, 0)` chain goes
  * null — so `Similarity.scoreTopK`'s null-score filter drops the candidate
  * identically.
  */
case class PqAdc(left: Expression, right: Expression,
                 ids: Array[Array[Int]])
  extends BinaryExpression {

  require(ids.nonEmpty, "at least one subspace id array")
  require(ids.forall(a => a.nonEmpty && a.forall(_ >= 0)),
    "codebook cluster ids must be non-negative (k-means row_number construction)")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "pq_adc"
  override protected def stringArgs: Iterator[Any] = kernelStringArgs(super.stringArgs)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"pq_adc expects (array<int> codes, array<array<double>> table), got $other")
    }

  // code -> 0-based table position per subspace, direct-indexed (ids are
  // k-means row_numbers, so the domain is dense and tiny); -1 = absent
  private val posOf: Array[Array[Int]] = ids.map { a =>
    val p = Array.fill(a.max + 1)(-1)
    var i = 0
    while (i < a.length) { p(a(i)) = i; i += 1 }
    p
  }

  override def nullSafeEval(codes: Any, tbl: Any): Any =
    compute(codes.asInstanceOf[ArrayData], tbl.asInstanceOf[ArrayData])

  // Whole-stage codegen: one call into the same fused lookup-sum the
  // interpreted path runs; the boxed Double only carries the null cases.
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqAdc", this, classOf[PqAdc].getName)
    nullSafeCodeGen(ctx, ev, (c, t) => {
      val res = ctx.freshName("adcRes")
      s"""
         |java.lang.Double $res = $ref.compute($c, $t);
         |if ($res == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $res.doubleValue();
         |}
       """.stripMargin
    })
  }

  /** The fused lookup-sum shared by the interpreted and generated paths. */
  def compute(codes: ArrayData, tbl: ArrayData): java.lang.Double = {
    val m = ids.length
    if (codes.numElements() < m || tbl.numElements() < m) return null
    var s = 0.0
    var j = 0
    while (j < m) {
      if (codes.isNullAt(j) || tbl.isNullAt(j)) return null
      val code = codes.getInt(j)
      val p = posOf(j)
      if (code < 0 || code >= p.length || p(code) < 0) return null
      val row = tbl.getArray(j)
      val pos = p(code)
      if (pos >= row.numElements() || row.isNullAt(pos)) return null
      s += row.getDouble(pos)
      j += 1
    }
    java.lang.Double.valueOf(
      if (java.lang.Double.isNaN(s) || java.lang.Double.isInfinite(s)) s
      else java.math.BigDecimal.valueOf(s)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): PqAdc =
    copy(left = newLeft, right = newRight)
}

object PqAdc {
  /** `pq_adc(codes, tbl, ids)`: Σⱼ tbl[j][posOf(ids(j), codes[j])]
    * re-rounded to 6 dp; null if any lookup fails (dropped candidate). */
  def pq_adc(codes: Column, tbl: Column, ids: Array[Array[Int]]): Column =
    GraftBridge.column(PqAdc(GraftBridge.expression(codes),
      GraftBridge.expression(tbl), ids))
}
