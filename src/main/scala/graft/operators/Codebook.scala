package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A trained product-quantization codebook (Jégou et al. 2011 §II): `m`
  * subspaces of `subDim` dims, subspace j holding its centroids in
  * ascending cluster-id order. Both shape values are read off the
  * centroids, never passed alongside them, so a consumer cannot pair a
  * codebook with a `subDim` that shifts every subspace's offset.
  *
  * Construction validates once: the subspaces are exactly `0 until m`,
  * every subspace has at least one centroid, and every centroid has the
  * same positive width. It holds the only PQ kernels — per-subspace
  * codes ([[graft.functions.L2Argmin]]), reconstruction, the probe
  * distance table ([[graft.functions.PqDistTable]]) and the ADC lookup
  * ([[graft.functions.PqAdc]]); the codebooks ride on the expressions
  * (m·ksub·subDim doubles). Their DuckDB twins, and the twin of
  * [[Similarity.pqFit]], are on the companion object. */
private[graft] final class Codebook private (val subs: Array[Array[(Int, Seq[Double])]]) {
  val m: Int = subs.length
  val subDim: Int = subs(0)(0)._2.size

  private def ids(j: Int): Array[Int] = subs(j).map(_._1)
  private def cents(j: Int): Array[Array[Double]] = subs(j).map(_._2.toArray)

  /** Subspace j's code of `v`: the min-squared-L2 centroid over dims
    * [j·subDim, (j + 1)·subDim), read in place. */
  def code(v: Column, j: Int): Column =
    graft.functions.L2Argmin.l2_argmin(v, ids(j), cents(j), j * subDim)

  /** The m codes of `v`, ordered by subspace. */
  def codes(v: Column): Column = array((0 until m).map(code(v, _)): _*)

  /** `v`'s quantization q(v): the m code centroids concatenated (null
    * if a code does not resolve). */
  def reconstruct(v: Column): Column =
    flatten(array((0 until m).map { j =>
      element_at(Codebook.centroidMap(subs(j)), code(v, j))
    }: _*))

  /** Per-probe ADC distance table: array(sub)(pos) of 6-dp-rounded
    * squared L2 between `p`'s sub-vector and each centroid. */
  def distTable(p: Column): Column =
    graft.functions.PqDistTable.pq_dist_table(p, Array.tabulate(m)(cents), subDim)

  /** Candidate ADC distance: the m table lookups summed and re-rounded
    * to 6 dp; null when a code does not resolve. */
  def adc(codes: Column, tbl: Column): Column =
    graft.functions.PqAdc.pq_adc(codes, tbl, Array.tabulate(m)(ids))
}

private[graft] object Codebook {
  /** A codebook from per-subspace centroid rows (index = subspace). */
  def apply(subs: Array[Array[(Int, Seq[Double])]]): Codebook = {
    require(subs.nonEmpty, "codebook has no subspaces")
    subs.indices.foreach(j => require(subs(j).nonEmpty, s"codebook subspace $j has no centroid"))
    val widths = subs.flatten.map(_._2.size).distinct.sorted
    require(widths.length == 1 && widths(0) > 0,
      s"codebook centroids must share one positive width subDim, got widths ${widths.mkString("{", ", ", "}")}")
    new Codebook(subs.map(_.sortBy(_._1)))
  }

  /** A codebook from a (sub, cluster, c) frame — [[Similarity.pqFit]]'s
    * output; the frame is m·ksub rows. */
  def apply(frame: DataFrame): Codebook = {
    val bySub = frame.select(col("sub").cast("int"), col("cluster").cast("int"), col("c"))
      .collect()
      .map(r => (r.getInt(0), (r.getInt(1), r.getSeq[Double](2))))
      .groupBy(_._1)
    val subIds = bySub.keys.toSeq.sorted
    require(subIds == subIds.indices,
      s"codebook subspaces must be exactly 0 until m, got ${subIds.mkString("{", ", ", "}")}")
    apply(Array.tabulate(subIds.size)(j => bySub(j).map(_._2)))
  }

  /** The (cluster → centroid) map literal over centroid rows — coarse
    * or per-subspace. */
  def centroidMap(rows: Array[(Int, Seq[Double])]): Column =
    map(rows.flatMap { case (id, c) => Seq(lit(id), typedLit(c)) }.toIndexedSeq: _*)

  /** Oracle twins. A codebook CTE is (sub, cluster, cv); `v` a list
    * expression, `sub` and `cv` expressions over the codebook row. */

  /** The 6-dp squared L2 between subspace `sub` of `v` and centroid `cv`
    * — the [[code]] and [[distTable]] distance. */
  def subL2Sql(v: String, sub: String, cv: String, subDim: Int): String =
    s"""round(list_sum([($v[$sub * $subDim + i] - $cv[i]) *
                                 ($v[$sub * $subDim + i] - $cv[i])
                                 for i in range(1, ${subDim + 1})]), 6)"""

  /** The [[code]]s of FROM item `src` (vec_id, e) under codebook `cb`:
    * (sub, vec_id, code, e), ties to the lower cluster id. */
  def pqEncodeSql(src: String, cb: String, subDim: Int): String =
    s"""SELECT sub, vec_id, code, e FROM (
              SELECT c.sub, v.vec_id, c.cluster AS code, v.e,
                     row_number() OVER (PARTITION BY c.sub, v.vec_id ORDER BY
                       ${subL2Sql("v.e", "c.sub", "c.cv", subDim)} ASC,
                       c.cluster ASC) AS rn
              FROM $src v, $cb c) WHERE rn = 1"""

  /** [[Similarity.pqFit]] over CTE `sample` (vec_id, e) as CTEs prefixed
    * `p`: the ksub lowest-id vectors seed every subspace, then `iters − 1`
    * rounds of codes and 6-dp sub-vector means. The codebook is CTE
    * `{p}cb`. */
  def pqLloydSql(p: String, sample: String, m: Int, subDim: Int, ksub: Int,
                 iters: Int): String = {
    require(iters >= 1, "PQ training needs at least one assignment round")
    def cb(r: Int) = if (r == iters - 1) s"${p}cb" else s"${p}c$r"
    val seeds =
      s"""${cb(0)} AS (
            SELECT t.sub,
                   row_number() OVER (PARTITION BY t.sub ORDER BY sd.vec_id) - 1 AS cluster,
                   [sd.e[t.sub * $subDim + i] for i in range(1, ${subDim + 1})] AS cv
            FROM (SELECT vec_id, e FROM $sample ORDER BY vec_id LIMIT $ksub) sd,
                 range(0, $m) t(sub))"""
    val rounds = (1 until iters).map { r =>
      s"""${p}a$r AS (
            SELECT sub, code AS cluster, e[sub * $subDim + 1:(sub + 1) * $subDim] AS sv
            FROM (${pqEncodeSql(sample, cb(r - 1), subDim)})),
          ${cb(r)} AS (${graft.operators.Vectors.dimMeansSql(s"${p}a$r",
            Seq("sub", "cluster"), "sv", subDim, Some(6))})"""
    }
    (seeds +: rounds).mkString(",\n          ")
  }

  /** [[distTable]] rows of FROM item `probes` (keys…, p) under codebook
    * `cb`: (keys…, sub, cluster, d). */
  def distTableSql(probes: String, keys: Seq[String], cb: String, subDim: Int): String =
    s"""SELECT ${keys.map("q." + _).mkString(", ")}, c.sub, c.cluster,
                   ${subL2Sql("q.p", "c.sub", "c.cv", subDim)} AS d
            FROM $probes q, $cb c"""
}
