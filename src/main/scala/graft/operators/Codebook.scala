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
  * (m·ksub·subDim doubles). */
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
}
