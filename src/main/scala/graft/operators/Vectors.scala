package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The ONE vector rule of the similarity operators, each rule paired with
  * its DuckDB oracle fragment (the `…Sql` twin) in the style of [[Words]]:
  * how two vectors compare, how a group of vectors averages, and how the
  * deterministic cosine Lloyd fit replays.
  *
  *  - cosine: dot(a, b) / (‖a‖·‖b‖) rounded to `dp` places, the native
  *    [[graft.functions.CosineSim]] fold. A zero-norm side makes it NaN in
  *    Spark (NULL in DuckDB); callers drop it before ranking or comparing,
  *    so NaN never wins.
  *  - dimension means: posexplode → avg per (keys, dim), optionally
  *    rounded → re-assembled in dim order. One shuffle keyed on
  *    (keys, dim): the state is keys·dim scalars, vectors never shuffle
  *    whole.
  *  - the Lloyd fit ([[Similarity.kmeansFit]] + [[Similarity.assignClusters]]):
  *    seeds are the k lowest-id sample vectors, each round takes the
  *    6-dp cosine argmax (ties to the lower cluster), then 6-dp means.
  *
  * The PQ twins (subspace squared-L2 codes, PQ Lloyd rounds, the ADC
  * distance table) sit beside their kernels in [[Codebook]].
  */
object Vectors {
  def cosine(a: Column, b: Column, dp: Int): Column =
    round(graft.functions.CosineSim.cosine_sim(a, b), dp)

  /** Per-key dimension means of vector column `v`: (keys…, c, n), `c`
    * the means in dim order (each rounded to `roundTo` places, if given)
    * and `n` the key's dim-0 row count, its vector count (the optimizer
    * prunes the count from the plan of a caller that drops it). `keys` are
    * selected as given (alias them to plain names other than dim, x, m,
    * c, n and pairs). A null or empty vector adds nothing; a ragged row
    * adds only to the dims it has. */
  def dimMeans(df: DataFrame, keys: Seq[Column], v: Column,
               roundTo: Option[Int]): DataFrame = {
    val exploded = df.select(keys :+ posexplode(v).as(Seq("dim", "x")): _*)
    val ks = exploded.columns.dropRight(2).toSeq.map(col)
    val mean = roundTo.fold(avg(col("x")))(round(avg(col("x")), _))
    exploded
      .groupBy(ks :+ col("dim"): _*)
      .agg(mean.as("m"), count(lit(1)).as("c"))
      .groupBy(ks: _*)
      .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("pairs"),
        max(when(col("dim") === 0, col("c"))).as("n"))
      .select(ks :+ expr("transform(pairs, q -> q.m)").as("c") :+ col("n"): _*)
  }

  /** Oracle twins; `a`, `b` and `v` are list expressions of `dim`
    * elements, `src` a FROM item. */
  def dotSql(a: String, b: String, dim: Int): String =
    s"list_sum([$a[i] * $b[i] for i in range(1, ${dim + 1})])"

  def normSql(a: String, dim: Int): String = s"sqrt(${dotSql(a, a, dim)})"

  def cosineSql(a: String, b: String, dim: Int, dp: Int): String =
    s"round(${dotSql(a, b, dim)} / (${normSql(a, dim)} * ${normSql(b, dim)}), $dp)"

  /** (keys…, cv): the [[dimMeans]] twin without the count. */
  def dimMeansSql(src: String, keys: Seq[String], v: String, dim: Int,
                  roundTo: Option[Int]): String = {
    val ks = keys.mkString(", ")
    val mean = roundTo.fold(s"avg($v[i])")(d => s"round(avg($v[i]), $d)")
    s"""SELECT $ks, list(m ORDER BY i) AS cv
              FROM (SELECT $ks, i, $mean AS m
                    FROM $src, range(1, ${dim + 1}) t(i) GROUP BY $ks, i)
              GROUP BY $ks"""
  }

  /** The Lloyd fit of `k` clusters over CTE `sample` (vec_id, e) in
    * `iters` rounds, then the final assignment of CTE `src`, as CTEs
    * prefixed `p` (so two fits can share one query): `{p}cents`
    * (cluster, cv) are the fit centroids and `{p}labels` (vec_id, e,
    * cluster) label `src` against them. */
  def lloydSql(p: String, src: String, sample: String, k: Int, iters: Int,
               dim: Int): String = {
    require(iters >= 1, "k-means needs at least one assignment round")
    def cents(r: Int) = if (r == iters - 1) s"${p}cents" else s"${p}c$r"
    def assign(name: String, from: String, r: Int) =
      s"""$name AS (
            SELECT vec_id, e, cluster FROM (
              SELECT s.vec_id, s.e, kc.cluster,
                     row_number() OVER (PARTITION BY s.vec_id ORDER BY
                       ${cosineSql("s.e", "kc.cv", dim, 6)}
                       DESC, kc.cluster ASC) AS rn
              FROM $from s, ${cents(r)} kc) WHERE rn = 1)"""
    val seeds =
      s"""${cents(0)} AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, e AS cv
            FROM $sample ORDER BY vec_id LIMIT $k)"""
    val rounds = (1 until iters).map { r =>
      s"""${assign(s"${p}a$r", sample, r - 1)},
          ${cents(r)} AS (${dimMeansSql(s"${p}a$r", Seq("cluster"), "e", dim, Some(6))})"""
    }
    (seeds +: rounds :+ assign(s"${p}labels", src, iters - 1)).mkString(",\n          ")
  }
}
