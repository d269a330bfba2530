package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, typedLit}
import org.apache.spark.sql.types._

import graft.operators.{Codebook, Similarity, Vectors}

/** The vector rules the similarity operators share: cosine, dimension
  * means and the Lloyd fit, pinned on the inputs where they differ. */
class VectorsSpec extends SparkTestBase {

  /** An RDD-built frame: a `Seq.toDF` frame folds into a local relation
    * evaluated on the driver, so it would never run the generated code
    * the queries run. */
  private def frame(rows: Seq[Row]): DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(rows, 2),
    StructType(Seq(StructField("vec_id", LongType), StructField("k", StringType),
      StructField("v", ArrayType(DoubleType)))))

  private lazy val vecs = frame(Seq(
    Row(1L, "a", Seq(1.0, 0.0, 0.0)),
    Row(2L, "a", Seq(0.0, 0.0, 0.0)), // zero norm
    Row(3L, "a", Seq(3.0, 4.0)), // ragged
    Row(4L, "b", null),
    Row(5L, "b", Seq(2.0, 2.0, 2.0)),
    Row(6L, "c", null))) // a key with no vector

  test("Vectors.cosine: rounded; NaN on a zero norm, null on a ragged or null side") {
    val got = vecs.select(col("vec_id"),
        Vectors.cosine(col("v"), typedLit(Seq(1.0, 1.0, 0.0)), 4).as("cos"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(got(1L).contains(0.7071) && got(5L).contains(0.8165), got)
    assert(got(2L).exists(_.asInstanceOf[Double].isNaN), got)
    assert(got(3L).isEmpty && got(4L).isEmpty && got(6L).isEmpty, got)
  }

  test("Vectors.dimMeans: per-dim means over the vectors each dim has; a null adds nothing") {
    def means(roundTo: Option[Int]) =
      Vectors.dimMeans(vecs, Seq(col("k")), col("v"), roundTo).collect()
        .map(r => r.getString(0) -> (r.getSeq[Double](1), r.getLong(2))).toMap
    // the zero vector counts toward every mean, the ragged row only
    // toward dims 0 and 1, and n is the dim-0 count
    assert(means(None) == Map(
      "a" -> (Seq(4.0 / 3, 4.0 / 3, 0.0), 3L), "b" -> (Seq(2.0, 2.0, 2.0), 1L)))
    assert(means(Some(2)) == Map(
      "a" -> (Seq(1.33, 1.33, 0.0), 3L), "b" -> (Seq(2.0, 2.0, 2.0), 1L)))
  }

  test("Lloyd fit: a cosine tie goes to the lower cluster; a zero vector is never labeled") {
    // vec 3 is equally close to seeds 1 and 2, so round one puts it in
    // cluster 0; the other way round would make cluster 0 just [1, 0]
    val sample = frame(Seq(Row(1L, "", Seq(1.0, 0.0)), Row(2L, "", Seq(0.0, 1.0)),
      Row(3L, "", Seq(1.0, 1.0)), Row(4L, "", Seq(0.0, 2.0))))
    val cents = Similarity.kmeansFit(sample, k = 2, iters = 2)
    assert(cents.collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap ==
      Map(0 -> Seq(1.0, 0.5), 1 -> Seq(0.0, 1.5)))
    val all = sample.union(frame(Seq(Row(5L, "", Seq(0.0, 0.0)))))
    val labels = Similarity.assignClusters(all, cents).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(labels == Map(1L -> 0, 2L -> 1, 3L -> 0, 4L -> 1, 5L -> -1))
  }

  test("oracle twins: the cosine fold, and the CTE names the Lloyd builders define") {
    assert(Vectors.cosineSql("a", "b", 2, 4) ==
      "round(list_sum([a[i] * b[i] for i in range(1, 3)]) / " +
        "(sqrt(list_sum([a[i] * a[i] for i in range(1, 3)])) * " +
        "sqrt(list_sum([b[i] * b[i] for i in range(1, 3)]))), 4)")
    def ctes(sql: String) = """(\w+) AS \(""".r.findAllMatchIn(sql).map(_.group(1)).toSeq
    assert(ctes(Vectors.lloydSql("k", "v", "s", 8, 1, 4)) == Seq("kcents", "klabels"))
    assert(ctes(Vectors.lloydSql("k", "v", "s", 8, 3, 4)) ==
      Seq("kc0", "ka1", "kc1", "ka2", "kcents", "klabels"))
    assert(ctes(Codebook.pqLloydSql("r", "s", 4, 16, 8, 1)) == Seq("rcb"))
    assert(ctes(Codebook.pqLloydSql("r", "s", 4, 16, 8, 2)) == Seq("rc0", "ra1", "rcb"))
  }
}
