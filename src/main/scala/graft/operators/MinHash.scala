package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The ONE MinHash rule of the near-dup operators, batch and stream,
  * beside its DuckDB twin in the style of [[Words]]. Member i over a
  * shingle g is md5(g ‖ '#i'); signature i is its least hex digest over a
  * document's distinct shingles, either as the by-id aggregate
  * ([[signatures]], which merges rows that share an id) or over one row's
  * shingle array ([[rowSignature]], what a stream runs). A band's code is
  * the md5 of its k / bands signatures joined with ','.
  */
object MinHash {
  def member(g: Column, i: Int): Column = md5(concat(g, lit(s"#$i")))

  /** k signature columns s0..s{k-1} per id over (id, g) shingles. */
  def signatures(shingles: DataFrame, k: Int): DataFrame =
    shingles.groupBy(col("id"))
      .agg(min(member(col("g"), 0)).as("s0"),
        (1 until k).map(i => min(member(col("g"), i)).as(s"s$i")): _*)

  def rowSignature(grams: Column, i: Int): Column =
    array_min(transform(grams, g => member(g, i)))

  /** (keys…, band_id, h): one row per band of each signature row. */
  def bands(signatures: DataFrame, keys: Seq[String], k: Int, bands: Int): DataFrame = {
    val rowsPerBand = k / bands
    require(bands * rowsPerBand == k, s"bands=$bands must divide k=$k")
    val bandCols = (0 until bands).map { b =>
      val sigCols = (0 until rowsPerBand).map(r => col(s"s${b * rowsPerBand + r}"))
      struct(lit(b).as("band_id"), md5(concat_ws(",", sigCols: _*)).as("h"))
    }
    signatures.select(keys.map(col) :+ explode(array(bandCols: _*)).as("band"): _*)
      .select(keys.map(col) ++ Seq(col("band.band_id"), col("band.h")): _*)
  }

  /** Oracle twins: the `sig` CTE over the (id, g) relation `src`, and
    * the `bands` CTE over `sig`. */
  def signaturesSql(src: String, k: Int): String =
    (0 until k).map(i => s"min(md5(g || '#$i')) AS s$i")
      .mkString("SELECT id, ", ", ", s" FROM $src GROUP BY id")

  def bandsSql(k: Int, bands: Int): String = {
    val rowsPerBand = k / bands
    (0 until bands).map { b =>
      val sigs = (0 until rowsPerBand).map(r => s"s${b * rowsPerBand + r}").mkString(" || ',' || ")
      s"SELECT id, $b AS band_id, md5($sigs) AS h FROM sig"
    }.mkString(" UNION ALL ")
  }
}
