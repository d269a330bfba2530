package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{col, size}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.Words

/** The word rule the text operators share: tokens, words and word
  * n-gram windows, pinned on the texts where they differ. */
class WordsSpec extends SparkTestBase {

  private val texts = Seq(
    1L -> "",
    2L -> "   ",
    3L -> "\ta b",
    4L -> "a\n\nb",
    5L -> "a  b c",
    // non-ASCII words; U+3000 is no whitespace to the rule
    6L -> "naïve café\tüber 日本\u3000語 ünï",
    7L -> "  x1 x2 x3 x4 x5 x6 ",
    8L -> null,
    // a vertical tab is no whitespace to the rule: RE2's \s lacks it
    9L -> "a\u000Bb")

  /** An RDD-built frame: a `Seq.toDF` frame folds into a local relation
    * evaluated on the driver, so it would never run the generated code
    * the queries run. */
  private lazy val docs = spark.createDataFrame(
    spark.sparkContext.parallelize(texts.map { case (i, t) => Row(i, t) }, 2),
    StructType(Seq(StructField("id", LongType), StructField("text", StringType))))

  private def byId(df: DataFrame, c: Column): Map[Long, Seq[String]] =
    df.select(col("id"), c).collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[String](1)).map(_.toSeq).orNull).toMap

  test("Words.tokens: the raw split keeps a \"\" head token and [\"\"] for blank text") {
    assert(byId(docs, Words.tokens(col("text"))) == Map(
      1L -> Seq(""), 2L -> Seq(""), 3L -> Seq("", "a", "b"), 4L -> Seq("a", "b"),
      5L -> Seq("a", "b", "c"), 6L -> Seq("naïve", "café", "über", "日本\u3000語", "ünï"),
      7L -> Seq("x1", "x2", "x3", "x4", "x5", "x6"), 8L -> null, 9L -> Seq("a\u000Bb")))
  }

  test("Words.words: tokens without \"\"") {
    assert(byId(docs, Words.words(col("text"))) == Map(
      1L -> Seq(), 2L -> Seq(), 3L -> Seq("a", "b"), 4L -> Seq("a", "b"),
      5L -> Seq("a", "b", "c"), 6L -> Seq("naïve", "café", "über", "日本\u3000語", "ünï"),
      7L -> Seq("x1", "x2", "x3", "x4", "x5", "x6"), 8L -> null, 9L -> Seq("a\u000Bb")))
  }

  test("Words.ngrams: ordered n-word windows over the words, n = 1, 3, 5") {
    val ws = docs.select(col("id"), Words.words(col("text")).as("ws"))
    def grams(n: Int) =
      byId(ws.filter(size(col("ws")) >= n), Words.ngrams(col("ws"), n))
    assert(grams(1) == Map(
      3L -> Seq("a", "b"), 4L -> Seq("a", "b"), 5L -> Seq("a", "b", "c"),
      6L -> Seq("naïve", "café", "über", "日本\u3000語", "ünï"),
      7L -> Seq("x1", "x2", "x3", "x4", "x5", "x6"), 9L -> Seq("a\u000Bb")))
    assert(grams(3) == Map(
      5L -> Seq("a b c"),
      6L -> Seq("naïve café über", "café über 日本\u3000語", "über 日本\u3000語 ünï"),
      7L -> Seq("x1 x2 x3", "x2 x3 x4", "x3 x4 x5", "x4 x5 x6")))
    assert(grams(5) == Map(
      6L -> Seq("naïve café über 日本\u3000語 ünï"),
      7L -> Seq("x1 x2 x3 x4 x5", "x2 x3 x4 x5 x6")))
  }

  test("TextAnalysis.tokenClassCounts: a vertical tab is a symbol, as to the oracle") {
    // the symbol class spells out Words' whitespace, so Java counts
    // U+000B as RE2 does
    val text = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row("a\u000Bb c d")), 1),
      StructType(Seq(StructField("text", StringType))))
    val (words, nums, syms) = graft.operators.TextAnalysis.tokenClassCounts(col("text"))
    assert(text.select(words, nums, syms).head() == Row(4L, 0L, 1L))
  }
}
