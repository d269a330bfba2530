package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The ONE word rule of the text operators, each rule paired with its
  * DuckDB oracle fragment (the `…Sql` twin) in the style of
  * [[graft.queries.Micros]]: how text becomes whitespace tokens, words
  * and word n-grams.
  *
  *  - tokens: `split(trim(e), '[ \t\n\f\r]+')`, raw. The class is
  *    spelled out because the engines' `\s` differ: Java's holds the
  *    vertical tab U+000B, RE2's does not. `trim` strips only spaces,
  *    so a text led by a tab or newline splits to a "" head token, and an
  *    empty or whitespace-only text splits to [""] (size 1, not 0).
  *  - words: the tokens without "". This is the rule for counts, grams
  *    and ratios: a "" token would report one word for an empty document,
  *    fabricate a gram (" a b") for a tab-led one, and skew every
  *    denominator.
  *  - word n-gram windows: over a word array, the ordered array of its
  *    n-word windows, each joined with single spaces.
  *
  * Callers lower-case before tokenizing (`tokens(lower(c))`). A caller on
  * raw tokens reads them on purpose (BM25's document length counts the
  * raw split) or is an open item; its oracle twin reads the same rule.
  */
object Words {
  def tokens(e: Column): Column = split(trim(e), "[ \\t\\n\\f\\r]+")

  def words(e: Column): Column = filter(tokens(e), w => w =!= "")

  /** The n-word windows of word array `ws`, in order; 1-based positions
    * i..i+n-1. `ws` must be a column reference to an array projected
    * beforehand: the lambda reads it n times per window, and an inlined
    * split would re-run the regex on every read (measured 5× slower at
    * n = 5). Callers keep their own `size(ws) >= n` filter, because
    * `sequence(1, 0)` counts down. */
  def ngrams(ws: Column, n: Int): Column =
    transform(sequence(lit(1), size(ws) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(o => element_at(ws, i + o)): _*))

  /** Oracle twins; `e` and `ws` are self-contained SQL expressions. */
  def tokensSql(e: String): String = s"string_split_regex(trim($e), '[ \\t\\n\\f\\r]+')"

  def wordsSql(e: String): String = s"list_filter(${tokensSql(e)}, x -> x <> '')"

  def ngramsSql(ws: String, n: Int): String =
    s"[array_to_string($ws[i + 1:i + $n], ' ') for i in range(0, len($ws) - ${n - 1})]"
}
