package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The ONE md5-u24 draw of the sampling, sharding and hashed-bucket
  * operators, beside its DuckDB twin in the style of [[Words]]: the first
  * 6 hex digits of an md5 digest as a long in [0, 2^24), so a sample, a
  * shard or a bucket reproduces byte for byte across engines. `u24`
  * draws from md5(salt ‖ key), `hexU24` from a digest in hand (a sort
  * key, a window hash). DuckDB has no base-16 `conv`, so the twin sums
  * the digits through a `strpos` ladder.
  */
object HashDraw {
  def hexU24(hex: Column): Column = conv(substring(hex, 1, 6), 16, 10).cast("long")

  def u24(salt: String, key: Column): Column = hexU24(md5(concat(lit(salt), key)))

  /** Oracle twins; `hex` and `key` are self-contained SQL expressions. */
  def hexU24Sql(hex: String): String =
    s"""list_sum([(strpos('0123456789abcdef', substr($hex, i, 1)) - 1)
                  * power(16, 6 - i)::BIGINT
                  for i in range(1, 7)])::BIGINT"""

  def u24Sql(salt: String, key: String): String = hexU24Sql(s"md5('$salt' || $key)")
}
