package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Order-independent digest of a DataFrame's contents.
  *
  * Each row hashes to 64 bits with `xxhash64` over `(isNull, value)` for
  * every column in name order — the NULL flag keeps `(NULL, 5)` and
  * `(5, NULL)` apart, which a bare `xxhash64` (it skips NULLs) does not. The
  * digest is the row count plus the exact sums of two independent row
  * hashes (xxhash64 and murmur3). Sums commute, so row order and
  * partitioning cannot change the digest; one changed cell changes a row
  * hash and with it the sums, and a duplicated row is counted twice (an XOR
  * would cancel it).
  */
object RowHash {

  private def cells(df: DataFrame): Seq[Column] =
    df.columns.sorted.toSeq.flatMap(c => Seq(col(s"`$c`").isNull, col(s"`$c`")))

  def of(df: DataFrame): String = {
    val cs = cells(df)
    val r = df
      .agg(
        count(lit(1)),
        coalesce(sum(xxhash64(cs: _*).cast("decimal(20,0)")), lit(0).cast("decimal(38,0)")),
        coalesce(sum(hash(cs: _*).cast("long")), lit(0L))
      )
      .head()
    s"${r.getLong(0)}:${r.getDecimal(1).toPlainString}:${r.getLong(2)}"
  }
}
