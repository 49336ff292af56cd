package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Order-independent comparison of two relations. */
object Check {
  /** (row count, sum of per-row hashes mod a prime) over all columns as text. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val cols = df.columns.sorted.map(c => coalesce(col(c).cast("string"), lit("\u0000null")))
    val r = df.select(pmod(xxhash64(cols.toIndexedSeq: _*), lit(1000000007L)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Up to `n` rows on each side of a mismatch, for the log. */
  def diff(a: DataFrame, b: DataFrame, n: Int = 10): String = {
    val cols = a.columns.sorted.map(c => col(c).cast("string").as(c))
    val (x, y) = (a.select(cols.toIndexedSeq: _*), b.select(cols.toIndexedSeq: _*))
    s"only left: ${x.exceptAll(y).limit(n).collect().mkString(" ")}; " +
      s"only right: ${y.exceptAll(x).limit(n).collect().mkString(" ")}"
  }
}
