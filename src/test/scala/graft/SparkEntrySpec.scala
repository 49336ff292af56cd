package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import org.apache.spark.sql.functions.{col, lit, timestamp_seconds}
import org.scalatest.funsuite.AnyFunSuite

/** Entry-point robustness: building a [[SparkEntry]] query never fails on
  * input it only probes to choose a plan. */
class SparkEntrySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** An sf directory whose `events.parquet` is a directory holding one
    * valid events file (500 rows, one row group), plus `extra` files. */
  private def sfDir(extra: (String, Array[Byte])*): String = {
    val sf = Files.createTempDirectory("graft_sf")
    val events = sf.resolve("events.parquet")
    spark.range(500).select(col("id").as("event_id"),
        timestamp_seconds(lit(1758267062L) + col("id")).as("ts"), (col("id") % 13).as("user_id"))
      .coalesce(1).write.parquet(events.toString)
    extra.foreach { case (name, bytes) => Files.write(events.resolve(name), bytes) }
    sf.toString
  }

  test("spread probe: a corrupt file next to a valid one plans, runs and returns the valid rows") {
    val conf = spark.conf
    // the session tolerates corrupt files in its scan and schema read; the
    // footer probe that picks the plan must not be stricter than that
    val keys = Seq("spark.sql.files.ignoreCorruptFiles", "spark.sql.parquet.mergeSchema")
    val saved = keys.map(k => k -> conf.getOption(k))
    keys.foreach(conf.set(_, "true"))
    try {
      val q = SparkEntry.queries("f2_status_filter")
      val expected = q(spark, sfDir())
      val got = q(spark, sfDir(
        "part-1.parquet" -> "not a parquet file".getBytes(StandardCharsets.UTF_8)))
      val n = expected.count()
      assert(n > 0)
      assert(got.count() == n)
      assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
