package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import org.apache.spark.sql.functions.{col, lit, timestamp_seconds}
import org.scalatest.funsuite.AnyFunSuite

/** Entry-point plan choice: building a [[SparkEntry]] query never fails on
  * input it only probes, and `spread` adds its exchange exactly when the
  * input has fewer data units (files, else row groups) than the session's
  * parallelism. */
class SparkEntrySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** An sf directory whose `events.parquet` is a directory holding
    * `files` valid events files (`rows` rows in all, written with the
    * parquet writer `options`), plus `extra` files. */
  private def sfDir(files: Int = 1, rows: Int = 500, options: Map[String, String] = Map.empty,
                    extra: Seq[(String, Array[Byte])] = Nil): String = {
    val sf = Files.createTempDirectory("graft_sf")
    val events = sf.resolve("events.parquet")
    spark.range(rows).select(col("id").as("event_id"),
        timestamp_seconds(lit(1758267062L) + col("id")).as("ts"), (col("id") % 13).as("user_id"))
      .repartition(files).write.options(options).parquet(events.toString)
    extra.foreach { case (name, bytes) => Files.write(events.resolve(name), bytes) }
    sf.toString
  }

  /** Row groups per data file of an sf directory's events input. */
  private def rowGroups(sf: String): Seq[Int] = {
    val conf = spark.sessionState.newHadoopConf()
    spark.read.parquet(s"$sf/events.parquet").inputFiles.toSeq.map { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f), conf))
      try reader.getRowGroups.size() finally reader.close()
    }
  }

  private def plan(sf: String): String =
    SparkEntry.queries("f2_status_filter")(spark, sf).queryExecution.executedPlan.toString

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
      val got = q(spark, sfDir(extra = Seq(
        "part-1.parquet" -> "not a parquet file".getBytes(StandardCharsets.UTF_8))))
      val n = expected.count()
      assert(n > 0)
      assert(got.count() == n)
      assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("spread: no exchange when the input has enough files or row groups, a hash repartition when not") {
    val want = spark.sparkContext.defaultParallelism
    // map-only query: any Exchange in its plan is spread's
    val manyFiles = sfDir(files = want + 1)
    assert(rowGroups(manyFiles).size >= want)
    val filesPlan = plan(manyFiles)
    assert(!filesPlan.contains("Exchange"), s"$want+ files already spread the scan:\n$filesPlan")
    // one file, many row groups: a tiny row-group budget flushes one
    // every 100 rows (parquet's minimum size-check interval)
    val manyGroups = sfDir(rows = 2000, options = Map("parquet.block.size" -> "1024"))
    val groups = rowGroups(manyGroups)
    assert(groups.size == 1 && groups.head >= want,
      s"fixture should be one file of >= $want row groups: $groups")
    val groupsPlan = plan(manyGroups)
    assert(!groupsPlan.contains("Exchange"), s"$want+ row groups already spread the scan:\n$groupsPlan")
    // the inverse: one file, one row group plans one task — spread it
    val single = sfDir()
    assert(rowGroups(single) == Seq(1))
    val singlePlan = plan(single)
    assert(s"Exchange hashpartitioning\\(clip_id#\\d+, $want\\)".r.findFirstIn(singlePlan).isDefined,
      s"a single-row-group input must be hash-repartitioned on the row id " +
        s"into $want partitions:\n$singlePlan")
  }
}
