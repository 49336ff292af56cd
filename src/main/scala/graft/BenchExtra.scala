package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Extra benchmark main for guide §1.4-style isolation — NOT the driver's
  * harness (Bench.scala is frozen for measurement; this main exists so
  * optimization work can time queries solo, repeat them, and dump
  * `.explain("formatted")` without touching the canonical artifact).
  *
  * Methodology matches Bench part 1 exactly: same session config, same
  * `queryExecution.toRdd.count()` action (every output column materializes,
  * nothing collects to the driver), same per-query cache release.
  *
  * Usage: runMain graft.BenchExtra [repeats] [name ...]
  *   (a non-numeric first argument is a query name; repeats is then 1)
  *   SPARK_GRAFT_SF_DIR      data dir (default /root/testdata/sf0.1)
  *   SPARK_GRAFT_CPUS        local[N] width (default 32)
  *   SPARK_GRAFT_EXPLAIN_DIR if set, run each query once untimed and write
  *                           <dir>/<name>.txt, its formatted final plan
  * With no names, runs every SparkEntry query (sorted, like Bench).
  * Prints one JSON line {"queries_extra":{name:[s,...]}} — a failed
  * iteration is `null`, never its truncated time — and never writes
  * BENCH.json.
  */
object BenchExtra {

  /** (repeats, query names) from the command line: a numeric first
    * argument is the repeat count (≥ 1), anything else starts the name
    * list with repeats = 1. No names ⇒ every SparkEntry query, sorted. */
  def parseArgs(args: Seq[String], allNames: Seq[String]): (Int, Seq[String]) = {
    val (repeats, names) = args.headOption.flatMap(_.toIntOption) match {
      case Some(n) =>
        require(n >= 1, s"repeats must be at least 1, got $n")
        (n, args.tail)
      case None => (1, args)
    }
    (repeats, if (names.nonEmpty) names else allNames.sorted)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val (repeats, names) = parseArgs(args.toSeq, SparkEntry.queries.keys.toSeq)
    val explainDir = sys.env.get("SPARK_GRAFT_EXPLAIN_DIR")
    explainDir.foreach(d => Files.createDirectories(Paths.get(d)))

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-bench-extra-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Locale.ROOT formatting throughout: the f-interpolator uses the JVM
    // default locale, and a comma-decimal locale would print unparseable
    // JSON ("1,234") — machine-readable output must be locale-stable.
    def fmt(t: Option[Double]): String =
      t.fold("null")(v => String.format(java.util.Locale.ROOT, "%.3f", Double.box(v)))
    val failed = scala.collection.mutable.ListBuffer[String]()
    val out = names.map { name =>
      val fn = SparkEntry.queries(name)
      explainDir.foreach { d =>
        // an adaptive plan shows its final stages (WholeStageCodegen ids
        // included) only once it has run
        val df = fn(spark, sfDir)
        df.queryExecution.toRdd.count()
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(Paths.get(d, s"$name.txt"), plan.getBytes("UTF-8"))
        graft.operators.Dedup.releaseCaches()
      }
      val ts = (1 to repeats).map { _ =>
        spark.sparkContext.setJobDescription(s"bench-extra: $name")
        val t0 = System.nanoTime()
        // a failed query must NOT masquerade as a fast one: record it,
        // time it as null, and surface the failure in both stderr and the
        // JSON (unlike the frozen Bench, this diagnostic main can afford
        // to be loud)
        try {
          fn(spark, sfDir).queryExecution.toRdd.count()
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          failed += name
          System.err.println(s"[bench-extra] $name FAILED: ${e.getMessage}")
          None
        } finally graft.operators.Dedup.releaseCaches()
      }
      System.err.println(s"[bench-extra] ${name.padTo(28, ' ')} ${ts.map(fmt).mkString(" ")}")
      name -> ts
    }
    val json = out.map { case (k, ts) =>
      "\"" + k + "\":[" + ts.map(fmt).mkString(",") + "]"
    }.mkString("{\"queries_extra\":{", ",",
      s"""},"failed":[${failed.distinct.map("\"" + _ + "\"").mkString(",")}],"sf":"$sfDir","cpus":$cpus}""")
    println(json)
    spark.stop()
  }
}
