package perfbench

import scala.util.Random
import org.apache.spark.sql.SparkSession
import graft.SparkEntry
import graft.operators.Dedup

/** `queries`: a fixed suite of `SparkEntry` queries, one per operator
  * module, in a seeded order per pass. Each query is timed with
  * `queryExecution.toRdd.count()` (every output column materializes; a
  * `df.count()` would let Catalyst prune the computed columns), with
  * `System.gc()` and `Dedup.releaseCaches()` between queries, and its row
  * count checked against the DuckDB oracle's count stored beside the
  * benchmark (`perfbench/oracle_counts.tsv`, from `SparkEntry.oracleSql`).
  * `BENCHMARK.json` does not list this workload; `cep_trickle`'s traced run
  * measures the same suite ([[layers]]). */
object Queries {

  /** query -> operator module (the `queries.<module>_s` layer it reports to). */
  val Suite: Seq[(String, String)] = Seq(
    "full_pipeline" -> "pipeline",
    "mm_audio_features" -> "audio",
    "dedup_minhash_lsh" -> "dedup",
    "sim_ivf_bucket" -> "similarity",
    "txt_quality" -> "text",
    "w_tumbling_salted" -> "windows",
    "cep_sequence" -> "cep_join")

  val Modules: Seq[String] = Suite.map(_._2).distinct

  def oracleCounts(ctx: Ctx): Map[String, Long] = {
    val f = ctx.root.resolve("perfbench").resolve("oracle_counts.tsv")
    val src = scala.io.Source.fromFile(f.toFile, "UTF-8")
    val counts = try src.getLines().filterNot(l => l.isEmpty || l.startsWith("#"))
      .map(_.split("\t")).map(a => a(0) -> a(1).toLong).toMap
    finally src.close()
    val missing = Suite.map(_._1).filterNot(n => counts.contains(n) && SparkEntry.queries.contains(n))
    require(missing.isEmpty, s"no oracle count or query for: ${missing.mkString(", ")}")
    counts
  }

  /** Time one query; None when it throws or its row count is wrong. */
  def timeQuery(spark: SparkSession, ctx: Ctx, name: String, expected: Long): Option[Double] = {
    System.gc()
    val q = SparkEntry.queries(name)
    val t0 = System.nanoTime()
    val rows = Harness.attempt(ctx, name) {
      try ctx.tracer.span(spark.sparkContext, s"query.$name") { _ =>
        q(spark, ctx.dataDir).queryExecution.toRdd.count()
      } finally Dedup.releaseCaches()
    }
    val s = (System.nanoTime() - t0) / 1e9
    rows.flatMap { n =>
      if (n == expected) Some(s)
      else {
        ctx.failed += 1
        System.err.println(s"[perfbench] $name: $n rows, oracle says $expected")
        None
      }
    }
  }

  /** Whole passes of the suite in seeded order, at least one, until
    * `deadlineNs`; each pass maps query -> seconds for the queries that
    * passed. Checks that every query matched the oracle. */
  def passes(spark: SparkSession, ctx: Ctx, oracle: Map[String, Long], rnd: Random,
             deadlineNs: Long): Seq[Map[String, Double]] = {
    val failedBefore = ctx.failed
    val out = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    while (out.isEmpty || System.nanoTime() < deadlineNs) {
      val order = rnd.shuffle(Suite)
      ctx.facts(s"pass${out.size}_order") = order.map(_._1).mkString(",")
      out += order.flatMap { case (n, _) => timeQuery(spark, ctx, n, oracle(n)).map(n -> _) }.toMap
    }
    ctx.check("every_query_matches_oracle", ctx.failed == failedBefore)
    ctx.facts("passes") = out.size.toString
    ctx.facts("query_modules") = Suite.map { case (q, m) => s"$q:$m" }.mkString(",")
    out.toSeq
  }

  /** Per-module medians over the complete passes, as `queries.*` layers;
    * returns the median suite time. */
  def report(ctx: Ctx, ps: Seq[Map[String, Double]]): Option[Double] = {
    val complete = ps.filter(_.size == Suite.size)
    if (complete.isEmpty) None
    else {
      val suite = Stats.median(complete.map(_.values.sum))
      ctx.layers("queries.suite_s") = suite
      Modules.foreach { m =>
        val qs = Suite.filter(_._2 == m).map(_._1)
        ctx.layers(s"queries.${m}_s") = Stats.median(complete.map(p => qs.map(p).sum))
      }
      Some(suite)
    }
  }

  /** The suite's layers inside another workload's traced run: one untimed
    * pass, then one timed pass, with executor shares over the timed pass. */
  def layers(spark: SparkSession, ctx: Ctx, exec: ExecListener): Unit = {
    val oracle = oracleCounts(ctx)
    val rnd = new Random(ctx.seed)
    Suite.foreach { case (n, _) => timeQuery(spark, ctx, n, oracle(n)) }
    val before = exec.totals
    report(ctx, passes(spark, ctx, oracle, rnd, 0L))
    Harness.execShares(ctx, exec, before, "queries")
  }

  def run(ctx: Ctx): Unit = {
    val oracle = oracleCounts(ctx)
    val rnd = new Random(ctx.seed)
    // set-up: a session, then the first (cold) query of the suite
    val (spark, _) = Harness.setup(ctx)(_ => ()) { (spark, _) =>
      Harness.seconds(timeQuery(spark, ctx, Suite.head._1, oracle(Suite.head._1)))
    }
    val exec = new ExecListener(ctx.tracer)
    spark.sparkContext.addSparkListener(exec)
    // one untimed pass finishes the warm-up; then whole passes until the budget is spent
    rnd.shuffle(Suite).foreach { case (n, _) => timeQuery(spark, ctx, n, oracle(n)) }
    val before = exec.totals
    val (ps, cpu) = Harness.cpuWindow(exec) {
      passes(spark, ctx, oracle, rnd, System.nanoTime() + ctx.seconds * 1000000000L)
    }
    report(ctx, ps).foreach { suite =>
      ctx.e2e("work_per_s") = Suite.size / suite
      Harness.reportCpu(ctx, cpu, ps.map(_.size).sum)
    }
    Harness.latency(ctx, ps.flatMap(_.values).map(_ * 1000.0), "one query")
    if (ctx.traced) {
      Harness.execShares(ctx, exec, before)
      Harness.execShares(ctx, exec, before, "queries")
    }
    Harness.tracedCopies(ctx)
    spark.stop()
  }
}
