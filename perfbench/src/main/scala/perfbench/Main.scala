package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Everything a workload needs: its arguments, directories and the tracer. */
final class Ctx(val workload: String, val seed: Long, val seconds: Int, val traced: Boolean,
                val root: Path, val work: Path) {
  /** Inputs every workload derives from: the fixture tables shipped with the benchmark. */
  val dataDir: String = root.resolve("perfbench").resolve("data").toString
  val tracer = new Tracer(traced)
  val cores: Int = Env.cores

  // outcome, filled in by the workload
  var attempted = 0L
  var failed = 0L
  private val checks = mutable.LinkedHashMap.empty[String, Boolean]
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val facts = mutable.LinkedHashMap.empty[String, String]

  /** An output check: counted as one attempted operation, failed if false. */
  def check(name: String, ok: Boolean): Unit = {
    checks(name) = ok
    attempted += 1
    if (!ok) failed += 1
    println(s"[perfbench] check $name: ${if (ok) "ok" else "FAILED"}")
  }
  def correct: Boolean = checks.nonEmpty && checks.values.forall(identity)
  def checkJson: String = Json.obj(checks.toSeq.map { case (k, v) => k -> v.toString })

  def dir(name: String): Path = Files.createDirectories(work.resolve(name))
}

object Main {

  val Workloads: Map[String, Ctx => Unit] = Map(
    "ingest" -> Ingest.run,
    "cep_trickle" -> CepTrickle.run,
    "table_ops" -> TableOps.run,
    "queries" -> Queries.run)

  private def usage(msg: String): Nothing = {
    System.err.println(s"[perfbench] $msg")
    System.err.println("usage: perfbench.Main --workload <" + Workloads.keys.toSeq.sorted.mkString("|") +
      "> --seed <n> --seconds <n> --trace <0|1> --root <checkout> --out <result.json>")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => usage(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, usage(s"--$k is required"))
    val workload = need("workload")
    val run = Workloads.getOrElse(workload, usage(s"unknown workload $workload"))
    val seed = need("seed").toLongOption.getOrElse(usage("--seed must be an integer"))
    val seconds = need("seconds").toIntOption.filter(_ > 0).getOrElse(usage("--seconds must be positive"))
    val traced = need("trace") match {
      case "0" => false
      case "1" => true
      case t => usage(s"--trace must be 0 or 1, not $t")
    }
    val root = Paths.get(need("root")).toAbsolutePath.normalize
    val out = Paths.get(need("out")).toAbsolutePath
    val work = root.resolve(".bench_build").resolve("work").resolve(s"$workload-${ProcessHandle.current.pid}")
    Env.deleteTree(work)
    Files.createDirectories(work)

    val ctx = new Ctx(workload, seed, seconds, traced, root, work)
    val loadBefore = Env.loadAvg
    val (steal0, total0) = Env.cpuJiffies
    try run(ctx)
    finally {
      val (steal1, total1) = Env.cpuJiffies
      ctx.facts("load_avg_before") = f"$loadBefore%.2f"
      ctx.facts("load_avg_after") = f"${Env.loadAvg}%.2f"
      ctx.facts("host_steal_share") = f"${(steal1 - steal0).toDouble / math.max(1L, total1 - total0)}%.3f"
      Env.deleteTree(work)
    }
    ctx.layers("jvm.peak_rss_mb") = Env.peakRssMb

    // run.py projects these onto the metric names and units BENCHMARK.json lists
    def nums(m: scala.collection.Map[String, Double]) =
      Json.obj(m.toSeq.map { case (k, v) => k -> Json.num(v) })
    val result = Json.obj(Seq(
      "correct" -> ctx.correct.toString,
      "attempted" -> math.max(1L, ctx.attempted).toString,
      "failed" -> ctx.failed.toString,
      "end_to_end" -> nums(ctx.e2e),
      "per_layer" -> nums(ctx.layers)))
    val details = Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString, "seconds" -> seconds.toString,
      "traced" -> traced.toString, "checks" -> ctx.checkJson,
      "facts" -> Json.obj(ctx.facts.toSeq.map { case (k, v) => k -> Json.str(v) })))
    val stem = out.getFileName.toString.stripSuffix(".json")
    Files.write(out.resolveSibling(s"$stem.details.json"), details.getBytes("UTF-8"))
    if (traced) ctx.tracer.writeJsonLines(out.resolveSibling(s"$stem.spans.jsonl"))
    Files.write(out, result.getBytes("UTF-8"))
    println(s"[perfbench] details: $details")
    println(s"[perfbench] result: $result")
  }
}
