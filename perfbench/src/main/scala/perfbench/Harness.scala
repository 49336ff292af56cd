package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Set-up and reporting shared by the workloads. */
object Harness {

  /** Set-up rounds per run; `setup_s` is their median. The first round
    * pays the cold JVM, so the median is the slower of two warm rounds. */
  val SetupRounds = 3

  /** The end-to-end cost metric: CPU milliseconds the engine spends per unit
    * of work (1000 clips committed, one table operation, one query). */
  val CpuMetric = "cpu_ms_per_unit"

  /** CPU of one measured window: executor task CPU of the Spark stages that
    * completed in it, CPU of the driver thread that ran the work (a
    * streaming query's micro-batch thread, or the client thread), and the
    * whole JVM's. */
  final case class Cpu(taskNs: Long, driverNs: Long, jvmNs: Long)

  /** Reports a window's CPU per `units` units of work. The end-to-end metric
    * is task plus driver-thread CPU: the engine's own work, without the
    * JVM's JIT compiler and GC threads, whose share moves from run to run. */
  def reportCpu(ctx: Ctx, c: Cpu, units: Double): Unit = {
    ctx.e2e(CpuMetric) = (c.taskNs + c.driverNs) / 1e6 / units
    ctx.layers("exec.task_cpu_ms_per_unit") = c.taskNs / 1e6 / units
    ctx.layers("engine.driver_cpu_ms_per_unit") = c.driverNs / 1e6 / units
    ctx.layers("jvm.cpu_ms_per_unit") = c.jvmNs / 1e6 / units
  }

  /** Runs `body` on this (the client) thread and returns its result with the
    * window's CPU. */
  def cpuWindow[T](exec: ExecListener)(body: => T): (T, Cpu) = {
    val (w0, d0, j0) = (System.currentTimeMillis(), Env.threadCpuNs, Env.processCpuNs)
    val r = body
    val (w1, d1, j1) = (System.currentTimeMillis(), Env.threadCpuNs, Env.processCpuNs)
    (r, Cpu(exec.taskCpuNs(w0, w1), d1 - d0, j1 - j0))
  }

  /** Builds a session `rounds` times and warms it with `warm`, which
    * returns the seconds of its work that count as set-up (see [[seconds]]);
    * input generation (`gen`, first round only) is timed apart as
    * `gen.stage_s`. Returns the last round's session, left running for the
    * measurement. */
  def setup[G](ctx: Ctx, rounds: Int = SetupRounds)(gen: SparkSession => G)(
      warm: (SparkSession, G) => Double): (SparkSession, G) = {
    val times = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var g: Option[G] = None
    for (_ <- 1 to rounds) {
      if (spark != null) {
        spark.streams.active.foreach(_.stop())
        spark.stop()
      }
      val t0 = System.nanoTime()
      spark = Env.session(ctx.cores, ctx.work)
      val session = (System.nanoTime() - t0) / 1e9
      if (g.isEmpty) {
        val t1 = System.nanoTime()
        g = Some(gen(spark))
        ctx.layers("gen.stage_s") = (System.nanoTime() - t1) / 1e9
      }
      times += session + warm(spark, g.get)
    }
    ctx.e2e("setup_s") = Stats.median(times.toSeq)
    ctx.facts ++= Env.facts(spark)
    ctx.facts("setup_rounds_s") = times.map(v => f"$v%.3f").mkString(",")
    (spark, g.get)
  }

  /** Wall seconds `body` takes. */
  def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Median and tail of the workload's latency sample, recorded beside the
    * metrics: on a shared host wall-clock latency swings too far between runs
    * to carry a regression bound. */
  def latency(ctx: Ctx, samplesMs: Seq[Double], what: String): Unit =
    if (samplesMs.nonEmpty) {
      val (p, t) = Stats.tail(samplesMs)
      ctx.facts("latency_of") = what
      ctx.facts("latency_p50_ms") = f"${Stats.median(samplesMs)}%.1f"
      ctx.facts("latency_tail_ms") = f"$t%.1f"
      ctx.facts("latency_tail_percentile") = p.toString
      ctx.facts("latency_samples") = samplesMs.length.toString
    }

  /** In a traced run, the end-to-end metrics as measured under tracing. */
  def tracedCopies(ctx: Ctx): Unit =
    if (ctx.traced) Seq("work_per_s", CpuMetric).foreach { k =>
      ctx.e2e.get(k).foreach(v => ctx.layers(s"traced.$k") = v)
    }

  /** Executor CPU/GC shares and shuffle bytes since `before`. */
  def execShares(ctx: Ctx, exec: ExecListener, before: (Long, Long, Long, Long),
                 prefix: String = "exec"): Unit = {
    val (r1, c1, g1, s1) = exec.totals
    val run = (r1 - before._1).toDouble
    if (run > 0) {
      ctx.layers(s"$prefix.cpu_share") = (c1 - before._2) / 1e6 / run
      ctx.layers(s"$prefix.gc_share") = (g1 - before._3) / run
    }
    ctx.layers(s"$prefix.shuffle_bytes") = (s1 - before._4).toDouble
  }

  /** Per-trigger engine phases (medians over `ps`). */
  def enginePhases(ctx: Ctx, ps: Seq[StreamingQueryProgress]): Unit =
    if (ps.nonEmpty) {
      def med(f: StreamingQueryProgress => Double) = Stats.median(ps.map(f))
      ctx.layers("engine.trigger_ms_p50") = med(Progress.dur(_, "triggerExecution"))
      ctx.layers("engine.driver_serial_ms") =
        med(p => Progress.dur(p, "triggerExecution") - Progress.dur(p, "addBatch"))
      ctx.layers("engine.planning_ms") = med(Progress.dur(_, "queryPlanning"))
      ctx.layers("engine.latest_offset_ms") = med(Progress.dur(_, "latestOffset"))
      ctx.layers("engine.wal_ms") = med(Progress.dur(_, "walCommit"))
    }

  /** Runs `op`, counting it attempted and, when it throws, failed; a failed
    * operation yields None and so never contributes a timing. */
  def attempt[T](ctx: Ctx, what: String)(op: => T): Option[T] = {
    ctx.attempted += 1
    try Some(op)
    catch {
      case e: Exception =>
        ctx.failed += 1
        System.err.println(s"[perfbench] $what failed: $e")
        None
    }
  }
}
