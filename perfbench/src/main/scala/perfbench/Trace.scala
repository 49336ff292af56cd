package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import Stats.Span

/** In-memory span recorder. Spans are taken only in the benchmark's own
  * code, around its calls into the engine's layers, and written out once
  * the run ends. Times are nanoseconds on one clock: `System.nanoTime`,
  * with Spark's wall-clock milliseconds mapped onto it. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0L)
  private val recs = ArrayBuffer.empty[(Span, Map[String, String])]
  private val epochOffsetNs: Long = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def newId(): Long = ids.incrementAndGet()
  def wallMsToNs(ms: Long): Long = ms * 1000000L - epochOffsetNs

  def record(id: Long, parent: Long, name: String, startNs: Long, endNs: Long,
             attrs: Map[String, String] = Map.empty): Unit =
    if (enabled) recs.synchronized { recs += ((Span(id, parent, name, startNs, endNs), attrs)) }

  /** Time `body` as a span; jobs it submits on this thread link to it. */
  def span[T](sc: SparkContext, name: String, parent: Long = 0L,
              attrs: Map[String, String] = Map.empty)(body: Long => T): T = {
    val id = newId()
    val prev = sc.getLocalProperty(Tracer.SpanProp)
    sc.setLocalProperty(Tracer.SpanProp, id.toString)
    val t0 = System.nanoTime()
    try body(id)
    finally {
      record(id, parent, name, t0, System.nanoTime(), attrs)
      sc.setLocalProperty(Tracer.SpanProp, prev)
    }
  }

  def spans: Seq[(Span, Map[String, String])] = recs.synchronized(recs.toList)

  /** Spans as JSON lines, one span each. */
  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val lines = spans.map { case (s, a) =>
      val attrs = a.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"attrs":{${attrs.mkString(",")}}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
}

/** Spark jobs, stages and tasks as seen by a benchmark listener: executor
  * run, CPU and GC time, shuffle bytes, per-stage task times; each job is a
  * span linked to the benchmark span that submitted it. */
final class ExecListener(tracer: Tracer) extends SparkListener {
  private val runMs = new AtomicLong
  private val cpuNs = new AtomicLong
  private val gcMs = new AtomicLong
  private val shuffleBytes = new AtomicLong
  private val jobStart = TrieMap.empty[Int, (Long, Long)] // jobId -> (start ms, parent span)
  private val stageJob = TrieMap.empty[Int, Int]
  private val jobSpan = TrieMap.empty[Int, Long]
  private val taskMs = TrieMap.empty[(Int, Int), ArrayBuffer[Long]] // (stage, attempt) -> task ms
  /** Finished stages: (stage id, read shuffle, tasks, task times). */
  val stages: ArrayBuffer[(Int, Boolean, Int, Seq[Long])] = ArrayBuffer.empty
  /** Finished stages: (completion wall ms, executor CPU ns of their tasks). */
  private val stageCpu = ArrayBuffer.empty[(Long, Long)]

  /** Executor CPU nanoseconds of the stages that completed in (fromMs, toMs].
    * The listener bus reports stage ends asynchronously, so this first gives
    * it a moment to catch up. */
  def taskCpuNs(fromMs: Double, toMs: Double): Long = {
    Thread.sleep(200)
    stageCpu.synchronized(stageCpu.toList).collect { case (t, c) if t > fromMs && t <= toMs => c }.sum
  }

  def totals: (Long, Long, Long, Long) = (runMs.get, cpuNs.get, gcMs.get, shuffleBytes.get)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .flatMap(_.toLongOption).getOrElse(0L)
    jobStart(e.jobId) = (e.time, parent)
    jobSpan(e.jobId) = tracer.newId()
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStart.remove(e.jobId).foreach { case (t0, parent) =>
      tracer.record(jobSpan.getOrElse(e.jobId, tracer.newId()), parent, "spark.job",
        tracer.wallMsToNs(t0), tracer.wallMsToNs(e.time), Map("job" -> e.jobId.toString))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskInfo != null) {
      val buf = taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer.empty[Long])
      buf.synchronized { buf += e.taskInfo.duration }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val tm = si.taskMetrics
    if (tm != null) {
      runMs.addAndGet(tm.executorRunTime)
      cpuNs.addAndGet(tm.executorCpuTime)
      gcMs.addAndGet(tm.jvmGCTime)
      shuffleBytes.addAndGet(tm.shuffleWriteMetrics.bytesWritten)
    }
    for (done <- si.completionTime; m <- Option(tm))
      stageCpu.synchronized { stageCpu += ((done, m.executorCpuTime)) }
    val tasks = taskMs.remove((si.stageId, si.attemptNumber())).map(_.toList).getOrElse(Nil)
    val readsShuffle = tm != null && tm.shuffleReadMetrics.totalBytesRead > 0
    stages.synchronized { stages += ((si.stageId, readsShuffle, si.numTasks, tasks)) }
    for (sub <- si.submissionTime; done <- si.completionTime) {
      val parent = stageJob.get(si.stageId).flatMap(jobSpan.get).getOrElse(0L)
      tracer.record(tracer.newId(), parent, "spark.stage", tracer.wallMsToNs(sub),
        tracer.wallMsToNs(done), Map("stage" -> si.stageId.toString))
    }
  }
}

/** Every progress report of every streaming query, unbounded (the query's
  * own `recentProgress` is a ring buffer). */
final class ProgressLog extends StreamingQueryListener {
  private val buf = ArrayBuffer.empty[StreamingQueryProgress]
  def all: Seq[StreamingQueryProgress] = buf.synchronized(buf.toList)
  def of(id: java.util.UUID): Seq[StreamingQueryProgress] = all.filter(_.id == id)
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    buf.synchronized { buf += e.progress }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

object Progress {
  def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.longValue().toDouble).getOrElse(0.0)

  def startWallMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli
}

/** Minimal JSON writing (the benchmark emits flat objects only). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else java.math.BigDecimal.valueOf(v).toPlainString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
