package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.metrics.Metrics
import graft.operators.Cep
import graft.streaming.StreamingJobs
import graft.table.{ExactlyOnceSink, GraftTable}

/** `cep_trickle`: open loop. A generator thread lands small pre-staged
  * parquet files in the watched directory by atomic rename, on a seeded
  * Poisson schedule that does not slow when the engine does; the `cep`
  * composition `Main --continuous` runs (1 s processing-time trigger,
  * eventsObserved + observeEvents, streamingCep, exactly-once sink) consumes
  * them. Small triggers make per-trigger driver work, listing, state commit
  * and commit metadata dominate. Event keys recur across files, and event
  * time runs far ahead of wall time (one file = two event-time minutes), so
  * watermark eviction runs within the run and state reaches a steady size.
  * The traced run adds the contiguous-layout check and the `SparkEntry`
  * query suite's layers ([[Queries.layers]]). */
object CepTrickle {

  /** Offered load: 10 files/s of 100 clips = 1000 clips/s, far below ingest
    * capacity. No rate keeps a trigger of this composition under Main's 1 s
    * interval: on a 4-vCPU host a trigger took 1.0-1.4 s at 100-400 clips
    * (offered 1 file/s) and 1.2-1.7 s at 700-2400 clips (10 files/s), state
    * commit ~0.6 s of it. So triggers run back to back, and freshness is the
    * wait for the running trigger plus the next one, not the 1 s grid. */
  val FilesPerSecond = 10
  val ClipsPerFile = 100
  val Keys = 1000
  /** File i covers event seconds [120 i, 120 i + 60). The pipeline moves A
    * events 60 s and B events 120 s later (rule ts_offset_s), so with
    * contiguous files (one event-time minute each) a B of file i can follow
    * an A of file i + 1 in event time; streaming CEP, which sees file i in an
    * earlier micro-batch, then disagrees with the batch detector (the order
    * dependence of the engine's streaming CEP). The 60 s gap keeps this
    * workload's input ordered, as `state.rows_dropped_late` = 0 presumes;
    * the traced run measures the contiguous layout too
    * (`cep.unordered_detection_diff`). */
  val EventSecondsPerFile = 120L
  val ClipSpanSeconds = 60L
  /** The traced run's contiguous-layout check: files, one per trigger. */
  val ContiguousFiles = 16
  /** Files landed to warm each set-up round's query (its first triggers). */
  val WarmFiles = 4
  /** Set-up rounds: the median is the second-slowest of four warm rounds. A
    * warm round's time follows the host's CPU steal: with two warm rounds,
    * `setup_s` spread 0.33 between quartiles over ten seeds on a shared
    * 4-vCPU VM, with four 0.23. */
  val SetupRounds = 5
  /** Landed files must be committed this long after the last arrival. */
  val DrainCapMs = 20000L
  val Trigger1s = "1 second"
  /** The file source's default admission, as `Main` sets it. */
  val MaxFilesPerTrigger = 32

  private val T0Seconds = 1704067200L // 2024-01-01, the fixture's epoch

  /** Stage `total` files of `ClipsPerFile` clips each, written directly.
    * Clip j of file i copies a seeded fixture clip under a seeded key
    * `k-<key>` (eventKey drops the last two '-' segments of the clip id);
    * file i starts at event second `i * secondsPerFile`. */
  def stage(spark: SparkSession, ctx: Ctx, dir: String, total: Int,
            secondsPerFile: Long = EventSecondsPerFile): (IndexedSeq[Path], StructType) = {
    val base = ClipFiles.fixture(spark, ctx.dataDir)
    val rnd = new scala.util.Random(ctx.seed)
    Files.createDirectories(java.nio.file.Paths.get(dir))
    val files = (0 until total).map { i =>
      val path = java.nio.file.Paths.get(dir, f"f-$i%06d.parquet")
      ClipFiles.write(path, (0 until ClipsPerFile).iterator.map { j =>
        val us = (T0Seconds + i * secondsPerFile) * 1000000L + j * ClipSpanSeconds * 1000000L / ClipsPerFile
        (s"k-${rnd.nextInt(Keys)}-f$i-$j", base(rnd.nextInt(base.length)), us)
      })
      path
    }
    (files, spark.read.parquet(files.head.toString).schema)
  }

  /** One `cep` composition over a fresh watched directory, started by `start`. */
  final class Stream(spark: SparkSession, ctx: Ctx, name: String, schema: StructType,
                     trigger: Trigger = Trigger.ProcessingTime(Trigger1s),
                     maxFilesPerTrigger: Int = MaxFilesPerTrigger) {
    val watched: Path = ctx.dir(s"watched-$name")
    val tableDir: String = ctx.dir(s"table-$name").toString
    val table = new GraftTable(tableDir)
    /** batchId -> wall ms at which its exactly-once commit returned. */
    val commitMs: mutable.Map[Long, Double] = mutable.Map.empty
    private val ckpt = ctx.dir(s"ckpt-$name").toString
    private val listener = new Metrics.Listener(persistRoot = Some(tableDir), jmxName = Some("graft-cep"))
    spark.streams.addListener(listener)
    private val sink = new ExactlyOnceSink(table)
    private val events = Metrics.observeEvents(StreamingJobs.eventsObserved(spark,
      spark.readStream.schema(schema).option("maxFilesPerTrigger", maxFilesPerTrigger)
        .parquet(watched.toString)))
    private val writer = StreamingJobs.streamingCep(spark, events).toDF()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch((df: DataFrame, id: Long) => {
        ctx.tracer.span(spark.sparkContext, "sink.write", attrs = Map("batch" -> id.toString)) { _ =>
          sink.write(df, id)
        }
        commitMs.synchronized { commitMs(id) = System.currentTimeMillis().toDouble }
        microBatchThread = Thread.currentThread().getId
      })
      .trigger(trigger)
    private var q: StreamingQuery = null
    /** The query's micro-batch thread, known once a batch has run. */
    @volatile var microBatchThread: Long = -1L

    def start(): Unit = q = writer.start()
    def query: StreamingQuery = q

    def land(src: Path, i: Int): Unit =
      Files.move(src, watched.resolve(f"t-$i%06d.parquet"), StandardCopyOption.ATOMIC_MOVE)

    /** Rows this query has committed so far. */
    def rowsIn(log: ProgressLog): Long = log.of(query.id).map(_.numInputRows).sum

    def stop(): Unit = {
      query.stop()
      spark.streams.removeListener(listener)
    }

    /** File name -> micro-batch that consumed it. The file source's log
      * numbers its own offsets, which no-data (watermark) batches do not
      * advance; each data batch's progress names the offset it read up to. */
    def fileBatches(log: ProgressLog): Map[String, Long] = {
      val offsetBatch = log.of(query.id).filter(_.numInputRows > 0).map { p =>
        """\d+""".r.findFirstIn(p.sources.head.endOffset).get.toLong -> p.batchId
      }.toMap
      sourceLog(ckpt).flatMap { case (f, o) => offsetBatch.get(o).map(f -> _) }
    }
  }

  /** File name -> file-source log offset, from a query's checkpoint. */
  def sourceLog(ckpt: String): Map[String, Long] = {
    val dir = java.nio.file.Paths.get(ckpt, "sources", "0")
    val entry = """"path":"([^"]+)".*"batchId":(\d+)""".r
    Files.list(dir).iterator().asScala.toSeq
      .filter(_.getFileName.toString.matches("""\d+(\.compact)?""")).flatMap { f =>
        Files.readAllLines(f).asScala.flatMap(l => entry.findFirstMatchIn(l).map { m =>
          m.group(1).substring(m.group(1).lastIndexOf('/') + 1) -> m.group(2).toLong
        })
      }.toMap
  }

  /** Polls `done` every 20 ms until it holds or `capMs` passes. */
  def await(capMs: Long)(done: => Boolean): Boolean = {
    val end = System.currentTimeMillis() + capMs
    while (!done && System.currentTimeMillis() < end) Thread.sleep(20)
    done
  }

  def run(ctx: Ctx): Unit = {
    val timed = FilesPerSecond * ctx.seconds
    val total = SetupRounds * WarmFiles + timed
    var round = 0
    var stream: Stream = null
    val warmLog = new ProgressLog
    val (spark, (files, schema)) = Harness.setup(ctx, SetupRounds) { spark =>
      stage(spark, ctx, ctx.work.resolve("staged").toString, total)
    } { case (spark, (files, schema)) =>
      // warm-up: WarmFiles files land, then the query starts; its first
      // trigger fires at start and takes them all. Set-up counts until that
      // trigger's commit returns, so the 1 s trigger grid and the polling
      // here do not enter it.
      spark.streams.addListener(warmLog)
      val t0 = System.currentTimeMillis()
      stream = new Stream(spark, ctx, s"r$round", schema)
      (0 until WarmFiles).foreach { k =>
        val i = round * WarmFiles + k
        stream.land(files(i), i)
      }
      stream.start()
      val ok = await(DrainCapMs)(stream.rowsIn(warmLog) >= WarmFiles * ClipsPerFile)
      val first = stream.commitMs.synchronized(stream.commitMs.get(0L))
      require(ok && first.isDefined, s"warm-up round $round did not commit")
      round += 1
      (first.get - t0) / 1000.0
    }
    val s = stream
    val log = warmLog // already registered on the last session
    val exec = new ExecListener(ctx.tracer)
    spark.sparkContext.addSparkListener(exec)
    val before = exec.totals
    val firstTimed = SetupRounds * WarmFiles

    // the open-loop generator
    val sched = Stats.poissonSchedule(ctx.seed, timed, ctx.seconds * 1000.0)
    val landed = new Array[Double](timed)
    val t0 = System.currentTimeMillis() + 100.0
    val (driver0, jvm0) = (Env.threadCpuNs(s.microBatchThread), Env.processCpuNs)
    val gen = new Thread(() => {
      var k = 0
      while (k < timed) {
        val wait = (t0 + sched(k) - System.currentTimeMillis()).toLong
        if (wait > 0) Thread.sleep(wait)
        s.land(files(firstTimed + k), firstTimed + k)
        landed(k) = System.currentTimeMillis().toDouble
        k += 1
      }
    }, "perfbench-generator")
    gen.setDaemon(true)
    gen.start()
    gen.join()
    val allRows = (WarmFiles + timed).toLong * ClipsPerFile
    val drained = await(DrainCapMs)(s.rowsIn(log) >= allRows)
    val (driver1, jvm1) = (Env.threadCpuNs(s.microBatchThread), Env.processCpuNs)
    val drainedAt = System.currentTimeMillis().toDouble
    s.stop()

    val fileBatch = s.fileBatches(log)
    val commits = s.commitMs.synchronized(s.commitMs.toMap)
    val committedAt: Seq[Option[Double]] = (0 until timed).map { k =>
      fileBatch.get(f"t-${firstTimed + k}%06d.parquet").flatMap(commits.get)
    }
    ctx.attempted += timed
    ctx.failed += committedAt.count(_.isEmpty)
    ctx.check("all_landed_files_committed", drained && committedAt.forall(_.isDefined))
    val fresh = (0 until timed).flatMap(k => committedAt(k).map(_ - (t0 + sched(k))))
    Harness.latency(ctx, fresh, "scheduled landing to exactly-once commit")
    if (fresh.nonEmpty) {
      ctx.layers("cep.fresh_p50_ms") = Stats.median(fresh)
      ctx.layers("cep.fresh_p95_ms") = Stats.tail(fresh)._2
      val span = committedAt.flatten.max - t0
      val clips = fresh.length.toDouble * ClipsPerFile
      ctx.e2e("work_per_s") = clips / (span / 1000.0)
      Harness.reportCpu(ctx, Harness.Cpu(exec.taskCpuNs(t0, drainedAt), driver1 - driver0, jvm1 - jvm0),
        clips / 1e3)
    }

    // output check: committed detections == the batch detector over the same events
    val committed = s.table.read(spark)
    val reference = Cep.detectBatch(StreamingJobs.events(spark, spark.read.parquet(s.watched.toString)))
    val (cn, ch) = Check.fingerprint(committed)
    val (rn, rh) = Check.fingerprint(reference)
    ctx.check("detections_equal_batch", cn == rn && ch == rh)
    if (cn != rn || ch != rh) ctx.facts("detections_diff") = Check.diff(committed, reference)
    ctx.layers("cep.detections") = cn.toDouble
    ctx.facts("detections") = cn.toString
    ctx.facts("reference_detections") = rn.toString
    ctx.facts("timed_files") = timed.toString
    ctx.facts("offered_clips_per_s") = (FilesPerSecond * ClipsPerFile).toString

    val ps = log.of(s.query.id).filter(_.numInputRows > 0)
    ctx.facts("trigger_ms") = ps.map(p => s"${p.numInputRows}:${Progress.dur(p, "triggerExecution").toLong}").mkString(" ")
    if (ctx.traced) {
      Harness.execShares(ctx, exec, before)
      Harness.enginePhases(ctx, ps)
      val ops = ps.flatMap(_.stateOperators.headOption)
      if (ops.nonEmpty) {
        def med(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
          Stats.median(ops.map(f))
        val late = ops.drop(ops.length / 2)
        ctx.layers("state.rows_total") = Stats.median(late.map(_.numRowsTotal.toDouble))
        ctx.layers("state.memory_bytes") = Stats.median(late.map(_.memoryUsedBytes.toDouble))
        ctx.layers("state.commit_ms") = med(_.commitTimeMs.toDouble)
        ctx.layers("state.update_ms") = med(_.allUpdatesTimeMs.toDouble)
        ctx.layers("state.removal_ms") = med(_.allRemovalsTimeMs.toDouble)
        ctx.layers("state.rows_dropped_late") = ops.map(_.numRowsDroppedByWatermark).sum.toDouble
      }
      val lags = ps.flatMap { p =>
        val et = p.eventTime
        for (mx <- Option(et.get("max")); wm <- Option(et.get("watermark")))
          yield (java.time.Instant.parse(mx).toEpochMilli - java.time.Instant.parse(wm).toEpochMilli).toDouble
      }
      if (lags.nonEmpty) ctx.layers("watermark.lag_ms") = Stats.median(lags)
      val skews = exec.stages.synchronized(exec.stages.toList).collect {
        case (_, true, n, ts) if n == ctx.cores && ts.size == n && Stats.median(ts.map(_.toDouble)) > 0 =>
          ts.max / Stats.median(ts.map(_.toDouble))
      }
      if (skews.nonEmpty) ctx.layers("exec.task_skew") = Stats.median(skews)
      ctx.layers("source.backlog_files_max") = Stats.backlogMax(landed.toSeq, committedAt).toDouble
      val n = math.max(1L, s.table.commitPhaseCount.get())
      Seq("write", "footers", "meta").foreach { k =>
        ctx.layers(s"sink.${k}_ms") = s.table.commitPhaseNanos.getOrElse(k, 0L) / 1e6 / n
      }
    }
    ctx.layers("gen.late_ms_max") = Stats.lateness(sched.map(_ + t0), landed.toSeq).max
    if (ctx.traced) {
      contiguous(spark, ctx)
      Queries.layers(spark, ctx, exec)
    }
    Harness.tracedCopies(ctx)
    spark.stop()
  }

  /** The contiguous layout (one event-time minute per file, no gap), one
    * file per trigger: streaming detections against the batch detector.
    * Reported, not checked: the disagreement is the streaming CEP's known
    * order dependence, not a fault of this run. */
  private def contiguous(spark: SparkSession, ctx: Ctx): Unit = {
    val (files, schema) = stage(spark, ctx, ctx.work.resolve("staged-contiguous").toString,
      ContiguousFiles, ClipSpanSeconds)
    val c = new Stream(spark, ctx, "contiguous", schema, Trigger.AvailableNow(), 1)
    files.zipWithIndex.foreach { case (f, i) => c.land(f, i) }
    c.start()
    c.query.awaitTermination()
    c.stop()
    val streamed = c.table.read(spark)
    val batch = Cep.detectBatch(StreamingJobs.events(spark, spark.read.parquet(c.watched.toString)))
    val cols = streamed.columns.sorted.map(org.apache.spark.sql.functions.col).toIndexedSeq
    val (x, y) = (streamed.select(cols: _*), batch.select(cols: _*))
    val diff = x.exceptAll(y).count() + y.exceptAll(x).count()
    ctx.layers("cep.unordered_detection_diff") = diff.toDouble
    ctx.facts("contiguous_detections") = s"streaming ${streamed.count()}, batch ${batch.count()}"
    if (diff > 0) ctx.facts("contiguous_diff") = Check.diff(streamed, batch)
  }
}
