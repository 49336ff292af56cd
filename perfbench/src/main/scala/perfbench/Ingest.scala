package perfbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.StructType
import graft.metrics.Metrics
import graft.operators.Pipeline
import graft.streaming.StreamingJobs
import graft.table.{ExactlyOnceSink, GraftTable}

/** `ingest`: closed-loop drain of a staged clip backlog through the `events`
  * composition `Main` builds (eventsObserved + observeEvents, Metrics.Listener)
  * into the exactly-once sink, at full width. Large triggers amortize the
  * per-trigger driver work, so the pipeline and parquet encode/write
  * dominate; no state, no audio kernels. The traced run adds the
  * nested-sink ladder and the GraftTable operations' layers
  * ([[TableOps.layers]]). */
object Ingest {

  /** 48 files of 5k clips (half the fixture each) = 240k staged clips, more
    * than a 10 s run drains; 4 files per trigger = 20k clips, one task per core. */
  val Files = 48
  val FilesPerTrigger = 4
  /** Data triggers per ladder rung (the first is left out as warm-up), at
    * nproc cores and at one core; a rung also stops after `RungCapS`. */
  val RungTriggersWide = 4
  val RungTriggersNarrow = 3
  val RungCapS = 12

  /** One rung of the nested-sink ladder; each adds one layer to the previous.
    * `metric` prefixes the rung's per-layer metric names. */
  sealed abstract class Rung(val name: String, val metric: String)
  case object RawNoop extends Rung("source", "source.")
  case object EventsNoop extends Rung("pipeline", "pipeline.")
  case object PlainParquet extends Rung("encode", "sink.encode_")
  case object FullSink extends Rung("commit", "sink.commit_")
  val Ladder: Seq[Rung] = Seq(RawNoop, EventsNoop, PlainParquet, FullSink)

  final case class Staged(dir: String, schema: StructType, clips: Long)

  /** Stage the backlog: file i holds the fixture clips of event_id parity
    * i % 2 under a seeded replica suffix naming i. eventKey drops the last two
    * '-' segments, so keys stay one per source clip (high cardinality), as
    * the engine's own bench stages them. */
  def stage(spark: SparkSession, ctx: Ctx, dir: String): Staged = {
    val tag = java.lang.Long.toHexString(new scala.util.Random(ctx.seed).nextLong() & 0xffffffL)
    val base = ClipFiles.fixture(spark, ctx.dataDir)
    val halves = base.partition(_.getLong(7) % 2 == 0)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.util.stream.IntStream.range(0, Files).parallel().forEach { i =>
      val half = if (i % 2 == 0) halves._1 else halves._2
      ClipFiles.write(java.nio.file.Paths.get(dir, f"part-$i%05d.parquet"), half.iterator.map { b =>
        (s"${b.getString(0)}-r${i}x$tag-p0", b, ClipFiles.micros(b.get(5)))
      })
    }
    val staged = spark.read.parquet(dir)
    Staged(dir, staged.schema, (0 until Files).map(i => if (i % 2 == 0) halves._1.size else halves._2.size).sum.toLong)
  }

  /** The reference: the batch pipeline's event count over staged `files`,
    * every output column materialized. */
  def batchEvents(spark: SparkSession, s: Staged, files: Seq[String]): Long =
    Pipeline.events(spark, spark.read.schema(s.schema).parquet(files.map(f => s"${s.dir}/$f"): _*))
      .queryExecution.toRdd.count()

  /** The first `n` files of `s` copied into a new directory (a warm-up backlog). */
  def subset(ctx: Ctx, s: Staged, name: String, n: Int): String = {
    val out = ctx.dir(name)
    val files = java.nio.file.Files.list(java.nio.file.Paths.get(s.dir)).toArray
      .map(_.asInstanceOf[java.nio.file.Path]).filter(_.getFileName.toString.endsWith(".parquet"))
      .sortBy(_.getFileName.toString).take(n)
    files.foreach(f => java.nio.file.Files.copy(f, out.resolve(f.getFileName)))
    out.toString
  }

  /** When a full-sink batch's commit returned: wall ms, CPU ns of the
    * micro-batch thread, CPU ns of the JVM. */
  final case class BatchEnd(wallMs: Long, driverNs: Long, jvmNs: Long)

  final case class Drain(progress: Seq[StreamingQueryProgress], table: Option[GraftTable],
                         phases: Map[String, Long], commits: Long, dirs: Seq[String],
                         checkpoint: String, ends: Map[Long, BatchEnd]) {
    def delete(): Unit = dirs.foreach(d => Env.deleteTree(java.nio.file.Paths.get(d)))

    /** Staged files read by batches 0..`batch`: the checkpoint's offset log
      * names the file-source log offset each batch read up to. */
    def filesThrough(batch: Long): Seq[String] = {
      val offsets = java.nio.file.Paths.get(checkpoint, "offsets", batch.toString)
      val upTo = java.nio.file.Files.readAllLines(offsets).asScala.reverse
        .flatMap(l => """"logOffset":(\d+)""".r.findFirstMatchIn(l)).head.group(1).toLong
      CepTrickle.sourceLog(checkpoint).collect { case (f, o) if o <= upTo => f }.toSeq
    }
  }

  /** When a drain stops: the backlog is empty (AvailableNow), or, with the
    * default back-to-back trigger, the deadline passed or `triggers` data
    * triggers completed. */
  sealed trait Until
  case object Backlog extends Until
  final case class Deadline(ns: Long, triggers: Int = Int.MaxValue) extends Until

  /** One drain of `input` through `rung`, fresh checkpoint and table. */
  def drain(spark: SparkSession, ctx: Ctx, log: ProgressLog, input: String, schema: StructType,
            filesPerTrigger: Int, rung: Rung, n: Int, until: Until): Drain = {
    val tag = s"${rung.name}-$n-${System.nanoTime()}"
    val ckpt = ctx.dir(s"ckpt-$tag").toString
    val tableDir = ctx.dir(s"table-$tag").toString
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger).parquet(input)
    def events: DataFrame = Metrics.observeEvents(StreamingJobs.eventsObserved(spark, stream))
    val table = new GraftTable(tableDir)
    val listener = new Metrics.Listener(persistRoot = Some(tableDir), jmxName = Some("graft-events"))
    val ends = scala.collection.concurrent.TrieMap.empty[Long, BatchEnd]
    val writer = rung match {
      case RawNoop => stream.writeStream.format("noop")
      case EventsNoop => events.writeStream.format("noop")
      case PlainParquet => events.writeStream.foreachBatch((df: DataFrame, id: Long) =>
        df.write.mode("overwrite").parquet(s"$tableDir/data/batch=$id"))
      case FullSink =>
        spark.streams.addListener(listener)
        val sink = new ExactlyOnceSink(table)
        events.writeStream.foreachBatch { (df: DataFrame, id: Long) =>
          ctx.tracer.span(spark.sparkContext, "sink.write", attrs = Map("batch" -> id.toString)) { _ =>
            sink.write(df, id)
          }
          ends(id) = BatchEnd(System.currentTimeMillis(), Env.threadCpuNs, Env.processCpuNs)
        }
    }
    val q = until match {
      case Backlog =>
        val q = writer.option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        q
      case Deadline(end, triggers) =>
        val q = writer.option("checkpointLocation", ckpt).start()
        while (System.nanoTime() < end && q.isActive &&
          log.of(q.id).count(_.numInputRows > 0) < triggers) Thread.sleep(20)
        q.stop()
        q
    }
    if (rung == FullSink) spark.streams.removeListener(listener)
    val ps = log.of(q.id).filter(_.numInputRows > 0)
    ps.foreach { p =>
      val t0 = ctx.tracer.wallMsToNs(Progress.startWallMs(p))
      ctx.tracer.record(ctx.tracer.newId(), 0L, s"trigger.${rung.name}", t0,
        t0 + (Progress.dur(p, "triggerExecution") * 1e6).toLong, Map("batch" -> p.batchId.toString))
    }
    Drain(ps, if (rung == FullSink) Some(table) else None,
      table.commitPhaseNanos.toMap, table.commitPhaseCount.get(), Seq(ckpt, tableDir), ckpt, ends.toMap)
  }

  /** Triggers after the first of each drain: the first pays codegen and cache warm-up. */
  def steady(d: Drain): Seq[StreamingQueryProgress] = d.progress.drop(1)

  def msPerMclip(ds: Seq[Drain]): Double = {
    val ps = ds.flatMap(steady)
    ps.map(Progress.dur(_, "triggerExecution")).sum / ps.map(_.numInputRows.toDouble).sum * 1e6
  }

  def run(ctx: Ctx): Unit = {
    val (spark0, staged) = Harness.setup(ctx) { spark =>
      stage(spark, ctx, ctx.work.resolve("staged").toString)
    } { (spark, s) =>
      // warm-up: the first trigger of the full composition, at the measured trigger size
      val warmDir = subset(ctx, s, s"warm-${System.nanoTime()}", FilesPerTrigger)
      Harness.seconds(drain(spark, ctx, new ProgressLog, warmDir, s.schema, FilesPerTrigger, FullSink, -1,
        Backlog).delete())
    }
    var spark = spark0
    val log = new ProgressLog
    spark.streams.addListener(log)
    val exec = new ExecListener(ctx.tracer)
    spark.sparkContext.addSparkListener(exec)
    val before = exec.totals
    ctx.facts("staged_clips") = staged.clips.toString
    ctx.facts("staged_files") = Files.toString
    ctx.facts("files_per_trigger") = FilesPerTrigger.toString

    // measurement: one query committing back-to-back triggers until the time budget is spent
    val d = Harness.attempt(ctx, "ingest") {
      drain(spark, ctx, log, staged.dir, staged.schema, FilesPerTrigger, FullSink, 0,
        Deadline(System.nanoTime() + ctx.seconds * 1000000000L))
    }
    val drains = d.toSeq
    d.foreach { d =>
      val t = d.table.get
      val ids = t.committedBatchIds
      val manifests = t.manifestsUpTo(t.version)
      ctx.check("batch_ids_distinct_and_contiguous",
        ids.size == manifests.size && ids == (0L until ids.size.toLong).toSet &&
          d.progress.map(_.batchId).toSet.subsetOf(ids))
      val read = d.filesThrough(ids.max)
      val reference = batchEvents(spark, staged, read)
      ctx.check("rows_equal_batch_pipeline", t.committedRows == reference)
      ctx.facts("committed_rows") = t.committedRows.toString
      ctx.facts("reference_rows") = reference.toString
      val clips = read.size.toDouble * staged.clips / Files
      ctx.facts("clips_committed") = clips.toLong.toString
      if (ctx.traced) {
        val files = manifests.flatMap(t.manifestFiles)
        ctx.layers("sink.bytes_per_clip") = files.map(_.bytes).sum / clips
        ctx.layers("sink.files_per_commit") = files.size.toDouble / manifests.size
        ctx.layers("pipeline.events_per_clip") = t.committedRows / clips
      }
      d.delete()
    }
    val ps = drains.flatMap(steady)
    if (ps.nonEmpty) {
      val clips = ps.map(_.numInputRows.toDouble).sum
      val rate = clips / ps.map(Progress.dur(_, "triggerExecution")).sum * 1000.0
      // CPU over the steady triggers: from the first trigger's commit to the last one's
      for (d <- drains.headOption; a <- d.ends.get(d.progress.head.batchId); b <- d.ends.get(ps.last.batchId))
        Harness.reportCpu(ctx, Harness.Cpu(exec.taskCpuNs(a.wallMs, b.wallMs), b.driverNs - a.driverNs,
          b.jvmNs - a.jvmNs), clips / 1e3)
      ctx.e2e("work_per_s") = rate
      ctx.layers("ingest.clips_per_s") = rate
      Harness.latency(ctx, ps.map(Progress.dur(_, "triggerExecution")), "steady trigger")
    }
    ctx.facts("trigger_ms") = drains.flatMap(_.progress).map(p =>
      s"${p.numInputRows}:${p.durationMs}").mkString(" ")
    ctx.facts("steady_triggers") = ps.size.toString

    if (ctx.traced) {
      Harness.execShares(ctx, exec, before)
      Harness.enginePhases(ctx, ps)
      val commits = drains.map(_.commits).sum.toDouble
      Seq("write", "footers", "meta").foreach { k =>
        ctx.layers(s"sink.${k}_ms") = drains.map(_.phases.getOrElse(k, 0L)).sum / 1e6 / commits
      }
      spark = ladder(ctx, spark, staged, msPerMclip(drains))
      // the GraftTable operations' layers, on the session the ladder leaves
      spark.sparkContext.addSparkListener(new ExecListener(ctx.tracer))
      TableOps.layers(spark, ctx)
    }
    Harness.tracedCopies(ctx)
    spark.stop()
  }

  /** The nested-sink ladder at nproc and at 1 core over the staged backlog,
    * in the measurement's trigger mode (default back-to-back trigger,
    * `FilesPerTrigger` files each): rung differences split a trigger into
    * source, pipeline, encode and commit, which fuse into one codegen stage
    * and so cannot be spanned. The rung self times sum to the full-sink
    * rung's time; `ladder.self_sum_ratio` compares that sum with the
    * measurement's own steady full-sink trigger time (`measuredMsPerMclip`). */
  private def ladder(ctx: Ctx, spark0: SparkSession, staged: Staged, measuredMsPerMclip: Double): SparkSession = {
    def rungTimes(spark: SparkSession, triggers: Int, tag: String): Seq[Double] = {
      val log = new ProgressLog
      spark.streams.addListener(log)
      // the JIT is warm from the measurement; each rung's first trigger is left out
      Ladder.zipWithIndex.map { case (r, i) =>
        val d = drain(spark, ctx, log, staged.dir, staged.schema, FilesPerTrigger, r, 1001 + i,
          Deadline(System.nanoTime() + RungCapS * 1000000000L, triggers))
        d.delete()
        ctx.facts(s"ladder_steady_triggers_${tag}_${r.name}") = steady(d).size.toString
        msPerMclip(Seq(d))
      }
    }
    val wide = rungTimes(spark0, RungTriggersWide, "wide")
    spark0.stop()
    val one = Env.session(1, ctx.work)
    val narrow = rungTimes(one, RungTriggersNarrow, "1t")
    one.stop()
    // self time of rung k = its time minus the rung it extends
    def selfs(t: Seq[Double]): Seq[Double] = t.head +: t.zip(t.tail).map { case (a, b) => b - a }
    val (sw, sn) = (selfs(wide), selfs(narrow))
    Ladder.zip(sw.zip(sn)).foreach { case (r, (w, s)) =>
      ctx.layers(s"${r.metric}ms_per_mclip") = w
      ctx.layers(s"${r.metric}eff_1_4") = if (w > 0) s / w / ctx.cores else 0.0
    }
    ctx.layers("ladder.self_sum_ratio") = sw.sum / measuredMsPerMclip
    ctx.layers("ingest.clips_per_s_1t") = 1e9 / narrow.last
    ctx.layers("ingest.scale_eff_1_4") = narrow.last / wide.last / ctx.cores
    ctx.facts("ladder_ms_per_mclip_wide") = wide.map(v => f"$v%.1f").mkString(",")
    ctx.facts("ladder_ms_per_mclip_1t") = narrow.map(v => f"$v%.1f").mkString(",")
    ctx.facts("measured_ms_per_mclip") = f"$measuredMsPerMclip%.1f"
    Env.session(ctx.cores, ctx.work)
  }
}
