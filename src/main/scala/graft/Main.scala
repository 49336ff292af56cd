package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import graft.audio.Rules
import graft.metrics.Metrics
import graft.streaming.StreamingJobs
import graft.table.{ExactlyOnceSink, GraftTable}

/** spark-submit entry point (SURVEY §7.2 job/): runs the streaming CEP
  * engine end-to-end — clip-table stream → normalize/classify/enrich →
  * exactly-once GraftTable sink with per-commit metrics — resumable from
  * checkpoint.
  *
  * Usage:
  *   spark-submit --class graft.Main <jar> \
  *     --input <clipTableDir> --output <graftTableRoot> \
  *     --checkpoint <dir> [--status-filter fail,error] \
  *     [--job events|pipeline|windows|sessions|cep|audioprep] \
  *     [--max-files-per-trigger 32] [--max-bytes-per-trigger N] \
  *     [--max-rows-per-trigger N  (graft-table inputs)] [--once] \
  *     [--partition-by codec[,col2]] \
  *     [--bloom-for clip_id[,col2]] [--bloom-ndv 100000]
  *       (per-file parquet bloom filters; the DML pruner consults them so
  *        a point-predicate takedown rewrites ~one file — see BloomPrune)
  *
  * Table maintenance (only --output needed):
  *   --job compact [--target-files 32]    small-file compaction
  *   --job vacuum  --keep-from <version>  snapshot retention
  *   --job describe                       table metadata as one JSON line
  *   --job delete  --where <predicate>    row-level copy-on-write delete
  *                                        (takedown path; stats-pruned
  *                                        file rewrite, see GraftTable.delete)
  *   --job update  --where <predicate> \
  *     --set "col=<sql expr>" [--set ...]  row-level copy-on-write update
  *   --job merge   --input <source dir> \
  *     --merge-keys k[,k...] --merge-batch-id <id>   key-matched upsert
  *                                        (update-else-insert, one commit,
  *                                        idempotent by --merge-batch-id)
  *                                        (redaction path; values cast to
  *                                        the column's declared type)
  *
  * Network egress (the exporter analog; composes with the pipeline jobs:
  * run a pipeline job into a table, then forward that table's change
  * stream into an existing collector mesh):
  *   --job forward --input <tableOrDir> --checkpoint <dir> \
  *     --egress host:port                 at-least-once JSON-lines forward
  *                                        (acked chunks, retry/backoff)
  *
  * The table is SINGLE-WRITER: maintenance jobs mutate table metadata,
  * so never run compact/vacuum concurrently with a live writer process —
  * pause the stream first, or call table.compact()/vacuum() on the
  * writer's own GraftTable INSTANCE (same-instance calls serialize on
  * the table monitor; a separate instance or process hits the advisory
  * lock). The lock guarantees operations never INTERLEAVE (no
  * corruption); whichever side collides with a held lock fails with a
  * clear error — with a live stream that can be the stream's next
  * commit, so pausing remains the operational rule. Concurrent READERS
  * are always safe — rewrites append, vacuum only removes versions
  * below the floor the operator chose.
  *
  * `--input` may be a plain parquet directory (Spark file source) or a
  * graft-table root (auto-detected via its VERSION file → V2 source with
  * manifest-exact offsets and the files/bytes/rows admission triple).
  *
  * Config validation mirrors the reference (C1, config.go): status_filter
  * values outside {pass,fail,error,skip} are rejected, case-sensitively.
  */
object Main {

  final case class Config(input: String = "", output: String = "",
                          checkpoint: String = "", statusFilter: Seq[String] = Nil,
                          maxFilesPerTrigger: Int = 32,
                          maxBytesPerTrigger: Option[Long] = None,
                          maxRowsPerTrigger: Option[Long] = None,
                          once: Boolean = true,
                          job: String = "events", rocksdb: Boolean = false,
                          enabled: Boolean = true, lineage: Boolean = false,
                          partitionBy: Seq[String] = Nil,
                          targetFiles: Int = 32, keepFrom: Option[Long] = None,
                          where: Option[String] = None,
                          egress: Option[String] = None,
                          sets: Seq[String] = Nil,
                          mergeKeys: Seq[String] = Nil,
                          mergeBatchId: Option[Long] = None,
                          bloomFor: Seq[String] = Nil,
                          bloomNdv: Long = 100000L)

  val ValidJobs: Set[String] =
    Set("events", "pipeline", "windows", "sessions", "cep", "audioprep",
      "compact", "vacuum", "describe", "delete", "update", "merge", "forward")

  /** Table-maintenance jobs: operate on --output only (no stream —
    * merge's `--input` is a static source batch, not a stream). */
  val MaintenanceJobs: Set[String] =
    Set("compact", "vacuum", "describe", "delete", "update", "merge")

  /** One parser for `--set "col=<sql expr>"`, shared by validation and
    * execution so they cannot drift: returns (trimmed column, expr text)
    * or None for malformed input (no '=', blank column, blank expr). */
  private[graft] def parseSet(sv: String): Option[(String, String)] = {
    val i = sv.indexOf('=')
    if (i <= 0) None
    else {
      val c = sv.take(i).trim
      val e = sv.drop(i + 1).trim
      if (c.isEmpty || e.isEmpty) None else Some((c, e))
    }
  }

  def parseArgs(args: Array[String]): Either[String, Config] = {
    def loop(rest: List[String], c: Config): Either[String, Config] = rest match {
      case Nil => Right(c)
      case "--input" :: v :: t => loop(t, c.copy(input = v))
      case "--output" :: v :: t => loop(t, c.copy(output = v))
      case "--checkpoint" :: v :: t => loop(t, c.copy(checkpoint = v))
      case "--status-filter" :: v :: t =>
        loop(t, c.copy(statusFilter = v.split(",").toSeq.filter(_.nonEmpty)))
      case "--max-files-per-trigger" :: v :: t => loop(t, c.copy(maxFilesPerTrigger = v.toInt))
      // memory_limiter analog (reference ocb/config.yaml:29-31): a BYTE
      // ceiling per micro-batch — file sizes vary ~100× after compaction
      case "--max-bytes-per-trigger" :: v :: t => loop(t, c.copy(maxBytesPerTrigger = Some(v.toLong)))
      // row ceiling per micro-batch — served from exact manifest counts;
      // graft-table inputs only (Spark's file source has no row limit)
      case "--max-rows-per-trigger" :: v :: t => loop(t, c.copy(maxRowsPerTrigger = Some(v.toLong)))
      case "--job" :: v :: t => loop(t, c.copy(job = v))
      case "--rocksdb" :: t => loop(t, c.copy(rocksdb = true))
      // reference `enabled: false` (config.go:8-25): identity pass-through
      case "--disabled" :: t => loop(t, c.copy(enabled = false))
      case "--lineage" :: t => loop(t, c.copy(lineage = true))
      // maintenance-job knobs: small-file compaction size / vacuum floor
      case "--target-files" :: v :: t => loop(t, c.copy(targetFiles = v.toInt))
      case "--keep-from" :: v :: t => loop(t, c.copy(keepFrom = Some(v.toLong)))
      // row-level delete/update predicate (SQL boolean expression)
      case "--where" :: v :: t => loop(t, c.copy(where = Some(v)))
      // row-level update assignment "col=<sql expr>" (repeatable)
      case "--set" :: v :: t => loop(t, c.copy(sets = c.sets :+ v))
      // network egress target for --job forward
      case "--egress" :: v :: t => loop(t, c.copy(egress = Some(v)))
      // upsert key columns + idempotence id for --job merge
      case "--merge-keys" :: v :: t =>
        loop(t, c.copy(mergeKeys = v.split(",").toSeq.map(_.trim).filter(_.nonEmpty)))
      case "--merge-batch-id" :: v :: t => loop(t, c.copy(mergeBatchId = Some(v.toLong)))
      // Hive-style directory layout on the sink table: value-pure files
      // enable exact partition pruning and shuffle-free storage-partitioned
      // aggregation/joins on these columns (low-cardinality columns only)
      case "--partition-by" :: v :: t =>
        loop(t, c.copy(partitionBy = v.split(",").toSeq.map(_.trim).filter(_.nonEmpty)))
      // per-file parquet bloom filters on the sink table: the DML pruner
      // consults them so a point-predicate takedown on a non-clustered id
      // rewrites ~one file instead of every file whose min/max spans it
      case "--bloom-for" :: v :: t =>
        loop(t, c.copy(bloomFor = v.split(",").toSeq.map(_.trim).filter(_.nonEmpty)))
      case "--bloom-ndv" :: v :: t => loop(t, c.copy(bloomNdv = v.toLong))
      case "--once" :: t => loop(t, c.copy(once = true))
      case "--continuous" :: t => loop(t, c.copy(once = false))
      case other :: _ => Left(s"unknown argument: $other")
    }
    // a malformed numeric value must produce the same "[graft] ..." + exit 2
    // as every other config error, not a raw NumberFormatException
    val parsed =
      try loop(args.toList, Config())
      catch { case e: NumberFormatException => Left(s"malformed number: ${e.getMessage}") }
    parsed.flatMap { c =>
      if (c.bloomNdv <= 0) Left("--bloom-ndv must be positive")
      else if (MaintenanceJobs.contains(c.job)) {
        if (c.output.isEmpty) Left(s"--output is required for --job ${c.job}")
        else if (c.job == "vacuum" && c.keepFrom.isEmpty)
          Left("--keep-from <version> is required for --job vacuum")
        else if ((c.job == "delete" || c.job == "update") && c.where.forall(_.trim.isEmpty))
          Left(s"--where <predicate> is required for --job ${c.job}")
        else if (c.job == "update" && c.sets.isEmpty)
          Left("at least one --set \"col=<sql expr>\" is required for --job update")
        else if (c.job == "update" && c.sets.exists(parseSet(_).isEmpty))
          Left("every --set must look like col=<sql expr>")
        else if (c.job == "update" && {
          val cols = c.sets.flatMap(parseSet).map(_._1)
          cols.distinct.size != cols.size
        })
          Left("duplicate --set for the same column (SQL UPDATE assigns each column once)")
        else if (c.job == "merge" && c.input.isEmpty)
          Left("--input <source parquet dir> is required for --job merge")
        else if (c.job == "merge" && c.mergeKeys.isEmpty)
          Left("--merge-keys col[,col...] is required for --job merge")
        else if (c.job == "merge" && c.mergeBatchId.isEmpty)
          Left("--merge-batch-id <id> is required for --job merge (the " +
            "idempotence key that makes a replayed merge a no-op)")
        else if (c.targetFiles <= 0) Left("--target-files must be positive")
        else Right(c)
      }
      else if (c.job == "forward") {
        // port parsed AND range-checked here — a 12-digit "port" passing a
        // \d+ regex would otherwise escape as a raw NumberFormatException
        // in main, and >65535 would throw per executor TASK at Socket
        // construction (an IllegalArgumentException the sender's
        // IOException retry never catches)
        val egressOk = c.egress.exists { hp =>
          graft.sources.Egress.isHttpUrl(hp) || {
            val i = hp.lastIndexOf(':')
            // only a "://" scheme separator marks a URL-not-host:port — a
            // plain hostname may legitimately start with "http" (e.g.
            // httpd-collector:4317)
            i > 0 && hp.substring(i + 1).toIntOption.exists(p => p >= 1 && p <= 65535) &&
              !hp.contains("://")
          }
        }
        if (c.input.isEmpty || c.checkpoint.isEmpty)
          Left("--input and --checkpoint are required for --job forward")
        else if (!egressOk)
          Left("--egress host:port or http(s)://url is required for --job forward (port 1-65535)")
        else Right(c)
      }
      else if (c.input.isEmpty || c.output.isEmpty || c.checkpoint.isEmpty)
        Left("--input, --output and --checkpoint are required")
      else if (!ValidJobs.contains(c.job))
        Left(s"invalid --job '${c.job}' (valid: ${ValidJobs.mkString(",")})")
      else Rules.validateStatusFilter(c.statusFilter).map(_ => c)
    }
  }

  def main(args: Array[String]): Unit = {
    val conf = parseArgs(args).fold(e => { System.err.println(s"[graft] $e"); sys.exit(2) }, identity)
    // upfront (C1): needs only the parsed config + a filesystem probe —
    // reject BEFORE the session starts or the sink touches the output
    if (conf.maxRowsPerTrigger.isDefined && !MaintenanceJobs.contains(conf.job) &&
        !GraftTable.isTableRoot(conf.input)) {
      System.err.println("[graft] --max-rows-per-trigger requires a graft-table " +
        "input (Spark's file source admits by files/bytes only)")
      sys.exit(2)
    }
    // a maintenance-op precondition failure (bad --keep-from, empty
    // table) must follow the same "[graft] ..." + exit 2 contract as any
    // other config error, not escape as a raw stack trace. NOTE: callers
    // must `return` from main AFTER a successful maintenance call — a
    // `return` inside this nested def would only exit the def itself.
    def maintenance(cleanup: () => Unit = () => ())(body: => Unit): Unit =
      try body
      catch {
        case e @ (_: IllegalArgumentException | _: IllegalStateException) =>
          System.err.println(s"[graft] ${e.getMessage}")
          cleanup()
          sys.exit(2)
      }
    // vacuum/describe are pure driver-side metadata work — no SparkSession
    if (conf.job == "vacuum") {
      maintenance() {
        // vacuum neither writes data nor consults blooms — no layout params
        val table = new GraftTable(conf.output)
        val deleted = table.vacuum(conf.keepFrom.get)
        println(s"""{"job":"vacuum","deleted_files":$deleted,"version":${table.version}}""")
      }
      return
    }
    if (conf.job == "describe") {
      maintenance() {
        // describe is read-only — it reports the current version's
        // metadata; constructor params would never be consulted
        val table = new GraftTable(conf.output)
        val files = table.manifestsUpTo(table.version).flatMap(table.manifestFiles)
        val meta = table.meta
        def arr(xs: Seq[String]) =
          xs.map(GraftTable.jsonString).mkString("[", ",", "]")
        val bloomCols = meta.map(_.bloomFor).getOrElse(Nil)
        // a bloom-less table reports ndv as null: it has no bloom layout
        val ndvJson = meta.filter(_.bloomFor.nonEmpty).map(_.bloomNdv.toString).getOrElse("null")
        println(s"""{"job":"describe","version":${table.version},""" +
          s""""rows":${files.map(_.rows).sum},"files":${files.size},""" +
          s""""bytes":${files.map(_.bytes).sum},""" +
          s""""partition_by":${arr(meta.map(_.partitionBy).getOrElse(Nil))},""" +
          s""""bloom_for":${arr(bloomCols)},"bloom_ndv":$ndvJson,""" +
          s""""schema":${meta.map(_.schema.json).getOrElse("null")}}""")
      }
      return
    }
    val builder0 = SparkSession.builder()
      .appName("graft-streaming-cep")
      .config("spark.sql.session.timeZone", "UTC")
      // MICROS over deprecated INT96: INT96 footers carry no usable
      // min/max, which disables GraftTable manifest stats / file pruning
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // At 10^12-clip scale CEP/join state outgrows executor heaps — RocksDB
    // state store spills to local disk with incremental checkpointing.
    val builder = if (conf.rocksdb)
      builder0.config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    else builder0
    // spark-submit injects spark.master; default to local when run directly
    val spark = (if (sys.props.contains("spark.master")) builder
      else builder.master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.AudioFunctions.register(spark)

    // table maintenance: no stream, no checkpoint — operate on --output
    // (vacuum already ran Spark-free before the session was built)
    if (conf.job == "compact") {
      maintenance(cleanup = () => spark.stop()) {
        val table = new GraftTable(conf.output,
          bloomFor = conf.bloomFor, bloomNdv = conf.bloomNdv)
        val v = table.compact(spark, conf.targetFiles)
        println(s"""{"job":"compact","new_version":$v,"files":${table.dataFiles.size}}""")
      }
      spark.stop()
      return
    }
    if (conf.job == "delete" || conf.job == "update") {
      maintenance(cleanup = () => spark.stop()) {
        val table = new GraftTable(conf.output,
          bloomFor = conf.bloomFor, bloomNdv = conf.bloomNdv)
        // parse/analysis failures follow the "[graft] ..." + exit 2
        // contract like any other bad config, not a raw stack trace
        val pred =
          try org.apache.spark.sql.functions.expr(conf.where.get)
          catch { case e: org.apache.spark.sql.catalyst.parser.ParseException =>
            throw new IllegalArgumentException(s"malformed --where: ${e.getMessage}") }
        val n =
          try {
            if (conf.job == "delete") table.delete(spark, pred)
            else {
              val setMap = conf.sets.flatMap(Main.parseSet).map { case (c, e) =>
                c -> org.apache.spark.sql.functions.expr(e)
              }.toMap
              table.update(spark, pred, setMap)
            }
          } catch {
            case e: org.apache.spark.sql.catalyst.parser.ParseException =>
              throw new IllegalArgumentException(s"malformed --set expression: ${e.getMessage}")
            case e: org.apache.spark.sql.AnalysisException =>
              throw new IllegalArgumentException(
                s"--where/--set does not resolve against the table: ${e.getMessage}")
            // ANSI runtime failures in the rewrite (e.g. a --set value
            // that cannot cast to the column's type) must land as the
            // "[graft] ..." + exit 2 contract, not a raw executor trace
            case e: org.apache.spark.SparkException =>
              throw new IllegalStateException(
                s"${conf.job} failed: ${Option(e.getCause).map(_.getMessage).getOrElse(e.getMessage)}")
          }
        val metric = if (conf.job == "delete") "rows_deleted" else "rows_updated"
        println(s"""{"job":"${conf.job}","$metric":$n,"new_version":${table.version}}""")
      }
      spark.stop()
      return
    }
    if (conf.job == "merge") {
      maintenance(cleanup = () => spark.stop()) {
        val table = new GraftTable(conf.output,
          bloomFor = conf.bloomFor, bloomNdv = conf.bloomNdv)
        val stats =
          try table.merge(spark, spark.read.parquet(conf.input),
            conf.mergeKeys, conf.mergeBatchId.get)
          catch {
            case e: org.apache.spark.sql.AnalysisException =>
              throw new IllegalArgumentException(
                s"merge source does not resolve: ${e.getMessage}")
            case e: org.apache.spark.SparkException =>
              throw new IllegalStateException(
                s"merge failed: ${Option(e.getCause).map(_.getMessage).getOrElse(e.getMessage)}")
          }
        println(s"""{"job":"merge","rows_updated":${stats.updated},"rows_inserted":${stats.inserted},"new_version":${table.version}}""")
      }
      spark.stop()
      return
    }

    // forward has NO output table: no per-commit metrics dir, no sink
    val listener = new Metrics.Listener(
      persistRoot = if (conf.job == "forward") None else Some(conf.output),
      jmxName = Some(s"graft-${conf.job}"))
    spark.streams.addListener(listener)
    lazy val table = new GraftTable(conf.output,
      bloomFor = conf.bloomFor, bloomNdv = conf.bloomNdv)

    // input auto-detection: a graft-table root streams through the V2
    // source — manifest-exact offsets plus the full files/bytes/ROWS
    // admission triple; a plain directory uses Spark's file source
    // (files/bytes budgets only)
    val clips =
      if (GraftTable.isTableRoot(conf.input))
        new GraftTable(conf.input).readStream(spark, conf.maxFilesPerTrigger,
          conf.maxBytesPerTrigger, conf.maxRowsPerTrigger)
      else {
        val schema = spark.read.parquet(conf.input).schema
        val reader = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", conf.maxFilesPerTrigger)
        conf.maxBytesPerTrigger.foreach(b => reader.option("maxBytesPerTrigger", b))
        reader.parquet(conf.input)
      }
    // exporter analog: forward the input's change stream to the mesh —
    // no table sink, no output; at-least-once via acked chunks + replay
    if (conf.job == "forward") {
      val hp = conf.egress.get
      val q =
        if (graft.sources.Egress.isHttpUrl(hp))
          graft.sources.Egress.forwardHttp(clips, hp, conf.checkpoint)
        else {
          val colon = hp.lastIndexOf(':')
          graft.sources.Egress.forward(clips, hp.substring(0, colon),
            hp.substring(colon + 1).toInt, conf.checkpoint)
        }
      if (conf.once) { q.processAllAvailable(); q.stop() } else q.awaitTermination()
      // NOT recentProgress.length: that is a ring buffer capped at ~100 —
      // lastProgress.batchId is the true (0-based) latest batch
      val batches = Option(q.lastProgress).map(_.batchId + 1).getOrElse(0L)
      println(s"""{"job":"forward","batches":$batches}""")
      spark.stop()
      return
    }

    val out =
      if (!conf.enabled) clips // reference enabled=false: identity pass-through
      else conf.job match {
        // the full reference pipeline incl. the R2 pass-through union —
        // streamable in append mode because the plan is map-only
        // (single scan, conditional explode; no join, no aggregation)
        case "pipeline" =>
          graft.operators.Pipeline.fullPipeline(spark, clips, conf.statusFilter)
        // training-corpus audio ingest: gate → normalize → features/tone/
        // segments, stateless map-only (append-mode streamable like the
        // pipeline job; no watermark needed)
        case "audioprep" =>
          StreamingJobs.audioPrep(spark, clips)
        case job =>
          val events = Metrics.observeEvents(
            StreamingJobs.eventsObserved(spark, clips, conf.statusFilter))
          job match {
            case "windows"  => StreamingJobs.windowedCounts(events)
            case "sessions" => StreamingJobs.sessionCounts(events)
            case "cep"      => StreamingJobs.streamingCep(spark, events).toDF()
            case _          => events
          }
      }

    // upfront config validation (the C1 convention: reject bad config
    // before the query starts, not at the first commit mid-stream) — the
    // partition columns apply to the JOB OUTPUT schema, known only here
    conf.partitionBy.foreach { c =>
      if (!out.schema.fieldNames.contains(c)) {
        System.err.println(s"[graft] --partition-by column '$c' not in the " +
          s"output schema of job '${conf.job}' (${out.schema.fieldNames.mkString(", ")})")
        sys.exit(2)
      }
    }
    val sink = new ExactlyOnceSink(table, lineage = conf.lineage,
      partitionBy = conf.partitionBy)

    val q = out.writeStream
      .option("checkpointLocation", conf.checkpoint)
      .foreachBatch(sink.write _)
      .trigger(if (conf.once) Trigger.AvailableNow() else Trigger.ProcessingTime("1 second"))
      .start()
    q.awaitTermination()
    println(s"""{"committed_batches":${table.committedBatchIds.size},"rows":${table.committedRows}}""")
    spark.stop()
  }
}
