package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.functions._
import graft.audio.ClipTable
import graft.table.{ExactlyOnceSink, GraftTable}

/** `table_ops`: closed loop, one client, against a GraftTable built from many
  * exactly-once commits with `partitionBy` codec and `bloomFor` clip_id. The
  * client issues a seeded interleaving of point takedowns (delete by
  * clip_id), tenant redactions (update), small upserts (merge) and
  * time-travel point reads (readVersion at an earlier version): pruning,
  * copy-on-write rewrite and snapshot-chain walks, no streaming.
  * `BENCHMARK.json` does not list this workload; `ingest`'s traced run
  * measures the same operations ([[layers]]). */
object TableOps {

  /** 10k fixture clips x 2 replicas = 20k rows in 8 commits; commit k holds
    * tenants [19k, 19k + 19), so a redaction's tenant stats prune to one commit. */
  val Replicas = 2
  val Commits = 8
  val TenantsPerCommit = 19
  val MergeExisting = 4
  val MergeNew = 2
  val MergeIdBase = 1000000L
  val Redacted = "[redacted]"
  /** Blocks of one operation of each kind that [[layers]] times. */
  val LayerBlocks = 2

  sealed trait Op { def kind: String }
  final case class Delete(id: String) extends Op { val kind = "delete" }
  final case class Update(tenant: Long) extends Op { val kind = "update" }
  final case class Merge(n: Int, existing: Seq[String], fresh: Seq[(String, String)]) extends Op {
    val kind = "merge"
  }
  final case class TimeTravel(version: Long, id: String) extends Op { val kind = "timetravel" }
  val Kinds: Seq[String] = Seq("delete", "update", "merge", "timetravel")

  final case class State(table: GraftTable, staged: String, rows: Map[String, Row],
                         schema: StructType, rnd: Random, ops: ArrayBuffer[Op]) {
    val ids: IndexedSeq[String] = rows.keys.toIndexedSeq.sorted
  }

  def build(spark: SparkSession, ctx: Ctx): State = {
    val staged = ctx.work.resolve("table-staged").toString
    ClipTable.clips(spark, ctx.dataDir)
      .crossJoin(spark.range(Replicas.toLong).select(col("id").as("rep")))
      .withColumn("clip_id", concat(col("clip_id"), lit("-r"), col("rep")))
      .drop("rep")
      .write.parquet(staged)
    val all = spark.read.parquet(staged)
    val table = new GraftTable(ctx.dir("table-ops").toString, bloomFor = Seq("clip_id"))
    val sink = new ExactlyOnceSink(table, partitionBy = Seq("codec"))
    (0 until Commits).foreach { k =>
      val lo = k.toLong * TenantsPerCommit
      sink.write(all.filter(col("tenant_id") >= lo && col("tenant_id") < lo + TenantsPerCommit), k)
    }
    val rows = all.collect().map(r => r.getAs[String]("clip_id") -> r).toMap
    State(table, staged, rows, all.schema, new Random(ctx.seed), ArrayBuffer.empty)
  }

  /** The next operation of the seeded interleaving. */
  def next(s: State, kind: String): Op = {
    def anyId = s.ids(s.rnd.nextInt(s.ids.size))
    kind match {
      case "delete" => Delete(anyId)
      case "update" => Update(s.rnd.nextInt(Commits * TenantsPerCommit).toLong)
      case "merge" =>
        val n = s.ops.size
        val existing = Iterator.continually(anyId).distinct.take(MergeExisting).toSeq
        Merge(n, existing, (0 until MergeNew).map(j => s"new-$n-$j" -> anyId))
      case _ => TimeTravel(1L + s.rnd.nextInt(math.max(1, s.table.version.toInt - 1)), anyId)
    }
  }

  /** The merge source: existing rows re-stated, plus new keys cloned from a row. */
  def mergeSource(spark: SparkSession, s: State, m: Merge): DataFrame = {
    val (idAt, textAt) = (s.schema.fieldIndex("clip_id"), s.schema.fieldIndex("transcript"))
    val upd = m.existing.map(id => Row.fromSeq(s.rows(id).toSeq.updated(textAt, s"upserted ${m.n}")))
    val ins = m.fresh.map { case (id, from) => Row.fromSeq(s.rows(from).toSeq.updated(idAt, id)) }
    spark.createDataFrame(java.util.Arrays.asList(upd ++ ins: _*), s.schema)
  }

  /** Runs `op` on the table; returns the rows it affected. */
  def apply(spark: SparkSession, s: State, op: Op): Long = op match {
    case Delete(id) => s.table.delete(spark, col("clip_id") === id)
    case Update(t) => s.table.update(spark, col("tenant_id") === t, Map("transcript" -> lit(Redacted)))
    case m: Merge =>
      val st = s.table.merge(spark, mergeSource(spark, s, m),
        Seq("clip_id"), MergeIdBase + m.n)
      st.updated + st.inserted
    case TimeTravel(v, id) =>
      s.table.readVersion(spark, v).filter(col("clip_id") === id).collect().length.toLong
  }

  /** The same op sequence with plain DataFrame operations. */
  def reference(spark: SparkSession, s: State): DataFrame = {
    val staged = spark.read.parquet(s.staged)
    s.ops.zipWithIndex.foldLeft(staged) { case (ref, (op, i)) =>
      val next = op match {
        case Delete(id) => ref.filter(col("clip_id") =!= id)
        case Update(t) => ref.withColumn("transcript",
          when(col("tenant_id") === t, lit(Redacted)).otherwise(col("transcript")))
        case m: Merge =>
          val src = mergeSource(spark, s, m)
          ref.join(src.select("clip_id"), Seq("clip_id"), "left_anti").unionByName(src)
        case _: TimeTravel => ref
      }
      if (i % 8 == 7) next.localCheckpoint() else next
    }
  }

  /** Snapshot nodes a read of version `v` walks to reach a full checkpoint. */
  def chainLen(t: GraftTable, v: Long): Int = {
    var k = v
    var n = 1
    var done = false
    while (!done) {
      val node = new String(Files.readAllBytes(Paths.get(t.root, "snapshots", s"v$k.json")), "UTF-8")
      val parent = """"parent":(\d+)""".r.findFirstMatchIn(node).map(_.group(1).toLong)
      if (node.contains("\"manifests\"") || parent.forall(_ <= 0L)) done = true
      else { k = parent.get; n += 1 }
    }
    n
  }

  final case class Timed(op: Op, ms: Double, spanId: Long, rows: Long,
                         before: Map[String, Long], after: Map[String, Long])

  def files(t: GraftTable): Map[String, Long] =
    t.manifestsUpTo(t.version).flatMap(t.manifestFiles).map(f => f.path -> f.bytes).toMap

  /** One operation of each kind, untimed. */
  def warmUp(spark: SparkSession, s: State): Unit =
    Kinds.foreach { k =>
      val op = next(s, k)
      apply(spark, s, op)
      s.ops += op
    }

  /** Whole blocks of one op of each kind in seeded order (a fixed mix, a
    * seeded interleaving), at least `minBlocks`, until `deadlineNs`; returns
    * the ops that succeeded and the wall seconds spent. */
  def loop(spark: SparkSession, ctx: Ctx, s: State, deadlineNs: Long,
           minBlocks: Int = 1): (Seq[Timed], Double) = {
    val timed = ArrayBuffer.empty[Timed]
    val t0 = System.nanoTime()
    var blocks = 0
    while (blocks < minBlocks || System.nanoTime() < deadlineNs) {
      s.rnd.shuffle(Kinds).foreach { kind =>
        val op = next(s, kind)
        val before = if (ctx.traced) files(s.table) else Map.empty[String, Long]
        val started = System.nanoTime()
        val res = Harness.attempt(ctx, op.kind) {
          ctx.tracer.span(spark.sparkContext, s"table.${op.kind}") { id => (id, apply(spark, s, op)) }
        }
        val ms = (System.nanoTime() - started) / 1e6
        res.foreach { case (id, rows) =>
          s.ops += op
          timed += Timed(op, ms, id, rows, before, if (ctx.traced) files(s.table) else Map.empty)
        }
      }
      blocks += 1
    }
    (timed.toSeq, (System.nanoTime() - t0) / 1e9)
  }

  /** Per-kind latency layers; in a traced run also rewrite, pruning, driver
    * versus Spark time, chain length, and one compaction and vacuum. */
  def report(spark: SparkSession, ctx: Ctx, s: State, timed: Seq[Timed]): Unit = {
    val names = Map("delete" -> "takedown", "update" -> "redact", "merge" -> "upsert",
      "timetravel" -> "timetravel")
    Kinds.foreach { k =>
      val xs = timed.filter(_.op.kind == k).map(_.ms)
      ctx.facts(s"table_ops_$k") = xs.size.toString
      if (xs.nonEmpty) ctx.layers(s"table.${names(k)}_p50_ms") = Stats.median(xs)
    }
    if (ctx.traced) {
      val dml = timed.filter(t => t.op.kind != "timetravel")
      Seq("delete", "update", "merge").foreach { k =>
        val ts = dml.filter(_.op.kind == k)
        if (ts.nonEmpty) {
          ctx.layers(s"table.files_rewritten.$k") =
            Stats.median(ts.map(t => (t.before.keySet -- t.after.keySet).size.toDouble))
          val added = ts.map(t => (t.after -- t.before.keySet).values.sum.toDouble).sum
          ctx.layers(s"table.bytes_rewritten_per_row.$k") = added / math.max(1L, ts.map(_.rows).sum)
        }
      }
      if (dml.nonEmpty) ctx.layers("table.prune_ratio") = Stats.median(dml.map { t =>
        (t.before.keySet & t.after.keySet).size.toDouble / math.max(1, t.before.size)
      })
      val spans = ctx.tracer.spans.map(_._1)
      val split = timed.flatMap { t =>
        spans.find(_.id == t.spanId).map { op =>
          // the op's self time is driver work; the time its Spark jobs cover is Spark's
          val driver = Stats.selfTimeNs(op, spans) / 1e6
          (driver, op.durNs / 1e6 - driver)
        }
      }
      if (split.nonEmpty) {
        ctx.layers("table.driver_ms") = Stats.median(split.map(_._1))
        ctx.layers("table.spark_ms") = Stats.median(split.map(_._2))
      }
      val reads = timed.collect { case Timed(TimeTravel(v, _), _, _, _, _, _) => chainLen(s.table, v).toDouble }
      if (reads.nonEmpty) ctx.layers("table.chain_len") = Stats.median(reads)
      ctx.layers("table.compact_ms") = Harness.seconds(s.table.compact(spark, 8)) * 1000.0
      ctx.layers("table.vacuum_ms") = Harness.seconds(s.table.vacuum(s.table.version)) * 1000.0
    }
  }

  /** Output check: the final table equals the DataFrame replay of the ops. */
  def check(spark: SparkSession, ctx: Ctx, s: State): Unit = {
    val (tn, th) = Check.fingerprint(s.table.read(spark))
    val (rn, rh) = Check.fingerprint(reference(spark, s))
    ctx.check("table_equals_dataframe_replay", tn == rn && th == rh)
    ctx.facts("table_final_rows") = tn.toString
    ctx.facts("table_reference_rows") = rn.toString
    ctx.facts("table_ops_total") = s.ops.size.toString
    ctx.facts("table_version") = s.table.version.toString
  }

  /** The table layers inside another workload's traced run: a table built
    * as in set-up, one untimed block, then `LayerBlocks` timed blocks. */
  def layers(spark: SparkSession, ctx: Ctx): Unit = {
    val s = build(spark, ctx)
    warmUp(spark, s)
    val (timed, _) = loop(spark, ctx, s, 0L, LayerBlocks)
    report(spark, ctx, s, timed)
    check(spark, ctx, s)
  }

  def run(ctx: Ctx): Unit = {
    val (spark, s) = Harness.setup(ctx)(spark => build(spark, ctx)) { (spark, s) =>
      Harness.seconds(warmUp(spark, s))
    }
    val exec = new ExecListener(ctx.tracer)
    spark.sparkContext.addSparkListener(exec)
    val before = exec.totals
    val ((timed, elapsed), cpu) = Harness.cpuWindow(exec) {
      loop(spark, ctx, s, System.nanoTime() + ctx.seconds * 1000000000L)
    }
    if (timed.nonEmpty) {
      ctx.e2e("work_per_s") = timed.size / elapsed
      Harness.reportCpu(ctx, cpu, timed.size)
    }
    Harness.latency(ctx, timed.map(_.ms), "one table operation")
    if (ctx.traced) Harness.execShares(ctx, exec, before)
    report(spark, ctx, s, timed)
    check(spark, ctx, s)
    Harness.tracedCopies(ctx)
    spark.stop()
  }
}
