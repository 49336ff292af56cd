package graft

import org.apache.spark.sql.catalyst.expressions.{LambdaFunction, MakeInterval}
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions.{broadcast, col, count, lit, max, min}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{IntervalJoin, Pipeline, Windows}
import graft.audio.ClipTable

/** Plan-shape regressions: the physical plans the engine RELIES on for
  * scale must not silently degrade (a broadcast flipping to a shuffle, a
  * partial aggregate disappearing, a projection stopping column pruning).
  * String-matching executed plans is blunt but catches exactly the
  * regressions that matter at 100 TB. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val sf = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** The rule-match kernel's plan shape: the rule set is folded into the
    * plan, so there is one source scan, no join against the rules, no
    * exchange, and no JSON decode of the static payloads. */
  private def assertKernelPlan(plan: String): Unit = {
    assert("FileScan|BatchScan".r.findAllIn(plan).size == 1,
      s"expected exactly one source scan:\n$plan")
    assert(!plan.contains("Join"), s"unexpected join in the events plan:\n$plan")
    assert(!plan.contains("Exchange"), s"unexpected exchange in the map-only plan:\n$plan")
    assert("(?i)from_json|parse_?json|JsonToStructs".r.findFirstIn(plan).isEmpty,
      s"the static rule payloads must not be JSON-decoded per row:\n$plan")
  }

  /** The match kernel compiles: the explode runs inside a WholeStageCodegen
    * stage (a lambda, being interpreted, would keep the Generate out), and
    * the plan holds no lambda and no `make_interval` (the offset is a
    * `timestamp_add`). */
  private def assertCodegenKernel(plan: SparkPlan): Unit = {
    val generates = plan.collect { case g: GenerateExec => g }
    val compiled = plan.collect { case w: WholeStageCodegenExec => w.child.collect { case g: GenerateExec => g } }.flatten
    assert(generates.nonEmpty && compiled.size == generates.size,
      s"the Generate must sit inside WholeStageCodegen:\n$plan")
    val exprs = plan.collect { case p => p.expressions }.flatten
    assert(!exprs.exists(_.exists(_.isInstanceOf[LambdaFunction])), s"lambda in the events plan:\n$plan")
    assert(!exprs.exists(_.exists(_.isInstanceOf[MakeInterval])), s"make_interval in the events plan:\n$plan")
  }

  test("events pipeline: single scan, no join, no exchange, no JSON decode") {
    Seq(Nil, Seq("fail")).foreach { allowed =>
      val plan = Pipeline.events(spark, ClipTable.clips(spark, sf), allowed).queryExecution.executedPlan
      assertKernelPlan(plan.toString)
      assertCodegenKernel(plan)
    }
  }

  test("streaming eventsObserved: single scan, no join, no exchange, no JSON decode") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val ms = MemoryStream[Clip]
    val q = graft.streaming.StreamingJobs.eventsObserved(s, ms.toDF())
      .writeStream.format("memory").queryName("plan_events_observed").start()
    try {
      ms.addData(Clip("clip-t0-s0-0000000001", 16000, 500, "wav", "login ok user 4",
        java.sql.Timestamp.valueOf("2025-09-19 10:00:00"), 7L, 1L))
      q.processAllAvailable()
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
      assertKernelPlan(plan.toString)
      assertCodegenKernel(plan)
    } finally q.stop()
  }

  test("events pipeline: column pruning reaches the parquet scan") {
    val plan = planOf(Pipeline.events(spark, ClipTable.clips(spark, sf)))
    // the clip derivation needs only these three source columns
    assert(plan.contains("ReadSchema: struct<event_id:bigint,ts:timestamp_ntz,user_id:bigint>"),
      s"scan reads more than the 3 needed columns:\n$plan")
  }

  test("full pipeline (R2 union): SINGLE scan, map-only — no join, no exchange") {
    val plan = planOf(Pipeline.fullPipeline(spark, ClipTable.clips(spark, sf)))
    assert("parquet".r.findAllIn(plan).size >= 1 &&
      "FileScan|BatchScan".r.findAllIn(plan).size == 1,
      s"expected exactly one source scan:\n$plan")
    assert(!plan.contains("Join"), s"unexpected join in the pass-through union:\n$plan")
    assert(!plan.contains("Exchange"), s"unexpected exchange in the map-only plan:\n$plan")
  }

  test("a1 counters: single scan + partial/final agg, no join, no wide exchange") {
    val plan = planOf(Pipeline.counters(spark, ClipTable.clips(spark, sf)))
    assert("FileScan|BatchScan".r.findAllIn(plan).size == 1,
      s"expected exactly one source scan:\n$plan")
    assert(!plan.contains("Join"), s"unexpected join-back in counters:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"wide exchange in a partial-aggregable counter:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"missing map-side partial aggregate:\n$plan")
  }

  test("SHIPPED full_pipeline: single scan, no join, only the spread exchange") {
    // the Pipeline-level pins above prove the operator itself is map-only;
    // this pins the plan the bench/driver actually runs (SparkEntry adds
    // the scale-adaptive spread — at most ONE metadata repartition, and
    // nothing else may creep in)
    val plan = planOf(graft.SparkEntry.queries("full_pipeline")(spark, sf))
    assert("FileScan|BatchScan".r.findAllIn(plan).size == 1,
      s"expected exactly one source scan:\n$plan")
    assert(!plan.contains("Join"), s"unexpected join in the shipped pipeline:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 1,
      s"more than the one spread exchange in the shipped map-only plan:\n$plan")
  }

  test("SHIPPED a1_counters: single scan, no join, spread + ONE agg split") {
    val plan = planOf(graft.SparkEntry.queries("a1_counters")(spark, sf))
    assert("FileScan|BatchScan".r.findAllIn(plan).size == 1,
      s"expected exactly one source scan:\n$plan")
    assert(!plan.contains("Join"), s"unexpected join-back in shipped counters:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"missing map-side partial aggregate:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 1,
      s"only the spread repartition may hash-exchange (the agg split is single-partition):\n$plan")
  }

  test("dedup_audio_fp: single scan, partial+final agg, ONE narrow-key exchange") {
    val plan = planOf(graft.SparkEntry.queries("dedup_audio_fp")(spark, sf))
    assert("FileScan|BatchScan".r.findAllIn(plan).size == 1,
      s"expected exactly one source scan:\n$plan")
    assert(!plan.contains("Join"), s"fingerprint clustering must not join:\n$plan")
    // map-side combine collapses each partition to ≤80 fingerprint rows
    // BEFORE the one hash exchange — the shape that survives 10^12 clips.
    // HashAggregate specifically: min(event_id) keeps the buffer
    // fixed-width (a min(clip_id) string buffer would silently fall back
    // to SortAggregate and pay a per-partition sort of every input row)
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"missing map-side partial HASH aggregate:\n$plan")
    assert(!plan.contains("SortAggregate"),
      s"string agg buffer degraded the plan to SortAggregate:\n$plan")
    // exactly one exchange on the FINGERPRINT key (the partial/final agg
    // split); the r6 scale-adaptive spread adds at most one extra
    // REPARTITION_BY_NUM exchange of small metadata rows below the synth
    // (only when the scan is narrower than the session parallelism — a
    // no-op at real scale), so pin the agg exchange by its key instead of
    // a bare count
    assert("Exchange hashpartitioning\\(fp_hz".r.findAllIn(plan).size == 1,
      s"expected exactly one exchange on the fingerprint key:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 2,
      s"unexpected extra exchanges in the fingerprint plan:\n$plan")
  }

  test("tumbling window: partial+final hash aggregation") {
    val plan = planOf(Windows.tumbling(Pipeline.events(spark, ClipTable.clips(spark, sf))))
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"missing partial/final agg split:\n$plan")
  }

  test("interval join: small activation side is broadcast, filters pushed") {
    val plan = planOf(IntervalJoin.join(
      Pipeline.events(spark, ClipTable.clips(spark, sf)),
      IntervalJoin.activations(spark, sf)))
    assert(plan.contains("BroadcastHashJoin"))
    assert(plan.contains("PushedFilters: [IsNotNull("),
      s"no pushed filters on the activation scan:\n$plan")
  }

  test("interval join un-hinted: bucketed-key hash join, never a nested loop") {
    // Force the over-threshold path (maxBroadcastBytes = 0): the plan must
    // fall back to an equi-join on (rule_id, _tb) — a shuffle/sort-merge
    // hash join — never a nested-loop over the raw 4-value rule_id key.
    val df = IntervalJoin.join(
      Pipeline.events(spark, ClipTable.clips(spark, sf)),
      IntervalJoin.activations(spark, sf), maxBroadcastBytes = Some(0L))
    val plan = planOf(df)
    // the INTERVAL join (the one touching active_from) must never be a
    // nested loop
    val nestedLoop = plan.linesIterator.filter(l =>
      l.contains("BroadcastNestedLoopJoin") || l.contains("CartesianProduct"))
    assert(!nestedLoop.exists(_.contains("active_from")),
      s"un-hinted interval join degraded to an all-pairs plan:\n$plan")
    // and it must be an equi-join keyed on the (rule_id, _tb) bucket —
    // planner-chosen broadcast at this scale is fine (that is the point:
    // the decision follows stats instead of a hard pin)
    assert("(BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin) \\[rule_id[^\\]]*_tb".r
      .findFirstIn(plan).isDefined,
      s"expected an equi-join on the bucketed key:\n$plan")
    // identical rows both ways (hinted broadcast vs shuffle join)
    val hinted = IntervalJoin.join(
      Pipeline.events(spark, ClipTable.clips(spark, sf)),
      IntervalJoin.activations(spark, sf))
    val a = df.collect().map(_.toSeq).toSet
    val b = hinted.collect().map(_.toSeq).toSet
    assert(a.nonEmpty && a == b, "hinted and un-hinted interval joins diverge")
  }

  test("approx_count_distinct stays within the 10% sketch bound") {
    val rows = SparkEntry.queries("agg_approx_distinct")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("approx_ok_10pct") == 1L,
        s"key=${r.getAs[String]("event_key")} exact=${r.getAs[Long]("exact_clips")} outside the 10% sketch bound")
    }
  }

  test("top-k uses TakeOrderedAndProject, not a global sort") {
    val df = SparkEntry.queries("q_topk_risk")(spark, sf)
    val plan = planOf(df)
    assert(plan.contains("TakeOrderedAndProject"), s"global sort for a LIMIT query:\n$plan")
  }

  test("IVF multiprobe: recall@10 vs brute-force truth, monotone over single-probe") {
    import org.apache.spark.sql.functions.{col, expr}
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val truth = pairs(graft.operators.Similarity.bruteForceTopK(emb))
    val multi = graft.operators.Similarity.ivfMultiprobeTopK(emb)
    // single-probe = the multiprobe restricted to the query's own bucket:
    // rank within that smaller candidate set via a fresh window
    val b = graft.operators.Similarity.buckets(emb)
    val single = graft.operators.Similarity.ivfMultiprobeTopK(emb, k = Int.MaxValue)
      .join(b.select(col("vec_id").as("q_id"), col("bucket").as("q_bucket")), Seq("q_id"))
      .join(b.select(col("vec_id").as("n_id"), col("bucket").as("n_bucket")), Seq("n_id"))
      .filter(col("q_bucket") === col("n_bucket"))
      .withColumn("rn", expr(
        "row_number() OVER (PARTITION BY q_id ORDER BY cos_x10000 DESC, n_id ASC)"))
      .filter(col("rn") <= 10)
    val rMulti = pairs(multi).count(truth.contains).toDouble / truth.size
    val rSingle = pairs(single).count(truth.contains).toDouble / truth.size
    info(f"recall@10: multiprobe=$rMulti%.2f single-probe=$rSingle%.2f")
    assert(rMulti >= rSingle, "superset candidates cannot lower recall")
    assert(rMulti > 0.0)
  }

  test("sequence packing: one exchange on shard, window stays partition-local") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(graft.operators.TextOps.packSequences(docs))
    // exactly one hash exchange (on shard) — the running sum must not
    // trigger a single-partition global sort
    assert(!plan.contains("Exchange SinglePartition"),
      s"global single-partition window in the packing plan:\n$plan")
    assert("Exchange hashpartitioning\\(shard".r.findAllIn(plan).size >= 1,
      s"expected the shard exchange:\n$plan")
  }

  test("salted HLL merge carries sketches, not clip_id sets") {
    val plan = planOf(graft.operators.Salting.tumblingSaltedSketch(
      Pipeline.events(spark, ClipTable.clips(spark, sf))))
    assert(!plan.contains("collect_set") && !plan.contains("collect_list"),
      s"hot-key reducer still materializes distinct clip_ids:\n$plan")
  }

  test("simhash pairs: band-bucket equi-join, never a nested-loop all-pairs") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val pairs = graft.operators.Dedup.simhashPairs(docs)
    val plan = planOf(pairs)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"simhash pair join degraded to an all-pairs plan:\n$plan")
    // the first-agreeing-band filter replaces the post-join `.distinct()`:
    // the simhash input legitimately aggregates (the 64-sum groupBy on
    // doc_id), but nothing downstream of the join may aggregate on the
    // PAIR key — that would be the dedup exchange creeping back
    assert(!"HashAggregate\\(keys=\\[doc_a".r.findFirstIn(plan).isDefined &&
           !plan.contains("Exchange hashpartitioning(doc_a"),
      s"post-join dedup exchange reappeared in the pairs plan:\n$plan")
    // and pairs must still be unique without it — a hamming-0 pair agrees
    // on all bands and would be emitted once per band
    val dup = pairs.groupBy("doc_a", "doc_b").count()
      .filter(col("count") > 1).count()
    assert(dup === 0L, s"$dup pairs emitted more than once")
  }

  test("simhash is 64-bit: band-key cardinality exceeds the 16-bit ceiling") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val s = graft.operators.Dedup.simhash(docs).cache()
    try {
      // a 16-bit hash at maxHam=2 admits at most 32+32+64 = 128 distinct
      // (band, value) join keys CORPUS-WIDE — every bucket then holds
      // ~n/32 docs and the pigeonhole join is quadratic. 64-bit bands
      // (21/21/22 bits) must spread even a small diverse corpus far past
      // that ceiling; near-dup clusters still collide (pairs non-empty is
      // pinned by the gate query, recall by the property below).
      val keys = graft.operators.Dedup.simhashBands(s, 2)
        .select("b", "band_val").distinct().count()
      assert(keys > 128L,
        s"only $keys distinct band keys — hash width looks 16-bit again")
      // and at least one hash must use the widened range: |value| ≥ 2^16
      // is unreachable for a 16-bit hash
      val wide = s.filter(org.apache.spark.sql.functions.abs(col("simhash")) >= (1L << 16)).count()
      assert(wide > 0L, "no simhash value outside the 16-bit range")
    } finally { s.unpersist(); () }
  }

  test("dedup queries leave no pinned relations after releaseCaches") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    graft.operators.Dedup.minhashLsh(docs).count()
    graft.operators.Dedup.ngramJaccard(docs).count()
    graft.operators.Dedup.releaseCaches()
    assert(spark.sharedState.cacheManager.isEmpty,
      "dedup shingle relations still pinned after releaseCaches")
  }

  test("ngramJaccard DF cap: retained pairs keep exact uncapped scores") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        (r.getAs[Long]("common"), r.getAs[Long]("jac_x1000"))).toMap
    val full = toMap(graft.operators.Dedup.ngramJaccard(docs, maxShingleDf = None))
    val capped = toMap(graft.operators.Dedup.ngramJaccard(docs, maxShingleDf = Some(5L)))
    graft.operators.Dedup.releaseCaches()
    assert(capped.nonEmpty, "DF cap of 5 removed every candidate pair")
    capped.foreach { case (pair, scored) =>
      assert(full.get(pair).contains(scored),
        s"capped pair $pair scored $scored but uncapped says ${full.get(pair)}")
    }
    assert(capped.size <= full.size)
    // the cap-hit observability hook: cap 0 makes EVERY shingle hot, a
    // huge cap none — callers can tell when the recall trade engaged
    assert(graft.operators.Dedup.hotShingleCount(docs, 0L) > 0L)
    assert(graft.operators.Dedup.hotShingleCount(docs, Long.MaxValue) == 0L)
  }

  test("cosine near-dup: bucketed equi-join plan, results ⊆ exact all-pairs") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val lsh = graft.operators.Similarity.cosineNearDup(emb)
    val plan = planOf(lsh)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"near-dup candidates degraded to an all-pairs plan:\n$plan")
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")) -> r.getAs[Long]("cos_x10000")).toMap
    val approx = toMap(lsh)
    val exact = toMap(graft.operators.Similarity.cosineNearDupAllPairs(emb))
    assert(approx.nonEmpty)
    approx.foreach { case (pair, score) =>
      assert(exact.get(pair).contains(score),
        s"bucketed pair $pair score $score disagrees with exact ${exact.get(pair)}")
    }
    info(f"near-dup recall vs exact: ${approx.size.toDouble / exact.size}%.2f (${approx.size}/${exact.size})")
  }

  test("IVF quantizer bits scale: more cells, co-bucketed results at bits=6") {
    import org.apache.spark.sql.functions.countDistinct
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    def cells(bits: Int) = graft.operators.Similarity.buckets(emb, bits)
      .agg(countDistinct("bucket")).collect()(0).getLong(0)
    assert(cells(6) > cells(4), "raising bits must raise occupied cell count")
    val b6 = graft.operators.Similarity.buckets(emb, 6).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("bucket")).toMap
    assert(b6.values.forall(b => b >= 0 && b < 64))
    graft.operators.Similarity.ivfTopNeighbor(emb, bits = 6).collect().foreach { r =>
      assert(b6(r.getAs[Long]("vec_id")) == b6(r.getAs[Long]("n_id")),
        "ivfTopNeighbor(bits=6) returned a cross-bucket pair")
    }
  }

  test("packSequences nShards=64: same packing law, scaled reducer count") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = graft.operators.TextOps.packSequences(docs, nShards = 64L).collect()
    assert(out.map(_.getAs[Long]("shard")).distinct.length > 16,
      "64-shard packing still collapses to ≤16 reducers")
    assert(out.forall(r => r.getAs[Long]("shard") >= 0 && r.getAs[Long]("shard") < 64))
    // recompute the running-sum law per shard in plain Scala
    out.groupBy(_.getAs[Long]("shard")).foreach { case (_, rows) =>
      var cum = 0L
      rows.sortBy(_.getAs[Long]("doc_id")).foreach { r =>
        assert(r.getAs[Long]("pack_id") == cum / 4096L &&
          r.getAs[Long]("pack_offset") == cum % 4096L,
          s"pack coordinates diverge from the running sum at doc ${r.getAs[Long]("doc_id")}")
        cum += r.getAs[Long]("n_tokens")
      }
    }
  }

  test("minhash LSH verify is candidate-restricted (no co-shingled self-join)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val df = graft.operators.Dedup.minhashLsh(docs)
    // the round-1 defect: a shingle-shingle join guarded only by doc_id '<'
    // computes exact Jaccard for EVERY co-shingled pair. After the fix, any
    // join touching the shingle column must be a pure equi-join (candidate
    // doc-id equality + shingle equality) — no '<' range predicate.
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val badJoins = df.queryExecution.optimizedPlan.collect {
      case j: Join if j.condition.exists { c =>
        val s = c.toString
        s.contains("shingle") && s.contains("<")
      } => j
    }
    assert(badJoins.isEmpty,
      s"shingle join carries a non-equi doc_id predicate (full pair-space verify):\n${badJoins.mkString("\n")}")
  }

  // ---- graft-table V2 scan capabilities --------------------------------

  private def graftRead(root: String, schema: Option[org.apache.spark.sql.types.StructType] = None) = {
    val r = spark.read.format(classOf[graft.table.GraftSourceProvider].getName)
    schema.foreach(r.schema)
    r.load(root)
  }

  test("graft table V2: projection prunes columns down to the reader") {
    val s = spark
    import s.implicits._
    val t = new graft.table.GraftTable(
      java.nio.file.Files.createTempDirectory("graft_colprune").toString)
    new graft.table.ExactlyOnceSink(t).write(
      (0 until 100).map(i => (i.toLong, s"n$i", "blob" * 64)).toDF("id", "name", "blob"), 0L)
    val one = graftRead(t.root).select("name")
    val plan = one.queryExecution.executedPlan.toString
    assert(!plan.contains("blob"), s"pruned column still present in the scan:\n$plan")
    assert(one.collect().map(_.getString(0)).sorted.head == "n0")
  }

  test("graft table V2: COUNT(*) is answered from manifest metadata, zero data I/O") {
    val s = spark
    import s.implicits._
    val t = new graft.table.GraftTable(
      java.nio.file.Files.createTempDirectory("graft_countmeta").toString)
    val df = (0 until 1234).map(i => (i.toLong, s"n$i")).toDF("id", "name")
    new graft.table.ExactlyOnceSink(t).write(df, 0L)
    val read = graftRead(t.root, Some(df.schema))
    // remove the data pages: an exact count afterwards proves the
    // zero-column scan never opens a data file (manifest rows are
    // authoritative — the commit counted them)
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(t.root, "data")).iterator().asScala
      .filter(_.toString.endsWith(".parquet"))
      .toList.foreach(p => java.nio.file.Files.write(p, Array.empty[Byte]))
    assert(read.count() == 1234L)
  }

  test("graft table V2: manifest statistics reach Catalyst and drive auto-broadcast") {
    val s = spark
    import s.implicits._
    val t = new graft.table.GraftTable(
      java.nio.file.Files.createTempDirectory("graft_stats").toString)
    new graft.table.ExactlyOnceSink(t).write(
      (0 until 500).map(i => (i.toLong, s"n$i")).toDF("id", "name"), 0L)
    val read = graftRead(t.root)
    val sz = read.queryExecution.optimizedPlan.stats.sizeInBytes
    // without SupportsReportStatistics a V2 relation reports the
    // "unknown" default (spark.sql.defaultSizeInBytes = Long.Max)
    assert(sz > 0 && sz < 10L * 1024 * 1024, s"V2 stats missing/absurd: $sz")
    // a small graft table joined to a big relation must auto-broadcast
    val big = s.range(3000000).toDF("id") // ~24 MB est. > broadcast threshold
    val plan = big.join(read, "id").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"small graft table did not broadcast:\n$plan")
  }

  test("graft table V2: global COUNT/MIN/MAX answered from manifest metadata") {
    val s = spark
    import s.implicits._
    val t = new graft.table.GraftTable(
      java.nio.file.Files.createTempDirectory("graft_aggpush").toString)
    val rows = (1 to 100).map(i => (if (i % 10 == 0) None else Some(i.toLong), s"n$i"))
    new graft.table.ExactlyOnceSink(t).write(
      rows.toDF("id", "name").repartition(4), 0L)
    val read = graftRead(t.root)
    val agg = read.agg(
      count(lit(1)).as("n"), count(col("id")).as("nid"),
      min("id").as("lo"), max("id").as("hi"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("METADATA aggregate"),
      s"global count/min/max should come from manifests:\n$plan")
    val r = agg.collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) == ((100L, 90L, 1L, 99L)))
    // a filtered aggregate must NOT be metadata-answered (filters are
    // row-evaluated): plan must be a normal scan, value exact
    val f = read.filter(col("id") > 50L).agg(max("id").as("hi"))
    assert(!f.queryExecution.executedPlan.toString.contains("METADATA aggregate"))
    assert(f.collect().head.getLong(0) == 99L)
    // string MIN/MAX excluded (binary bounds are not guaranteed exact)
    val m = read.agg(max("name").as("m"))
    assert(!m.queryExecution.executedPlan.toString.contains("METADATA aggregate"))
    assert(m.collect().head.getString(0) == "n99")
  }

  test("graft table V2: runtime filters from a broadcast join prune files") {
    val s = spark
    import s.implicits._
    val t = new graft.table.GraftTable(
      java.nio.file.Files.createTempDirectory("graft_dpp").toString)
    // range-partitioned input: each file covers a narrow id range, so an
    // IN-list of small ids overlaps few files
    new graft.table.ExactlyOnceSink(t).write((0 until 8000).map(i => (i.toLong, s"v$i"))
      .toDF("id", "v").repartitionByRange(8, $"id"), 0L)
    // DPP only triggers when the build side carries a SELECTIVE predicate
    val dim = s.range(1000).toDF("id").filter(col("id") < 5)
    val j = graftRead(t.root).join(broadcast(dim), "id")
    val plan = j.queryExecution.executedPlan.toString
    assert(j.count() == 5)
    assert(plan.contains("RuntimeFilters: [dynamicpruning"),
      s"broadcast join should plant a runtime filter on the graft scan:\n$plan")
  }

  test("graft table reads plan one vectorized V2 scan for every layout") {
    val s = spark
    import s.implicits._
    val df = (0 until 10).map(i => (i.toLong, s"n$i", if (i % 2 == 0) "wav" else "opus"))
      .toDF("id", "name", "codec")
    val plain = new graft.table.GraftTable(
      java.nio.file.Files.createTempDirectory("graft_path_plain").toString)
    plain.commit(df, 0L)
    val part = new graft.table.GraftTable(
      java.nio.file.Files.createTempDirectory("graft_path_part").toString)
    part.commit(df, 0L, partitionBy = Seq("codec"))
    for (t <- Seq(plain, part)) {
      val read = t.read(s)
      val plan = planOf(read)
      assert("BatchScan".r.findAllIn(plan).size == 1 && !plan.contains("FileScan"),
        s"expected exactly one V2 scan:\n$plan")
      assert(plan.contains("graft-table scan"), s"not the graft-table scan:\n$plan")
      val c2r = plan.indexOf("ColumnarToRow")
      assert(c2r >= 0 && c2r < plan.indexOf("BatchScan"), s"scan is not vectorized:\n$plan")
      assert(read.select("id", "name", "codec").as[(Long, String, String)].collect().sorted
        .toSeq == df.as[(Long, String, String)].collect().sorted.toSeq)
    }
  }

  test("storage-partitioned read: groupBy on the partition layout has no shuffle") {
    val s = spark
    import s.implicits._
    val t = new graft.table.GraftTable(
      java.nio.file.Files.createTempDirectory("graft_spj").toString)
    val sink = new graft.table.ExactlyOnceSink(t, partitionBy = Seq("codec"))
    val codecs = Seq("pcm_s16le", "wav", "opus")
    sink.write((0 until 3000).map(i => (i.toLong, codecs(i % 3))).toDF("id", "codec")
      .repartition(5), 0L)
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val agg = graftRead(t.root).groupBy("codec").count()
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"key-grouped scan still shuffles the aggregation:\n$plan")
      val m = agg.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(m == codecs.map(_ -> 1000L).toMap)
    } finally s.conf.unset("spark.sql.sources.v2.bucketing.enabled")
    // an equality filter on the partition column reaches the scan and
    // prunes every file of the other values
    val all = graftRead(t.root).rdd.getNumPartitions
    val wav = graftRead(t.root).filter(col("codec") === "wav")
    val plan = wav.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && plan.contains("EqualTo(codec,wav)"),
      s"codec equality not pushed to the graft scan:\n$plan")
    assert(wav.rdd.getNumPartitions * 3 <= all,
      s"codec='wav' should plan a third of the $all files, planned ${wav.rdd.getNumPartitions}")
    assert(wav.count() == 1000L)
  }

  test("storage-partitioned read degrades safely: multi-valued or null files fall back") {
    val s = spark
    import s.implicits._
    val t = new graft.table.GraftTable(
      java.nio.file.Files.createTempDirectory("graft_spj_dirty").toString)
    // first batch: directory-partitioned, every file single-valued on codec
    new graft.table.ExactlyOnceSink(t, partitionBy = Seq("codec")).write(
      (0 until 100).map(i => (i.toLong, if (i % 2 == 0) "wav" else "opus"))
        .toDF("id", "codec"), 0L)
    // second batch through a plain sink: one file holding a codec NULL and
    // a value — multi-valued, and parquet bounds never cover nulls, so the
    // single-value claim must be withdrawn for the whole scan
    new graft.table.ExactlyOnceSink(t).write(
      Seq((100L, Option.empty[String]), (101L, Some("wav"))).toDF("id", "codec")
        .coalesce(1), 1L)
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val agg = graftRead(t.root).groupBy("codec").count()
      val plan = agg.queryExecution.executedPlan.toString
      assert(plan.contains("Exchange hashpartitioning"),
        s"scan with a null-bearing file must NOT claim key-grouping:\n$plan")
      val m = agg.collect().map(r => (if (r.isNullAt(0)) "∅" else r.getString(0)) -> r.getLong(1)).toMap
      assert(m == Map("wav" -> 51L, "opus" -> 50L, "∅" -> 1L))
    } finally s.conf.unset("spark.sql.sources.v2.bucketing.enabled")
  }
}
