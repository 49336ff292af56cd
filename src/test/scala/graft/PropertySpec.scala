package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.operators.Pipeline
import graft.audio.Rules

/** Property-based invariants (SURVEY §5.3): the conservation law and
  * expansion accounting hold for ARBITRARY clip inputs, not just the golden
  * fixtures. Plain scalacheck generators sampled deterministically
  * (pureApply + fixed seeds) — the scalatest/scalacheck bridge artifact is
  * not in the offline cache. */
class PropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val phrases = Seq("access denied", "privilege escalation", "login ok",
    "policy skipped", "user 1", "user 2", "user 3", "user 4", "nothing")
  private val codecs = Seq("pcm_s16le", "wav", "opus-stub")

  private val clipGen: Gen[(String, String, String)] = for {
    key <- Gen.oneOf("t0", "t1", "t2")
    n <- Gen.choose(0, 99999)
    codec <- Gen.oneOf(codecs)
    hasTr <- Gen.frequency(9 -> true, 1 -> false)
    k <- Gen.choose(0, 3)
    ph <- Gen.listOfN(k, Gen.oneOf(phrases))
  } yield (f"clip-$key-s0-$n%010d",
    codec,
    if (hasTr) ("clip " + ph.mkString(" ") + " end") else null)

  private val batchGen: Gen[List[(String, String, String)]] =
    Gen.listOfN(25, clipGen).map(_.distinctBy(_._1))

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (1 to n).map(i => g.pureApply(Gen.Parameters.default, Seed(42L + i)))

  test("conservation law holds for arbitrary batches (METRICS.md:42)") {
    samples(batchGen, 5).foreach { rows =>
      val df = TestSpark.clipsDf(rows)
      val c = Pipeline.counters(spark, df).collect()(0)
      val in = c.getAs[Long]("incoming_logs_total")
      val exp = c.getAs[Long]("expanded_events_total")
      val pt = c.getAs[Long]("passthrough_total")
      val out = c.getAs[Long]("outgoing_logs_total")
      assert(in == rows.length)
      assert(out == exp + pt)
      // fullPipeline row count == outgoing (union of events + passthrough)
      assert(Pipeline.fullPipeline(spark, df).count() == out)
    }
  }

  test("expansion count equals per-clip surviving matches for any status filter") {
    val filters = Seq(Nil, Seq("fail"), Seq("pass", "skip"), Seq("error"),
      Rules.validStatuses.toSeq)
    samples(batchGen, 3).zip(Iterator.continually(filters).flatten).foreach {
      case (rows, filter) =>
        val df = TestSpark.clipsDf(rows)
        val nEvents = Pipeline.events(spark, df, filter).count()
        // independent accounting from first principles over the rule set
        val expected = rows.map { case (_, codec, tr) =>
          if (tr == null || !Seq("pcm_s16le", "wav").contains(codec)) 0L
          else Rules.all.count { r =>
            tr.contains(r.pattern) &&
              r.payloadJson.contains("\"result\":\"") && // well-formed payloads only
              (filter.isEmpty || filter.exists(f => r.payloadJson.contains(s""""result":"$f"""")))
          }.toLong
        }.sum
        assert(nEvents == expected, s"filter=$filter rows=${rows.size}")
    }
  }

  test("match kernel equals the filter lambda it replaced; edges: empty transcript, rule order, gate, no rules") {
    import org.apache.spark.sql.functions._
    val rules = Rules.surviving(Nil)
    // the per-row higher-order form the kernel replaced
    val byLambda = when(Pipeline.gate, filter(Rules.literal(rules),
      rr => contains(col("transcript"), rr.getField("pattern"))))
    samples(batchGen, 3).foreach { rows =>
      val out = TestSpark.clipsDf(rows)
        .select(Pipeline.matching(rules).as("got"), byLambda.as("ref")).collect()
      out.foreach(r => assert(r.get(0) == r.get(1)))
    }
    val df = TestSpark.clipsDf(Seq(
      ("clip-a", "wav", ""),                                      // gated in, nothing matches
      ("clip-b", "wav", "user 3, then access denied, then user 1"), // out of rule order
      ("clip-c", "opus-stub", "access denied"),                   // gate fails: codec
      ("clip-d", "wav", null)))                                   // gate fails: no transcript
    val got = df.select(col("clip_id"),
        Pipeline.matching(rules).getField("rule_id").as("ids"),
        Pipeline.matchCount(rules).as("n"),
        Pipeline.matching(Nil).as("none"),
        Pipeline.matchCount(Nil).as("n0"))
      .collect().map(r => r.getString(0) -> r).toMap
    def ids(c: String) = Option(got(c).getAs[scala.collection.Seq[String]]("ids")).map(_.toSeq)
    assert(ids("clip-a").contains(Seq.empty))
    assert(ids("clip-b").contains(Seq("r-access-denied", "r-err-empty", "r-case-sev")))
    assert(ids("clip-c").isEmpty && ids("clip-d").isEmpty)
    assert(Seq("clip-a", "clip-b", "clip-c", "clip-d").map(got(_).getAs[Int]("n")) == Seq(0, 3, 0, 0))
    assert(got("clip-a").getAs[scala.collection.Seq[Any]]("none").isEmpty && got("clip-c").isNullAt(3))
    assert(got.values.forall(_.getAs[Int]("n0") == 0))
  }

  test("event-time offset: timestamp_add equals the make_interval form it replaced, in the input type") {
    import org.apache.spark.sql.functions._
    val transcript = Rules.all.map(_.pattern).mkString(" ")
    val base = TestSpark.clipsDf(Seq(("clip-t0-s0-0000000001", "wav", transcript),
        ("clip-t0-s0-0000000002", "wav", transcript)))
      .withColumn("event_time", when(col("event_id") === 0L, col("event_time"))) // NULL on clip 2
    val rules = Rules.surviving(Nil)
    val offsets = rules.flatMap(_.payload).map(_.tsOffsetS).distinct.sorted
    assert(offsets == Seq(0L, 15L, 30L, 45L, 60L, 120L))
    val off = col("r.ts_offset_s")
    val byInterval = when(off > 0, col("event_time") +
      make_interval(lit(0), lit(0), lit(0), lit(0), lit(0), lit(0), off.cast("double")))
      .otherwise(col("event_time"))
    Seq("timestamp", "timestamp_ntz").foreach { tsType =>
      val clips = base.withColumn("event_time", col("event_time").cast(tsType))
      val out = Pipeline.explodeMatches(clips, rules)
        .select(off.as("off"), Pipeline.eventFields.toMap.apply("event_time").as("got"), byInterval.as("ref"))
      assert(out.schema("got").dataType == clips.schema("event_time").dataType, tsType)
      val rows = out.collect()
      assert(rows.length == 2 * rules.size, tsType)
      assert(rows.map(_.getLong(0)).distinct.sorted.toSeq == offsets, tsType)
      rows.foreach(r => assert(r.get(1) == r.get(2), s"$tsType off=${r.getLong(0)}"))
      assert(rows.count(_.isNullAt(1)) == rules.size, tsType)
    }
  }

  test("X2 coercion: total function with the 3-way branch semantics") {
    val s = spark
    import s.implicits._
    val tokenGen = Gen.oneOf("fail", "pass", "a b", "x\"y", "")
    // (raw string, expected coercion) pairs covering every reference branch
    // (processor.go:137-151: Unmarshal into []string, fallback = the whole
    // string as a single result; JSON null elements decode as "")
    val caseGen: Gen[(String, Seq[String])] = Gen.frequency(
      4 -> Gen.listOf(tokenGen).map { ts =>
        val raw = ts.map(t => "\"" + t.replace("\"", "\\\"") + "\"").mkString("[", ",", "]")
        (raw, ts) // valid JSON array → its string elements, in order
      },
      1 -> Gen.listOf(tokenGen).map { ts =>
        // null elements inside the array decode as "" (Go zero value)
        val raw = ts.map(t => "\"" + t.replace("\"", "\\\"") + "\"").mkString("[", ",null,", "]")
        val expected = if (ts.isEmpty) ts else ts.flatMap(t => Seq(t, "")).dropRight(1)
        (raw, expected)
      },
      3 -> Gen.alphaStr.map(s => (s + "-plain", Seq(s + "-plain"))), // never valid JSON
      // Unmarshal-into-[]string failures → the whole string, verbatim:
      2 -> Gen.const(("""{"an":"object"}""", Seq("""{"an":"object"}"""))),
      1 -> Gen.const(("[1,2]", Seq("[1,2]"))),                       // non-string elements
      1 -> Gen.const(("null", Seq.empty[String])),                   // JSON null → nil slice → skip
      1 -> Gen.const(("[\"broken", Seq("[\"broken"))))               // invalid JSON → plain
    samples(Gen.listOfN(30, caseGen), 4).foreach { cases =>
      val df = cases.zipWithIndex.map { case ((r, _), i) => (i.toLong, r) }.toDF("event_id", "raw")
      val out = df.select(col("event_id"),
        graft.operators.Coerce.coerceResults(col("raw")).as("c"))
        .collect().sortBy(_.getAs[Long]("event_id"))
      assert(out.length == cases.length) // total: never throws, never drops rows
      out.zip(cases).foreach { case (row, (raw, expected)) =>
        assert(row.getSeq[String](1) == expected, s"raw=$raw")
      }
    }
  }

  test("table lifecycle property: random commit/replay/compact sequences read back exactly") {
    val s = spark
    import s.implicits._
    // ops: commit fresh batch (60%), replay an old batchId (20%), compact (20%)
    val opGen: Gen[Int] = Gen.frequency(6 -> 0, 2 -> 1, 2 -> 2)
    samples(Gen.listOfN(10, opGen), 3).foreach { ops =>
      val t = new graft.table.GraftTable(
        java.nio.file.Files.createTempDirectory("prop_lifecycle").toString,
        checkpointInterval = 3)
      var nextId = 0L
      val expected = scala.collection.mutable.ArrayBuffer[Int]()
      ops.foreach {
        case 0 =>
          val rows = Seq(nextId.toInt * 2, nextId.toInt * 2 + 1)
          assert(t.commit(rows.map(i => (i, s"v$i")).toDF("id", "v").coalesce(1), nextId))
          expected ++= rows; nextId += 1
        case 1 if nextId > 0 =>
          // replay the MIDDLE batchId, not just the latest: after a compact
          // it exercises idempotence of a batch whose manifest was rewritten
          // away (the rewrite manifest's batchIds list must still block it)
          assert(!t.commit(Seq((999, "dupe")).toDF("id", "v"), (nextId - 1) / 2))
        case 2 if nextId > 0 =>
          t.compact(s, targetFiles = 1)
        case _ => () // replay/compact before any commit: skip
      }
      val got = t.read(s).select("id").collect().map(_.getInt(0)).sorted.toSeq
      assert(got == expected.sorted.toSeq,
        s"ops=$ops expected=${expected.sorted} got=$got")
      assert(t.committedRows == expected.size.toLong)
      // a fresh V2 stream backfills to the same multiset
      val dst = new graft.table.GraftTable(
        java.nio.file.Files.createTempDirectory("prop_lc_dst").toString)
      if (expected.nonEmpty) {
        val sink = new graft.table.ExactlyOnceSink(dst)
        val q = t.readStream(s).writeStream
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory("prop_lc_ckpt").toString)
          .foreachBatch(sink.write _).start()
        q.processAllAvailable(); q.stop()
        val streamed = dst.read(s).select("id").collect().map(_.getInt(0)).sorted.toSeq
        assert(streamed == expected.sorted.toSeq, s"stream backfill drift: ops=$ops")
      }
    }
  }

  test("GraftTable commits are idempotent under repeated replay") {
    val s = spark
    import s.implicits._
    samples(Gen.zip(Gen.listOfN(6, Gen.choose(0L, 2L)), Gen.choose(1, 5)), 3).foreach {
      case (replays, n) =>
        val root = java.nio.file.Files.createTempDirectory("prop_table").toString
        val t = new graft.table.GraftTable(root)
        val data = (0 until n).map(i => (i, s"v$i")).toDF("id", "v")
        (0L to 2L).foreach(b => t.commit(data, b))       // commit 3 batches
        replays.foreach(b => assert(!t.commit(data, b))) // replays are no-ops
        assert(t.committedRows == 3L * n)
    }
  }

  test("event key: substring kernel equals the split-based definition for any id") {
    val s = spark
    import org.apache.spark.sql.functions._
    import s.implicits._
    // the definition the kernel replaced: split on '-', drop the last two
    // segments, rejoin; NULL below three segments
    def bySplit(c: org.apache.spark.sql.Column) = {
      val parts = split(c, "-")
      when(size(parts) >= lit(3), array_join(slice(parts, lit(1), size(parts) - 2), "-"))
    }
    // ids over a dash-heavy alphabet: empty segments, leading / trailing /
    // doubled '-', zero to many dashes, multi-byte and non-BMP characters
    val idGen: Gen[String] = Gen.choose(0, 9).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("-", "-", "a", "bc", "é", "😀", "9", "--")).map(_.mkString))
    val fixed = Seq("", "-", "--", "---", "a", "a-b", "a-b-c", "-a-b", "a-b-", "a--b",
      "cert-manager-cainjector-89fd4b8f9-t9xlf", "é-😀-x", "clip-t3-s1-0000000042")
    val ids: Seq[String] = fixed ++ samples(Gen.listOfN(200, idGen), 3).flatten :+ null
    val rows = ids.toDF("id")
      .select(col("id"), Pipeline.eventKey(col("id")).as("k"), bySplit(col("id")).as("ref"))
      .collect()
    assert(rows.length == ids.length)
    rows.foreach(r => assert(r.getString(1) == r.getString(2), s"id=${r.getString(0)}"))
    // the generator really reaches every arity class (none / NULL / "" key)
    val keys = rows.map(r => Option(r.getString(1)))
    assert(keys.contains(None) && keys.contains(Some("")) && keys.exists(_.exists(_.nonEmpty)))
  }
}
