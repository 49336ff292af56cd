package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Pipeline
import graft.table.GraftTable

/** Job entry point (C1 config validation) + table-as-source streaming. */
class JobSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("Main.parseArgs validates required args and status filter (C1)") {
    assert(Main.parseArgs(Array("--input", "i", "--output", "o", "--checkpoint", "c")).isRight)
    assert(Main.parseArgs(Array("--input", "i")).isLeft)
    assert(Main.parseArgs(Array("--bogus")).isLeft)
    val bad = Main.parseArgs(Array("--input", "i", "--output", "o",
      "--checkpoint", "c", "--status-filter", "fail,Pass"))
    assert(bad.isLeft && bad.left.exists(_.contains("Pass")))
    val ok = Main.parseArgs(Array("--input", "i", "--output", "o",
      "--checkpoint", "c", "--status-filter", "fail,error"))
    assert(ok.exists(_.statusFilter == Seq("fail", "error")))
    assert(Main.parseArgs(Array("--input", "i", "--output", "o",
      "--checkpoint", "c", "--job", "bogus")).isLeft)
    assert(Main.parseArgs(Array("--input", "i", "--output", "o",
      "--checkpoint", "c", "--job", "cep")).exists(_.job == "cep"))
    assert(Main.parseArgs(Array("--input", "i", "--output", "o",
      "--checkpoint", "c", "--job", "audioprep")).exists(_.job == "audioprep"))
    assert(Main.parseArgs(Array("--input", "i", "--output", "o",
      "--checkpoint", "c", "--disabled")).exists(!_.enabled))
    assert(Main.parseArgs(Array("--input", "i", "--output", "o",
      "--checkpoint", "c", "--lineage")).exists(_.lineage))
    assert(Main.parseArgs(Array("--input", "i", "--output", "o",
      "--checkpoint", "c", "--job", "pipeline")).exists(_.job == "pipeline"))
    assert(Main.parseArgs(Array("--input", "i", "--output", "o",
      "--checkpoint", "c", "--max-bytes-per-trigger", "4194304"))
      .exists(_.maxBytesPerTrigger.contains(4194304L)))
    assert(Main.parseArgs(Array("--input", "i", "--output", "o",
      "--checkpoint", "c", "--partition-by", "codec,sr_hz"))
      .exists(_.partitionBy == Seq("codec", "sr_hz")))
    // maintenance jobs need only --output (+ --keep-from for vacuum)
    assert(Main.parseArgs(Array("--job", "compact", "--output", "o",
      "--target-files", "8")).exists(c => c.job == "compact" && c.targetFiles == 8))
    assert(Main.parseArgs(Array("--job", "vacuum", "--output", "o")).isLeft)
    assert(Main.parseArgs(Array("--job", "vacuum", "--output", "o",
      "--keep-from", "3")).exists(_.keepFrom.contains(3L)))
    assert(Main.parseArgs(Array("--job", "describe", "--output", "o")).isRight)
    // malformed numbers surface as config errors, not raw exceptions
    assert(Main.parseArgs(Array("--job", "compact", "--output", "o",
      "--target-files", "abc")).isLeft)
    assert(Main.parseArgs(Array("--job", "compact", "--output", "o",
      "--target-files", "0")).isLeft)
    // row-level delete is a maintenance job and requires a predicate
    assert(Main.parseArgs(Array("--job", "delete", "--output", "o")).isLeft)
    assert(Main.parseArgs(Array("--job", "delete", "--output", "o",
      "--where", " ")).isLeft)
    assert(Main.parseArgs(Array("--job", "delete", "--output", "o",
      "--where", "tenant = 't1'")).exists(_.where.contains("tenant = 't1'")))
    // update needs --where AND at least one well-formed --set
    assert(Main.parseArgs(Array("--job", "update", "--output", "o",
      "--where", "id = 1")).isLeft)
    assert(Main.parseArgs(Array("--job", "update", "--output", "o",
      "--where", "id = 1", "--set", "noequals")).isLeft)
    assert(Main.parseArgs(Array("--job", "update", "--output", "o",
      "--where", "id = 1", "--set", "text='[redacted]'", "--set", "flag=0"))
      .exists(_.sets == Seq("text='[redacted]'", "flag=0")))
    // duplicate assignments to one column and blank column names rejected
    assert(Main.parseArgs(Array("--job", "update", "--output", "o",
      "--where", "id = 1", "--set", "text='a'", "--set", "text='b'")).isLeft)
    assert(Main.parseArgs(Array("--job", "update", "--output", "o",
      "--where", "id = 1", "--set", " ='x'")).isLeft)
    // egress forward needs input + checkpoint + host:port, but no output
    assert(Main.parseArgs(Array("--job", "forward", "--input", "i",
      "--checkpoint", "c")).isLeft)
    assert(Main.parseArgs(Array("--job", "forward", "--input", "i",
      "--checkpoint", "c", "--egress", "localhost")).isLeft)
    assert(Main.parseArgs(Array("--job", "forward", "--input", "i",
      "--checkpoint", "c", "--egress", "localhost:4317"))
      .exists(_.egress.contains("localhost:4317")))
    // ports are range-checked, and http(s) endpoints are accepted
    assert(Main.parseArgs(Array("--job", "forward", "--input", "i",
      "--checkpoint", "c", "--egress", "localhost:99999999999")).isLeft)
    assert(Main.parseArgs(Array("--job", "forward", "--input", "i",
      "--checkpoint", "c", "--egress", "http://collector:4318/v1/logs"))
      .exists(_.egress.exists(_.startsWith("http://"))))
    // sink bloom layout: column list parses, ndv must be positive
    assert(Main.parseArgs(Array("--input", "i", "--output", "o",
      "--checkpoint", "c", "--bloom-for", "clip_id, event_key", "--bloom-ndv", "50000"))
      .exists(c => c.bloomFor == Seq("clip_id", "event_key") && c.bloomNdv == 50000L))
    assert(Main.parseArgs(Array("--input", "i", "--output", "o",
      "--checkpoint", "c", "--bloom-ndv", "0")).isLeft)
  }

  test("disabled processor is a whole-stream identity pass-through") {
    val s = spark
    import s.implicits._
    val in = (0 until 20).map(i => Clip(f"clip-t${i % 3}-s0-$i%010d", 16000, 300,
      if (i % 2 == 0) "wav" else "opus-stub", "access denied", TestSpark.T0, 1L, i.toLong)).toDF()
    val out = Pipeline.process(s, in, enabled = false)
    assert(out.schema == in.schema)
    assert(out.collect().toSet == in.collect().toSet)
    // enabled=true actually processes (events + passthrough union)
    assert(Pipeline.process(s, in, enabled = true).columns.contains("event_uid"))
  }

  test("live metrics: counters readable in-process and over JMX while the stream runs") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val listener = new graft.metrics.Metrics.Listener(jmxName = Some("test-live"))
    s.streams.addListener(listener)
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Clip]
    try {
      val events = graft.metrics.Metrics.observeEvents(
        graft.streaming.StreamingJobs.events(s, ms.toDF()))
      val q = events.writeStream.outputMode("append")
        .format("memory").queryName("live_metrics_out").start()
      ms.addData(Clip("clip-t0-s0-0000000001", 16000, 300, "wav",
        "login ok", TestSpark.T0, 1L, 1L))
      q.processAllAvailable()
      // listener events are async — wait for the progress to land, then
      // assert everything is visible while the query is still ACTIVE
      val deadline = System.nanoTime + 10L * 1000 * 1000 * 1000
      while (listener.totals.isEmpty && System.nanoTime < deadline) Thread.sleep(50)
      assert(q.isActive, "query must still be running for the 'live' claim")
      assert(listener.totals.getOrElse("outgoing_events_total", 0L) >= 1L, listener.totals)
      val mbs = java.lang.management.ManagementFactory.getPlatformMBeanServer
      val json = mbs.getAttribute(
        new javax.management.ObjectName("graft:type=Counters,name=test-live"),
        "CountersJson").toString
      assert(json.contains("\"outgoing_events_total\":"), json)
      q.stop()
      // termination unregisters the MBean
      val deadline2 = System.nanoTime + 10L * 1000 * 1000 * 1000
      while (mbs.isRegistered(new javax.management.ObjectName(
        "graft:type=Counters,name=test-live")) && System.nanoTime < deadline2)
        Thread.sleep(50)
      assert(!mbs.isRegistered(new javax.management.ObjectName(
        "graft:type=Counters,name=test-live")))
    } finally s.streams.removeListener(listener)
  }

  test("GraftTable streaming source: table-to-table streaming pipeline") {
    val s = spark
    import s.implicits._
    val srcRoot = Files.createTempDirectory("tbl_src").toString
    val dstRoot = Files.createTempDirectory("tbl_dst").toString
    val ckpt = Files.createTempDirectory("tbl_ckpt").toString
    val src = new GraftTable(srcRoot)
    val dst = new GraftTable(dstRoot)

    def clips(from: Int, to: Int) = (from until to)
      .map(i => Clip(f"clip-t${i % 3}-s0-$i%010d", 16000, 300, "wav",
        "login ok", TestSpark.T0, 1L, i.toLong)).toDF()

    src.commit(clips(0, 20), 0L)
    src.commit(clips(20, 30), 1L)

    val stream = src.readStream(s)
    val q = graft.streaming.StreamingJobs.events(s, stream)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch(new graft.table.ExactlyOnceSink(dst).write _)
      .start()
    q.processAllAvailable()
    // a NEW upstream commit flows through incrementally
    src.commit(clips(30, 40), 2L)
    q.processAllAvailable()
    q.stop()

    assert(dst.read(s).count() == 40) // every clip matched exactly 1 rule
    assert(dst.read(s).select("rule_id").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("r-login-ok"))
  }

  test("streaming pipeline into a partition-layout sink keeps the dir layout per batch") {
    val s = spark
    import s.implicits._
    val srcRoot = Files.createTempDirectory("tbl_src_p").toString
    val dstRoot = Files.createTempDirectory("tbl_dst_p").toString
    val src = new GraftTable(srcRoot)
    val dst = new GraftTable(dstRoot)
    def clips(from: Int, to: Int, codec: String) = (from until to)
      .map(i => Clip(f"clip-t${i % 3}-s0-$i%010d", 16000, 300, codec,
        "login ok", TestSpark.T0, 1L, i.toLong)).toDF()
    src.commit(clips(0, 10, "wav").union(clips(10, 20, "pcm_s16le")), 0L)
    src.commit(clips(20, 30, "wav"), 1L)
    val q = graft.streaming.StreamingJobs.events(s, src.readStream(s))
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("tbl_ckpt_p").toString)
      .foreachBatch(new graft.table.ExactlyOnceSink(dst, partitionBy = Seq("codec")).write _)
      .start()
    q.processAllAvailable(); q.stop()
    assert(dst.read(s).count() == 30)
    assert(dst.dataFiles.forall(_.contains("codec=")), "every file under a codec dir")
    assert(dst.read(s).filter(col("codec") === "wav").count() == 20)
    // the partition column survives the round trip with per-batch commits
    assert(new GraftTable(dstRoot).meta.map(_.partitionBy).contains(Seq("codec")))
  }

  /** `Main --job describe` on `root`: its one line of stdout, parsed. */
  private def describe(root: String): com.fasterxml.jackson.databind.JsonNode = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Main.main(Array("--job", "describe", "--output", root)))
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(out.toString("UTF-8").trim)
  }

  test("Main --job describe reports the current version's metadata") {
    val s = spark
    import s.implicits._
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("tbl_describe").toString
    val t = new GraftTable(root, bloomFor = Seq("id"), bloomNdv = 500L)
    t.commit(Seq((1L, "a", "wav"), (2L, "b", "opus"), (3L, "c", "wav")).toDF("id", "v", "codec")
      .coalesce(1), 0L, partitionBy = Seq("codec"))
    val d = describe(root)
    assert(d.fieldNames().asScala.toSeq == Seq("job", "version", "rows", "files", "bytes",
      "partition_by", "bloom_for", "bloom_ndv", "schema"))
    assert(d.get("job").asText() == "describe" && d.get("version").asLong() == 1L)
    assert(d.get("rows").asLong() == 3L && d.get("files").asLong() == 2L) // one file per codec
    val files = t.manifestsUpTo(1L).flatMap(t.manifestFiles)
    assert(d.get("bytes").asLong() == files.map(_.bytes).sum && files.size == 2)
    assert(d.get("partition_by").toString == """["codec"]""")
    assert(d.get("bloom_for").toString == """["id"]""")
    assert(d.get("bloom_ndv").asLong() == 500L)
    val schema = org.apache.spark.sql.types.DataType.fromJson(d.get("schema").toString)
    assert(schema == t.meta.get.schema)
    assert(t.meta.get.schema.fieldNames.toSeq == Seq("id", "v", "codec"))

    val plainRoot = Files.createTempDirectory("tbl_describe_plain").toString
    new GraftTable(plainRoot).commit(Seq((1L, "a")).toDF("id", "v"), 0L)
    val p = describe(plainRoot)
    assert(p.get("bloom_ndv").isNull && p.get("bloom_for").toString == "[]")
    assert(p.get("partition_by").toString == "[]" && p.get("rows").asLong() == 1L)
  }

  test("streaming source is manifest-gated: uncommitted data files invisible") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("tbl_gated").toString
    val t = new GraftTable(root)
    t.commit(Seq((1, "a"), (2, "b")).toDF("id", "v"), 0L)
    // crashed-writer remnant: data files with NO manifest/commit
    Seq((99, "junk")).toDF("id", "v").write.parquet(s"$root/data/batch=77")
    val q = t.readStream(s).writeStream.format("memory").queryName("gated_out").start()
    q.processAllAvailable(); q.stop()
    val got = s.sql("SELECT id FROM gated_out").collect().map(_.getInt(0)).sorted
    assert(got.toSeq == Seq(1, 2)) // 99 never appears
  }

  test("salted window aggregate equals the plain aggregate") {
    val s = spark
    import s.implicits._
    val rows = (0 until 200).map { i =>
      (f"clip-t${i % 2}-s0-$i%010d", "wav",
        if (i % 3 == 0) "access denied login ok" else "policy skipped")
    }
    val ev = Pipeline.events(s, TestSpark.clipsDf(rows))
    val plain = graft.operators.Windows.tumbling(ev).orderBy("window_start_s", "event_key").collect()
    val salted = graft.operators.Salting.tumblingSalted(ev).orderBy("window_start_s", "event_key").collect()
    assert(plain.map(_.toSeq).toSeq == salted.map(_.toSeq).toSeq)
  }
}
