package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.table.GraftTable

/** Per-file parquet bloom filters as the second DML pruning stage (behind
  * manifest min/max stats): the takedown-by-id path. Every test builds
  * files whose min/max ranges fully overlap (interleaved keys), so stats
  * alone admit every file — any file left untouched was saved by the
  * bloom, and soundness means a file holding a matching row is NEVER
  * left untouched. */
class BloomSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Two one-file commits with fully-overlapping long-id ranges:
    * batch 0 = even ids, batch 1 = odd ids, both spanning [0, 2n). */
  private def interleaved(t: GraftTable, n: Int = 200): Unit = {
    val s = spark
    import s.implicits._
    t.commit((0 until n).map(i => (2L * i, s"v${2 * i}")).toDF("id", "v").coalesce(1), 0L)
    t.commit((0 until n).map(i => (2L * i + 1, s"v${2 * i + 1}")).toDF("id", "v").coalesce(1), 1L)
  }

  test("delete by long id: bloom prunes the overlapping file stats cannot") {
    val s = spark
    val t = new GraftTable(Files.createTempDirectory("graft_bloom_l").toString,
      bloomFor = Seq("id"), bloomNdv = 1000L)
    interleaved(t)
    val before = t.dataFiles.toSet
    assert(before.size == 2)
    val odd = before.filter(_.contains("batch=1"))
    assert(odd.size == 1)

    assert(t.delete(s, col("id") === 42L) == 1L)
    val after = t.dataFiles.toSet
    // the odd-id file's min/max spans 42 (stats admit it) but its bloom
    // proves 42 absent — it must survive BY PATH, un-rewritten
    assert(after.intersect(odd) == odd,
      s"bloom failed to prune the non-matching file: before=$before after=$after")
    assert(after.intersect(before.filter(_.contains("batch=0"))).isEmpty,
      "the file actually holding id=42 was not rewritten")
    val ids = t.read(s).select("id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(42L) && ids.size == 399)
  }

  test("control: the same delete without blooms rewrites BOTH files") {
    val s = spark
    val t = new GraftTable(Files.createTempDirectory("graft_bloom_ctl").toString)
    interleaved(t)
    val before = t.dataFiles.toSet
    assert(t.delete(s, col("id") === 42L) == 1L)
    assert(t.dataFiles.toSet.intersect(before).isEmpty,
      "min/max stats alone cannot discriminate interleaved ranges")
  }

  test("delete by string id and IN-list: BINARY bloom probes prune") {
    val s = spark
    import s.implicits._
    val t = new GraftTable(Files.createTempDirectory("graft_bloom_s").toString,
      bloomFor = Seq("sid"), bloomNdv = 1000L)
    // zero-padded so both files span the full lexicographic range
    t.commit((0 until 200).map(i => (f"k${2 * i}%05d", i)).toDF("sid", "x").coalesce(1), 0L)
    t.commit((0 until 200).map(i => (f"k${2 * i + 1}%05d", i)).toDF("sid", "x").coalesce(1), 1L)
    val odd = t.dataFiles.filter(_.contains("batch=1")).toSet
    // both IN-list members live in the even file
    assert(t.delete(s, col("sid").isin("k00042", "k00044")) == 2L)
    assert(t.dataFiles.toSet.intersect(odd) == odd,
      "string bloom failed to prune the odd-id file for an IN probe")
    assert(t.read(s).count() == 398)
  }

  test("soundness: a value present in both files rewrites both; ±0.0 probes both zero patterns") {
    val s = spark
    import s.implicits._
    val t = new GraftTable(Files.createTempDirectory("graft_bloom_snd").toString,
      bloomFor = Seq("id", "d"), bloomNdv = 1000L)
    t.commit(Seq((1L, 1.5), (7L, 6.5), (3L, -0.0)).toDF("id", "d").coalesce(1), 0L)
    t.commit(Seq((2L, 3.5), (7L, 4.5), (8L, 5.5)).toDF("id", "d").coalesce(1), 1L)
    val before = t.dataFiles.toSet
    assert(t.delete(s, col("id") === 7L) == 2L)
    assert(t.dataFiles.toSet.intersect(before).isEmpty,
      "both files hold id=7: neither may be bloom-pruned")
    // Spark row equality: -0.0 == 0.0 — the stored -0.0 row MUST be found
    // and deleted even though its bit pattern differs from the probe's
    assert(t.delete(s, col("d") === 0.0) == 1L)
    assert(t.read(s).count() == 3)
  }

  test("compaction by a bloom-unaware instance preserves the persisted bloom layout") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft_bloom_cpt").toString
    val t = new GraftTable(root, bloomFor = Seq("id"), bloomNdv = 1000L)
    // EVEN ids only, split across two overlapping files — odd ids are
    // in-range gaps only a bloom can see
    t.commit((0 until 200).map(i => (4L * i, "a")).toDF("id", "v").coalesce(1), 0L)
    t.commit((0 until 200).map(i => (4L * i + 2, "b")).toDF("id", "v").coalesce(1), 1L)
    // a maintenance job opens the table WITHOUT the constructor param —
    // the table's own bloom layout must keep rewrites equipped
    val t2 = new GraftTable(root)
    assert(t2.meta.map(m => (m.bloomFor, m.bloomNdv)).contains((Seq("id"), 1000L)))
    t2.compact(s, targetFiles = 1)
    val f = t2.dataFiles.head
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f), s.sessionState.newHadoopConf()))
    try {
      import scala.jdk.CollectionConverters._
      val cc = rd.getFooter.getBlocks.asScala.head.getColumns.asScala
        .find(_.getPath.toDotString == "id").get
      assert(cc.getBloomFilterOffset >= 0, "compacted file lost its id bloom")
    } finally rd.close()
    // the COMPACTED file's bloom must be consultable: id=41 sits inside
    // its [0, 798] stats range but is absent (all ids even) — the delete
    // must no-op without a rewrite or a version bump
    val v = t2.version
    val files = t2.dataFiles.toSet
    assert(t2.delete(s, col("id") === 41L) == 0L)
    assert(t2.version == v && t2.dataFiles.toSet == files,
      "stats-admitted but bloom-absent probe must not rewrite the compacted file")
    // and a present value still deletes (the bloom is a filter, not a wall)
    assert(t2.delete(s, col("id") === 42L) == 1L)
    assert(t2.version == v + 1)
  }

  test("trickle merge: per-key IN mode + bloom leaves the non-matching file untouched") {
    val s = spark
    import s.implicits._
    val t = new GraftTable(Files.createTempDirectory("graft_bloom_mrg").toString,
      bloomFor = Seq("id"), bloomNdv = 1000L)
    interleaved(t)
    val odd = t.dataFiles.filter(_.contains("batch=1")).toSet
    // one matched key (42, lives in the even file) + one brand-new key:
    // the odd file's min/max spans 42, only its bloom can prove absence
    val stats = t.merge(s,
      Seq((42L, "updated"), (1001L, "new")).toDF("id", "v"), Seq("id"), 100L)
    assert(stats == graft.table.MergeStats(1L, 1L))
    assert(t.dataFiles.toSet.intersect(odd) == odd,
      "trickle merge rewrote a file its keys provably never touch")
    val m = t.read(s).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(42L) == "updated" && m(1001L) == "new" && m.size == 401)
  }

  test("randomized soundness: bloom pruning never drops a file with a matching row") {
    val s = spark
    import s.implicits._
    val t = new GraftTable(Files.createTempDirectory("graft_bloom_rand").toString,
      bloomFor = Seq("id", "sid"), bloomNdv = 1000L)
    val rnd = new scala.util.Random(20260817L)
    // 4 one-file commits, ids drawn overlapping from [0, 500)
    (0 until 4).foreach { b =>
      val rows = (0 until 100).map { _ =>
        val id = rnd.nextInt(500).toLong
        (id, s"s$id")
      }
      t.commit(rows.toDF("id", "sid").coalesce(1), b.toLong)
    }
    (0 until 30).foreach { _ =>
      val probe = rnd.nextInt(600).toLong // some probes miss entirely
      val expected = t.read(s).filter(col("id") === probe).count()
      val vBefore = t.version
      val deleted = t.delete(s, col("id") === probe)
      assert(deleted == expected,
        s"delete id=$probe removed $deleted rows, expected $expected")
      if (expected == 0) assert(t.version == vBefore, "no-op must not commit")
    }
  }

  test("schema evolution: a batch omitting the bloom column still persists the layout") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft_bloom_evo").toString
    // table born bloom-less; its schema is (id, v)
    new GraftTable(root).commit(Seq((1L, "a")).toDF("id", "v").coalesce(1), 0L)
    // ingest restarted with --bloom-for id; the FIRST batch after restart
    // legitimately omits the optional id column — validation must accept
    // it against the table schema (the batch just writes no id bloom)
    val t = new GraftTable(root, bloomFor = Seq("id"), bloomNdv = 100L)
    t.commit(Seq("b").toDF("v").coalesce(1), 1L)
    assert(new GraftTable(root).meta.map(m => (m.bloomFor, m.bloomNdv)).contains((Seq("id"), 100L)))
    // a TRULY unknown column is still rejected (case-sensitive)
    val root2 = Files.createTempDirectory("graft_bloom_evo2").toString
    val bad = new GraftTable(root2, bloomFor = Seq("ID"), bloomNdv = 100L)
    val e = intercept[IllegalArgumentException] {
      bad.commit(Seq((1L, "a")).toDF("id", "v").coalesce(1), 0L)
    }
    assert(e.getMessage.contains("ID"))
    assert(new GraftTable(root2).meta.isEmpty, "rejected layout must not persist")
    val plain = new GraftTable(root2)
    plain.commit(Seq((1L, "a")).toDF("id", "v").coalesce(1), 0L)
    assert(plain.meta.exists(_.bloomFor.isEmpty), "rejected layout must not persist")
  }

  test("bad --bloom-for fails DML at entry, before any candidate work") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft_bloom_early").toString
    new GraftTable(root).commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1), 0L)
    // a maintenance CLI opened the bloom-less table with a typo'd layout:
    // delete/update/merge/compact must all fail fast, mutating nothing
    val t = new GraftTable(root, bloomFor = Seq("idd"), bloomNdv = 10L)
    val v = t.version
    val files = t.dataFiles.toSet
    assert(intercept[IllegalArgumentException] {
      t.delete(s, col("id") === 2L)
    }.getMessage.contains("idd"))
    assert(intercept[IllegalArgumentException] {
      t.update(s, col("id") === 2L, Map("v" -> lit("x")))
    }.getMessage.contains("idd"))
    assert(intercept[IllegalArgumentException] {
      t.merge(s, Seq((2L, "x")).toDF("id", "v"), Seq("id"), 99L)
    }.getMessage.contains("idd"))
    assert(intercept[IllegalArgumentException] {
      t.compact(s)
    }.getMessage.contains("idd"))
    assert(t.version == v && t.dataFiles.toSet == files,
      "a rejected layout must not rewrite or commit anything")
  }
}
