package graft.table

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.page.DictionaryPageReadStore
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.TestSpark
import graft.operators.Pipeline

/** Pins the encodings every GraftTable data write produces under its
  * bounded parquet dictionary budget ([[GraftTable.DictionaryBudget]]):
  * unique-per-row columns (content hashes) carry no dictionary, low-
  * cardinality columns keep theirs, no dictionary page exceeds the budget
  * — on commit, compaction and a DML rewrite alike, with and without a
  * bloom layout — and the rows read back unchanged. */
class DictionaryBudgetSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** 3000 clips, each matching three rules: ~9000 events whose ids and
    * hashes are unique per row, whose clip-derived columns repeat three
    * times, and whose rule/codec/constant columns take a handful of
    * values. */
  private def events: DataFrame = {
    val rows = (0 until 3000).map { i =>
      (f"clip-t${i % 8}-s${i % 4}-$i%010d", if (i % 5 == 0) "wav" else "pcm_s16le",
        s"clip access denied privilege escalation user ${1 + i % 3}")
    }
    Pipeline.events(spark, TestSpark.clipsDf(rows))
  }

  /** Per column chunk of `file`: the dictionary page's uncompressed size
    * (None = no dictionary) and whether a bloom filter was written. */
  private def chunks(file: String): Seq[(String, Option[Int], Boolean)] = {
    val rd = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(file), spark.sessionState.newHadoopConf()))
    try {
      val schema = rd.getFooter.getFileMetaData.getSchema
      rd.getFooter.getBlocks.asScala.toSeq.flatMap { b =>
        val dicts: DictionaryPageReadStore = rd.getDictionaryReader(b)
        b.getColumns.asScala.toSeq.map { cc =>
          val dict = if (!cc.hasDictionaryPage) None else Some(dicts.readDictionaryPage(
            schema.getColumnDescription(cc.getPath.toArray)).getUncompressedSize)
          (cc.getPath.toDotString, dict, cc.getBloomFilterOffset >= 0)
        }
      }
    } finally rd.close()
  }

  private def checkFiles(files: Seq[String], bloomCol: Option[String]): Unit = {
    assert(files.nonEmpty)
    files.foreach { f =>
      val cs = chunks(f)
      def dict(c: String) = cs.filter(_._1 == c).map(_._2)
      Seq("event_uid", "finding_id").foreach(c =>
        assert(dict(c).nonEmpty && dict(c).forall(_.isEmpty), s"$c kept a dictionary in $f"))
      Seq("rule_id", "codec", "event_version").foreach(c =>
        assert(dict(c).nonEmpty && dict(c).forall(_.isDefined), s"$c lost its dictionary in $f"))
      cs.foreach { case (c, d, _) =>
        assert(d.forall(_ <= GraftTable.DictionaryBudget), s"$c dictionary of $d bytes in $f")
      }
      bloomCol.foreach(b => assert(cs.exists(c => c._1 == b && c._3), s"$b lost its bloom in $f"))
    }
  }

  private def assertRows(t: GraftTable, expected: DataFrame): Unit = {
    val got = t.read(spark).select(expected.columns.map(col): _*)
    assert(got.count() == expected.count())
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }

  /** commit (two batches through the streaming sink) → compact → delete,
    * checking every live file and the table's rows after each step. */
  private def lifecycle(t: GraftTable, bloomCol: Option[String]): Unit = {
    val all = events
    val sink = new ExactlyOnceSink(t)
    sink.write(all.filter(col("src_event_id") % 2 === 0).coalesce(1), 0L)
    sink.write(all.filter(col("src_event_id") % 2 === 1).coalesce(1), 1L)
    checkFiles(t.dataFiles, bloomCol)
    assertRows(t, all)

    t.compact(spark, targetFiles = 1)
    checkFiles(t.dataFiles, bloomCol)
    assertRows(t, all)

    assert(t.delete(spark, col("rule_id") === "r-priv-esc") == 3000L)
    checkFiles(t.dataFiles, bloomCol)
    assertRows(t, all.filter(col("rule_id") =!= "r-priv-esc"))
  }

  test("control: Spark's default budget keeps an over-budget dictionary on these rows") {
    // without this, the budget assertions below could pass vacuously
    val dir = Files.createTempDirectory("graft_dict_ctl").resolve("out").toString
    events.coalesce(1).write.parquet(dir)
    val files = Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSeq
    assert(files.flatMap(chunks).exists(_._2.exists(_ > GraftTable.DictionaryBudget)))
  }

  test("commit, compact and delete rewrite: bounded dictionaries, same rows") {
    lifecycle(new GraftTable(Files.createTempDirectory("graft_dict").toString), None)
  }

  test("bloom-indexed table: the budget applies and the bloom survives every write") {
    lifecycle(new GraftTable(Files.createTempDirectory("graft_dict_bloom").toString,
      bloomFor = Seq("event_uid"), bloomNdv = 20000L), Some("event_uid"))
  }
}
