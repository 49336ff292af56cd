package graft.table

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Commit-time footer reads go through [[GraftTable.openParquet]], which
  * takes its read options from the caller's Hadoop conf: the manifest it
  * writes is the one a footer read with parquet's default options gives. */
class FooterReadSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("a commit's manifest rows and stats equal a default-options footer read") {
    val s = spark
    import s.implicits._
    val t0 = Timestamp.valueOf("2025-09-19 10:00:00").getTime
    val df = (0 until 600).map { i =>
      (i.toLong, if (i % 7 == 0) null else s"v$i", i * 0.5, new Timestamp(t0 + i * 1000L),
        if (i % 3 == 0) "wav" else "opus")
    }.toDF("id", "v", "x", "ts", "codec").repartition(3)
    val t = new GraftTable(Files.createTempDirectory("graft_footers").toString)
    t.commit(df, 0L, partitionBy = Seq("codec"))
    val files = t.manifestsUpTo(t.version).flatMap(t.manifestFiles)
    assert(files.size >= 4 && files.map(_.rows).sum == 600L)
    val conf = s.sessionState.newHadoopConf()
    files.foreach { fi =>
      val rd = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(fi.path), conf))
      try {
        assert(fi.rows == rd.getRecordCount)
        assert(fi.stats -- fi.pv.keys == t.footerStats(rd.getFooter), fi.path)
        assert(Set("id", "v", "x", "ts").subsetOf(fi.stats.keySet), fi.stats)
      } finally rd.close()
    }
    assert(files.map(_.stats("v").nulls).sum == (0 until 600).count(_ % 7 == 0))
  }
}
