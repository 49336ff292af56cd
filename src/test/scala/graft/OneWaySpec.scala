package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** One way to build a session and one way to open a parquet footer: a scan
  * of the engine sources for the calls that would bring a second way back. */
class OneWaySpec extends AnyFunSuite {

  /** Names of the `src/main` Scala files whose text contains `call`. */
  private def filesCalling(call: String): Seq[String] = {
    val walk = Files.walk(Paths.get("src", "main"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains(call))
      .map(_.getFileName.toString).toSeq
    finally walk.close()
  }

  test("SparkSession.builder appears in src/main only in Sessions") {
    assert(filesCalling("SparkSession.builder(") == Seq("Sessions.scala"))
  }

  test("ParquetFileReader.open appears in src/main only in GraftTable.openParquet") {
    assert(filesCalling("ParquetFileReader.open(") == Seq("GraftTable.scala"))
  }
}
