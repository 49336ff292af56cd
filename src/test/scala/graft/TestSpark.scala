package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.sql.Timestamp

/** One shared local session for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local(4)

  val T0: Timestamp = Timestamp.valueOf("2025-09-19 07:31:02")

  /** Minimal clip row builder matching the ClipTable schema. */
  def clipsDf(rows: Seq[(String, String, String)]): DataFrame = {
    // (clip_id, codec, transcript)
    val s = spark
    import s.implicits._
    rows.zipWithIndex.map { case ((id, codec, tr), i) =>
      (id, 16000, 500, codec, tr, T0, 7L, i.toLong)
    }.toDF("clip_id", "sr_hz", "dur_ms", "codec", "transcript",
      "event_time", "tenant_id", "event_id")
  }
}
