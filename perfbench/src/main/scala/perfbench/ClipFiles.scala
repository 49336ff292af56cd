package perfbench

import java.nio.file.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{Row, SparkSession}
import graft.audio.ClipTable

/** Staged input files in the fixture clip table's layout, written directly
  * with the parquet writer (no Spark job), so staging stays a small part of
  * a run. */
object ClipFiles {

  /** The fixture clip table's columns, in this order. */
  val Columns: Seq[String] =
    Seq("clip_id", "sr_hz", "dur_ms", "codec", "transcript", "event_time", "tenant_id", "event_id")

  private val Schema = MessageTypeParser.parseMessageType(
    """message clip {
      |  required binary clip_id (STRING);
      |  required int32 sr_hz;
      |  required int32 dur_ms;
      |  required binary codec (STRING);
      |  optional binary transcript (STRING);
      |  required int64 event_time (TIMESTAMP(MICROS,true));
      |  required int64 tenant_id;
      |  required int64 event_id;
      |}""".stripMargin)

  /** The fixture clips, ordered by event_id, with [[Columns]]. */
  def fixture(spark: SparkSession, dataDir: String): IndexedSeq[Row] =
    ClipTable.clips(spark, dataDir).orderBy("event_id").select(Columns.map(org.apache.spark.sql.functions.col): _*)
      .collect().toIndexedSeq

  /** Microseconds since the epoch of a fixture `event_time` value. */
  def micros(v: Any): Long = v match {
    case t: java.sql.Timestamp => Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      i.getEpochSecond * 1000000L + i.getNano / 1000
    case t: java.time.Instant => t.getEpochSecond * 1000000L + t.getNano / 1000
  }

  /** Writes one file of clips: each is a fixture row under a new clip id and
    * event time (microseconds). */
  def write(path: Path, clips: Iterator[(String, Row, Long)]): Unit = {
    val groups = new SimpleGroupFactory(Schema)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(path))
      .withConf(new org.apache.hadoop.conf.Configuration()).withType(Schema).build()
    try clips.foreach { case (id, b, us) =>
      val g = groups.newGroup()
        .append("clip_id", id)
        .append("sr_hz", b.getInt(1)).append("dur_ms", b.getInt(2)).append("codec", b.getString(3))
      if (!b.isNullAt(4)) g.append("transcript", b.getString(4))
      g.append("event_time", us).append("tenant_id", b.getLong(6)).append("event_id", b.getLong(7))
      w.write(g)
    } finally w.close()
  }
}
