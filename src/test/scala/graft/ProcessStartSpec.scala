package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import jdk.jfr.consumer.{RecordedEvent, RecordingStream}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.streaming.StreamingJobs
import graft.table.{ExactlyOnceSink, GraftTable}

/** Marks the end of a recorded section: once the stream delivers it, every
  * event committed before it has been delivered too (the stream is ordered). */
class ProcessStartMarker extends jdk.jfr.Event

/** The `file:` binding of `core-site.xml` keeps Hadoop from starting a
  * process per file operation: a checkpointed stateful query, its
  * exactly-once commits, a restart and table maintenance start none from
  * `org.apache.hadoop.util.Shell`, seen by JFR's `jdk.ProcessStart`. */
class ProcessStartSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def clip(id: String, tr: String, t: String, eid: Long) =
    Clip(id, 16000, 500, "wav", tr, Timestamp.valueOf(t), 7L, eid)

  /** The `jdk.ProcessStart` events `body` causes: command line and stack. */
  private def processStarts(body: => Unit): Seq[(String, Seq[String])] = {
    val started = new ConcurrentLinkedQueue[(String, Seq[String])]()
    val done = new CountDownLatch(1)
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart").withStackTrace()
      rs.enable(classOf[ProcessStartMarker])
      rs.onEvent("jdk.ProcessStart", (e: RecordedEvent) => started.add(e.getString("command") ->
        e.getStackTrace.getFrames.asScala.map(_.getMethod.getType.getName).toSeq))
      rs.onEvent(classOf[ProcessStartMarker].getName, (_: RecordedEvent) => done.countDown())
      rs.startAsync()
      body
      new ProcessStartMarker().commit()
      assert(done.await(60, TimeUnit.SECONDS), "the recording never delivered its end marker")
    } finally rs.close()
    started.asScala.toSeq
  }

  test("checkpointed CEP, exactly-once commits and maintenance start no Hadoop shell process") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    // Shell starts `setsid` once when its class loads: load it outside the recording
    Class.forName("org.apache.hadoop.util.Shell")
    val table = new GraftTable(Files.createTempDirectory("graft_noproc").toString)
    val ckpt = Files.createTempDirectory("ckpt_noproc").toString
    val ms = MemoryStream[Clip]
    def run(batches: Seq[Seq[Clip]]): Unit = {
      val q = StreamingJobs.streamingCep(s, StreamingJobs.events(s, ms.toDF())).toDF()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch(new ExactlyOnceSink(table).write _).start()
      try batches.foreach { b => ms.addData(b: _*); q.processAllAvailable() } finally q.stop()
    }
    val starts = processStarts {
      // the recorder sees a process this test starts itself
      assert(new ProcessBuilder("true").start().waitFor() == 0)
      run(Seq(
        Seq(clip("clip-np-s0-0000000001", "access denied", "2025-09-19 12:00:00", 1)),
        Seq(clip("clip-np-s0-0000000002", "privilege escalation", "2025-09-19 12:10:00", 2))))
      // restart from the checkpoint: offset/commit logs and state are read back
      run(Seq(
        Seq(clip("clip-nq-s0-0000000003", "access denied", "2025-09-19 13:00:00", 3)),
        Seq(clip("clip-nq-s0-0000000004", "privilege escalation", "2025-09-19 13:05:00", 4))))
      assert(table.read(s).count() == 2)
      table.compact(s, targetFiles = 1)
      table.vacuum(table.version)
      table.gcOrphans()
      assert(table.read(s).count() == 2)
    }
    assert(starts.exists(_._1 == "true"), s"the recording missed the test's own process: $starts")
    val shell = starts.filter(_._2.exists(_.startsWith("org.apache.hadoop.util.Shell")))
    assert(shell.isEmpty, s"Hadoop started ${shell.size} shell processes, e.g. ${shell.take(3)}")
  }
}
