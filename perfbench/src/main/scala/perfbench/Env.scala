package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession

/** Host and session settings, written once for every workload. */
object Env {

  /** Width of every session: the host's core count. */
  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** CPU time of this JVM, all threads (JIT compiler and GC included).
    * Unlike wall time it excludes the time a shared host's other tenants
    * take the cores (steal). */
  def processCpuNs: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  /** CPU time of the calling thread. */
  def threadCpuNs: Long = threads.getCurrentThreadCpuTime

  /** CPU time of live thread `id` (-1 once it has ended). */
  def threadCpuNs(id: Long): Long = threads.getThreadCpuTime(id)

  /** (steal, total) jiffies of all CPUs from /proc/stat; zeros where absent. */
  def cpuJiffies: (Long, Long) = {
    val stat = java.nio.file.Paths.get("/proc/stat")
    if (!Files.exists(stat)) (0L, 0L)
    else {
      val f = Files.readAllLines(stat).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    }
  }

  def loadAvg: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Peak resident set of this JVM (VmHWM), in MiB; 0 where /proc is absent. */
  def peakRssMb: Double = {
    val status = java.nio.file.Paths.get("/proc/self/status")
    if (!Files.exists(status)) 0.0
    else {
      val line = Files.readAllLines(status).toArray.map(_.toString)
        .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
      line.split("\\s+")(1).toDouble / 1024.0
    }
  }

  /** The one session configuration the benchmark uses, at `width` cores.
    * Mirrors the settings the engine's own bench and jobs run with: UTC,
    * TIMESTAMP_MICROS (footer stats stay usable for pruning), AQE, zstd. */
  def session(width: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$width]")
      .appName(s"perfbench-$width")
      .config("spark.sql.shuffle.partitions", width.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.AudioFunctions.register(s)
    s
  }

  /** Facts about the run recorded beside the metrics. */
  def facts(spark: SparkSession): Map[String, String] = Map(
    "nproc" -> cores.toString,
    "jvm" -> System.getProperty("java.vm.version"),
    "spark" -> spark.version,
    "max_heap_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }
}
