package graft

import org.apache.spark.sql.SparkSession

/** The one way the engine builds a SparkSession: `Main`, `Verify`, `Bench`,
  * `BenchExtra` and the tests all call [[local]], so the configuration a
  * job ships is the one the benchmarks measure.
  *
  * Always set: UTC session time, `TIMESTAMP_MICROS` parquet timestamps
  * (INT96 footers carry no usable min/max, which would disable GraftTable
  * manifest stats and file pruning) and zstd parquet (event files about
  * half snappy's size). Outside `spark-submit` the session is
  * `local[width]` with `width` shuffle partitions and no UI; under
  * `spark-submit` (which sets `spark.master`) master, partition count and
  * UI are the submit's. */
object Sessions {

  def local(width: Int): SparkSession = {
    val common = SparkSession.builder()
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.parquet.compression.codec", "zstd")
    val builder =
      if (sys.props.contains("spark.master")) common
      else common.master(s"local[$width]").appName("graft")
        .config("spark.sql.shuffle.partitions", width.toString)
        .config("spark.ui.enabled", "false")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.AudioFunctions.register(spark)
    graft.functions.VecFunctions.register(spark)
    spark
  }
}
