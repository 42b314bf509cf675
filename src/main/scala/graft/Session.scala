package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one SparkSession every main and the test suite run on: `local[cpus]`
  * with `cpus` shuffle partitions, UTC, parquet nanosecond timestamps read
  * as longs, no UI. A master already set through Spark's own mechanism
  * (spark-submit `--master`, `-Dspark.master=…`) is left alone. */
object Session {

  /** `SPARK_GRAFT_CPUS`, else the host's core count. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(cpus: Int = cpus): SparkSession = {
    val b = SparkSession.builder()
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    if (!new SparkConf().contains("spark.master")) b.master(s"local[$cpus]")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
