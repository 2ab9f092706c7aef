package graft

import org.apache.spark.sql.SparkSession

/** The local session every entry point runs on: `SPARK_GRAFT_CPUS` cores
  * (default 32) and as many shuffle partitions, adaptive execution on, a
  * UTC session time zone, no UI, and WARN logging. */
object GraftSession {
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
