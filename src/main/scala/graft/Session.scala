package graft

import org.apache.spark.sql.SparkSession

/** The one way a graft main opens its Spark session: `local[cpus]` with
  * as many shuffle partitions, UTC, no UI, WARN logs. `cpus` comes from
  * `SPARK_GRAFT_CPUS` (default 4), so every tool runs the config `Bench`
  * measures. `GraftExtensions` is not installed here; the queries that
  * need it install it on the live session themselves.
  */
object Session {
  def local(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
