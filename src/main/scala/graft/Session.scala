package graft

import org.apache.spark.sql.SparkSession

/** The one way a graft main opens its Spark session: `local[cpus]` with
  * as many shuffle partitions, UTC, no UI, WARN logs. `cpus` comes from
  * `SPARK_GRAFT_CPUS` (default 4), so every tool runs the config `Bench`
  * measures. `GraftExtensions` is not installed here; the queries that
  * need it install it on the live session themselves.
  */
object Session {
  /** Entries of Spark's JVM-wide generated-class cache (Spark's default
    * is 100). One pass over the whole catalog at sf0.001 compiled 5 744
    * classes with the cache unbounded (`tools.ProfileQuery` over every
    * query), so at 100 entries every pass evicts and recompiles; driver
    * and executor threads key the cache by different class loaders, so
    * one class body can take two entries. 8 192 holds the catalog's
    * working set with room to grow. The cache is static: the first
    * session of the JVM sets it. Its cost is the classes it keeps
    * loaded: over one full `Verify` pass at sf0.01 (4 cores, 4 GB heap,
    * `jstat` every 2 s) metaspace peaked at 272 MB, against 234 MB at
    * 100 entries; the sampled heap peak (garbage included) was 2 157 MB
    * against 1 937 MB.
    */
  val CodegenCacheEntries = 8192

  def local(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
