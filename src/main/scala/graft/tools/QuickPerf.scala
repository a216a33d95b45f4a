package graft.tools

/** Scratch timing harness: run a named subset of SparkEntry.queries a few
  * times each in one JVM and print per-run wall times — used to attribute
  * per-query cost without full-bench noise. Not part of the driver contract.
  */
object QuickPerf {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = if (args.nonEmpty) args.toSeq
    else Seq("q24_simsearch_brute", "q25_simsearch_lsh", "q40_simsearch_ivf")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = graft.Session.local("graft-quickperf")
    // warm-up: JVM + codegen paths
    graft.SparkEntry.queries("q01_gold_flagship")(spark, sfDir).collect()
    for (n <- names; r <- 1 to reps) {
      val t0 = System.nanoTime()
      val cnt = graft.SparkEntry.queries(n)(spark, sfDir).collect().length
      // release inside the timed window, matching Bench's lifecycle —
      // otherwise rep 2+ reads rep 1's pinned caches and under-reports
      graft.ops.Dedup.releaseCaches()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"QP $n%-24s run$r rows=$cnt%-6d ${sec}%.3f s")
    }
    spark.stop()
  }
}
