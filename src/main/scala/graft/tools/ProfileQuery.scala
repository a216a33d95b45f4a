package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Per-job profiler for one catalog query: runs the named queries once
  * (after a warm-up) with a listener that records every job's wall time
  * and description, then prints the jobs sorted by cost — the "which
  * job inside this 9-second query is the expensive one" attribution
  * step (guide §1.1 empirical loop) that QuickPerf's single wall number
  * can't answer. Per query it also prints how many classes Janino
  * compiled and the compile time: a recompile means the generated class
  * fell out of Spark's codegen cache (`spark.sql.codegen.cache.maxEntries`,
  * sized in [[graft.Session]]). Name a query twice to see whether its
  * second run compiles again. Not part of the driver contract.
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = if (args.nonEmpty) args.toSeq else Seq("q01_gold_flagship")
    val spark = graft.Session.local("graft-profile")
    case class Job(id: Int, desc: String, start: Long, var end: Long)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        jobs.put(js.jobId, Job(js.jobId, desc, js.time, -1L))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val j = jobs.get(je.jobId)
        if (j != null) j.end = je.time
      }
    })
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          val p = e.progress
          import scala.jdk.CollectionConverters._
          val d = p.durationMs.asScala.toSeq.sortBy(-_._2.longValue)
            .map { case (k, v) => s"$k=$v" }.mkString(" ")
          println(s"  BATCH ${p.batchId} rows=${p.numInputRows} $d")
        }
      })
    // warm-up
    graft.SparkEntry.queries("q01_gold_flagship")(spark, sfDir).collect()
    for (n <- names) {
      jobs.clear()
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compileNs0 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      val cnt = graft.SparkEntry.queries(n)(spark, sfDir).collect().length
      graft.ops.Dedup.releaseCaches()
      val sec = (System.nanoTime() - t0) / 1e9
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      val compileSec = (CodeGenerator.compileTime - compileNs0) / 1e9
      // listener events are posted asynchronously; give the bus a beat
      Thread.sleep(300)
      println(f"PROFILE $n rows=$cnt total=${sec}%.3f s")
      println(f"  codegen compiles=$compiles janino=${compileSec}%.3f s")
      import scala.jdk.CollectionConverters._
      val js = jobs.values.asScala.toSeq.sortBy(_.id)
      val totalJobMs = js.filter(_.end > 0).map(j => j.end - j.start).sum
      println(f"  jobs=${js.size} sum(job wall)=${totalJobMs / 1000.0}%.3f s (overlap possible)")
      js.foreach { j =>
        val d = if (j.end > 0) (j.end - j.start) / 1000.0 else -1.0
        println(f"  job ${j.id}%4d ${d}%8.3f s  ${j.desc.take(110)}")
      }
    }
    spark.stop()
  }
}
