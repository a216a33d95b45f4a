package graft.ops

import org.apache.spark.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Spark work launched while a body runs: jobs started and shuffle bytes
  * written by tasks, counted by a listener. Specs pin upper bounds on an
  * operator's footprint with it, so a plan that does duplicate work
  * fails by name instead of only running slower.
  */
final case class Footprint(jobs: Int, shuffleBytes: Long)

object Footprint {
  def of(spark: SparkSession)(body: => Unit): Footprint = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val bytes = new java.util.concurrent.atomic.AtomicLong()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          bytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    ListenerBusBridge.drain(sc)
    sc.addSparkListener(listener)
    try { body; ListenerBusBridge.drain(sc) }
    finally sc.removeSparkListener(listener)
    Footprint(jobs.get(), bytes.get())
  }
}
