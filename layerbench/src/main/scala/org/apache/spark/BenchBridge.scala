package org.apache.spark

/** The one Spark-internal call the layer benchmark needs: wait until the
  * listener bus has delivered every queued event, so the counters read
  * after a timed window include all of the window's tasks and batches.
  */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
