package org.apache.spark

/** Test-side access to one Spark-internal call: wait until the listener
  * bus has delivered every queued event, so a listener's counters are
  * complete when a spec reads them.
  */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
