package org.apache.spark

/** Access to the listener bus, which is private to Spark: the harness waits
  * for every queued listener event before it attributes events to spans.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
