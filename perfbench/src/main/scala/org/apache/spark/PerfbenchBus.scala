package org.apache.spark

/** Lets the benchmark wait until every queued listener event has been
  * delivered, so span and counter reads never race the listener bus. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
