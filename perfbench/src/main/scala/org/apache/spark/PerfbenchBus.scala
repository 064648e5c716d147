package org.apache.spark

/** Lets the benchmark wait until every posted listener event has been
  * delivered, so the trace it writes is complete. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
