package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to Spark's listener bus, which is `private[spark]`:
  * listener events are delivered asynchronously, so a test that counts
  * them must wait until every posted event has been handled. */
object ListenerBusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
