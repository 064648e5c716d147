package org.apache.spark.graft

import org.apache.spark.SparkEnv
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.RDDBlockId

/** Test access to an RDD's cached blocks, which the block manager keeps
  * behind `private[spark]`: drop one, as a lost executor would, and ask
  * whether one is cached anywhere. Removal is synchronous on a local
  * master, whose driver block manager holds every block. */
object BlockShim {
  def removeCached(rdd: RDD[_], partition: Int): Unit =
    SparkEnv.get.blockManager.removeBlock(RDDBlockId(rdd.id, partition))

  def isCached(rdd: RDD[_], partition: Int): Boolean =
    SparkEnv.get.blockManager.master.getLocations(RDDBlockId(rdd.id, partition)).nonEmpty
}
