package org.apache.spark.graft

import org.apache.spark.{InterruptibleIterator, Partition, SparkEnv, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.RDDBlockId

import scala.reflect.ClassTag

/** A lineage-free view of a persisted RDD's cached partitions: partition
  * `i` reads block `RDDBlockId(parent.id, i)` and nothing else, so a job
  * over the view ships no dependency, no SQL plan and no generated code.
  * The view has no dependencies; its preferred locations are the
  * blocks' locations, which the scheduler looks up once per job. A
  * block that is gone throws [[CachedBlockMissing]]: the caller re-runs
  * its job over `parent`, whose lineage recomputes and re-caches only
  * the lost partitions.
  *
  * Spark's own `BlockRDD` is the model. Reading a block by id and asking
  * the scheduler for block locations are `private[spark]`, so this file
  * sits in an `org.apache.spark` subpackage, the same access mechanism
  * as `org.apache.spark.sql.graft.ColumnShim`; no Spark internals are
  * modified.
  */
final class CachedBlocksRDD[T: ClassTag](@transient private val parent: RDD[T])
    extends RDD[T](parent.sparkContext, Nil) {
  private val parentId = parent.id

  override protected def getPartitions: Array[Partition] =
    Array.tabulate[Partition](parent.getNumPartitions)(new CachedBlockPartition(_))

  override def compute(split: Partition, context: TaskContext): Iterator[T] = {
    val id = RDDBlockId(parentId, split.index)
    SparkEnv.get.blockManager.get[T](id) match {
      case Some(block) =>
        new InterruptibleIterator(context, block.data.asInstanceOf[Iterator[T]])
      case None => throw new CachedBlockMissing(s"cached block $id is gone")
    }
  }

  override protected def getPreferredLocations(split: Partition): Seq[String] =
    sparkContext.dagScheduler.getPreferredLocs(parent, split.index).map(_.toString)
}

private final class CachedBlockPartition(val index: Int) extends Partition

/** A [[CachedBlocksRDD]] task found its block gone. */
final class CachedBlockMissing(message: String) extends Exception(message)
