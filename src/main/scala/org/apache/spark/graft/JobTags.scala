package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.util.ThreadUtils

import scala.concurrent.duration.Duration

/** Cancelling tagged jobs and waiting for it. `SparkContext.cancelJobsWithTag`
  * only posts the request; the variant that reports when the scheduler
  * has failed the jobs is `private[spark]`, so this sits in an
  * `org.apache.spark` subpackage, as [[CachedBlocksRDD]] does. */
object JobTags {
  /** Cancels every active job tagged `tag` and returns once the scheduler
    * has failed them (their job-end events are posted). */
  def cancel(sc: SparkContext, tag: String, reason: String): Unit =
    ThreadUtils.awaitReady(sc.cancelJobsWithTagWithFuture(tag, reason), Duration.Inf)
}
