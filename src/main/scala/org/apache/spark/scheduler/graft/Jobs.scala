package org.apache.spark.scheduler.graft

import org.apache.spark.SparkContext

/** Forwarder to `DAGScheduler.numTotalJobs`, which is
  * `private[scheduler]`: the number of jobs the context has ever
  * submitted, counted when a job is submitted (before it runs, and
  * also for a job with no partitions). [[graft.Op]] compares it across
  * an operator's construction to tell whether the construction ran a
  * job. Unlike a SparkListener it is exact at once: listener events
  * arrive on another thread, later. */
object Jobs {
  def submitted(sc: SparkContext): Int = sc.dagScheduler.numTotalJobs
}
