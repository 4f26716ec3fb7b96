package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Forwarder to `classic.Dataset.ofRows`, which is `private[sql]`:
  * the one way [[graft.plans.SqlOver]] turns a logical plan into a
  * DataFrame analyzed once, without a temp view or a catalog entry. */
object Datasets {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
