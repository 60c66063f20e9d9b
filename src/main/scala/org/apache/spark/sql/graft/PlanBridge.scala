package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into the `private[sql]` Dataset/LogicalPlan constructors — the
  * standard pattern for libraries that ship whole custom operators (a
  * `LogicalPlan` + `SparkStrategy` + `SparkPlan` triple) and need to wrap
  * the logical node back into a user-facing DataFrame.
  */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Blocks until every event posted to the session's listener bus has
    * been delivered (`LiveListenerBus` is `private[spark]`).
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
