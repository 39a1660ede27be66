package org.apache.spark.sql.classic

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge into Spark's private[sql] plan<->DataFrame seam —
  * the standard packaging technique of Spark extension libraries
  * (Delta/Iceberg/Sedona all ship an org.apache.spark.sql.* bridge):
  * graft builds custom logical operators (graft.plans.AsOfJoin) and
  * needs to hand them back to the session as DataFrames. It also
  * reaches the private[spark] listener bus for the measuring tools.
  */
object GraftBridge {
  def ofRows(spark: org.apache.spark.sql.SparkSession, plan: LogicalPlan):
      org.apache.spark.sql.DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession], plan)

  /** Waits (10 s, then throws) until the listener bus is empty. */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
