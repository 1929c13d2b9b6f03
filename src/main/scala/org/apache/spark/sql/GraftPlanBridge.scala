package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Package-private bridge: lets the graft library wrap a custom
  * LogicalPlan back into a DataFrame (`Dataset.ofRows` is
  * private[sql]). The only thing in this package, on purpose.
  */
object GraftPlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)
}
