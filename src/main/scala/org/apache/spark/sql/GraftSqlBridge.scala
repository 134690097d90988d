package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** graft's read-side internal-API bridge: build a DataFrame from a
  * custom LogicalPlan (`Dataset.ofRows` is private[sql], the standard
  * extension-library access point). Its one twin is [[GraftWriteBridge]];
  * everything else in graft sticks to public APIs.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)
}
