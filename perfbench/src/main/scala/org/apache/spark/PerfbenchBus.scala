package org.apache.spark

import org.apache.spark.sql.SparkSession

/** Listener delivery is asynchronous; the bus's drain is private to
  * Spark, so this shim lives in Spark's package. */
object PerfbenchBus {
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
