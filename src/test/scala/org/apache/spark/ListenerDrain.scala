package org.apache.spark

import org.apache.spark.sql.SparkSession

/** Listener delivery is asynchronous; the bus's drain is private to
  * Spark, so this test shim lives in Spark's package. */
object ListenerDrain {
  def apply(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
