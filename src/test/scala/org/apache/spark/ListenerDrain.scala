package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Listener delivery is asynchronous; the bus's drain is private to
  * Spark, so this test shim lives in Spark's package. */
object ListenerDrain {
  def apply(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}

/** Spark jobs `body` starts from this thread. Jobs carry the thread's
  * job group, so a job of another thread never counts. */
object JobCount {
  def apply(spark: SparkSession)(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"jobcount-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, "job count")
    try body
    finally {
      sc.clearJobGroup()
      ListenerDrain(spark)
      sc.removeSparkListener(l)
    }
    n.get
  }
}
