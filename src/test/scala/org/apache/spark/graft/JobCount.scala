package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block starts on the calling thread: the block
  * runs under a fresh job group, and the count is read after the listener
  * bus has delivered every event. The bus is package-private to Spark,
  * hence this package.
  */
object JobCount {
  def apply[A](sc: SparkContext)(f: => A): (A, Int) = {
    val group = s"graft-job-count-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group)
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count")
    try {
      val a = f
      sc.listenerBus.waitUntilEmpty()
      (a, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
