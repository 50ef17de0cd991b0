package org.apache.spark.graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Counts the Spark jobs a block starts on the calling thread, and the
  * shuffle bytes their tasks write: the block runs under a fresh job group,
  * and the counts are read after the listener bus has delivered every
  * event. The bus is package-private to Spark, hence this package.
  */
object JobCount {
  /** `(block's value, jobs started, shuffle bytes written)`. */
  def apply[A](sc: SparkContext)(f: => A): (A, Int, Long) = {
    val group = s"graft-job-count-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val shuffleBytes = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group) {
          n.incrementAndGet()
          e.stageIds.foreach(stages.add)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          shuffleBytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count")
    try {
      val a = f
      sc.listenerBus.waitUntilEmpty()
      (a, n.get, shuffleBytes.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
