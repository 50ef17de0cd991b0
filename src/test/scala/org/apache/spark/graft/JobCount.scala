package org.apache.spark.graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Counts the Spark jobs a block starts on the calling thread, and the
  * shuffle bytes their tasks write: the block runs under a fresh job group,
  * and the counts are read after the listener bus has delivered every
  * event. The bus is package-private to Spark, hence this package.
  */
object JobCount {
  /** `(block's value, jobs started, shuffle bytes written)`. */
  def apply[A](sc: SparkContext)(f: => A): (A, Int, Long) = {
    val (a, sites, shuffleBytes) = observe(sc)(f)
    (a, sites.length, shuffleBytes)
  }

  /** `(block's value, the call site of each job it started)`, in start
    * order, e.g. `count at X.scala:12`: the call site of the SQL query the
    * job runs for, else the name of the job's last stage (a query's stage
    * jobs are submitted from a pool thread, so their stages name that).
    */
  def sites[A](sc: SparkContext)(f: => A): (A, Seq[String]) = {
    val (a, sites, _) = observe(sc)(f)
    (a, sites)
  }

  /** Returns once the listener bus has delivered every event posted so
    * far, so the status tracker has seen every job that has ended.
    */
  def settle(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  private def observe[A](sc: SparkContext)(f: => A): (A, Seq[String], Long) = {
    val group = s"graft-job-count-${java.util.UUID.randomUUID()}"
    val sites = new ConcurrentLinkedQueue[String]
    val queries = new ConcurrentHashMap[String, String]()
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val shuffleBytes = new AtomicLong
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case q: SparkListenerSQLExecutionStart => queries.put(q.executionId.toString, q.description)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group) {
          sites.add(Option(e.properties.getProperty(SQLExecution.EXECUTION_ID_KEY))
            .flatMap(id => Option(queries.get(id)))
            .getOrElse(e.stageInfos.sortBy(_.stageId).lastOption.fold("")(_.name)))
          e.stageIds.foreach(stages.add)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          shuffleBytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, null) // no description: a query is named by its call site
    try {
      val a = f
      sc.listenerBus.waitUntilEmpty()
      (a, sites.asScala.toSeq, shuffleBytes.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
