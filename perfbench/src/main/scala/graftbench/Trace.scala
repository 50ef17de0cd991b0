package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed interval at a layer boundary. `parent` is the id of the span
  * that caused it (-1 for an op's root span); spans of one op share `op`.
  */
final case class Span(id: Int, name: String, op: String, parent: Int,
                      startNs: Long, endNs: Long, own: Boolean) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark and JVM counters attributed to one op id. */
final class OpCounters {
  var jobs = 0L
  var tasks = 0L
  var rowsRead = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var taskTimeMs = 0L
  /** executor run time of each task, per stage, for the skew ratio */
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
}

/** Records spans and Spark listener counters in memory; nothing is written
  * until the run ends. Ops are attributed through a local property the
  * client thread sets before it submits work, so every job, stage and task
  * lands on the op that caused it.
  */
final class Tracer(spark: SparkSession) {
  val OpKey = "graftbench.op"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var currentOp = ""
  private var own = true
  val counters = new java.util.concurrent.ConcurrentHashMap[String, OpCounters]()
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  private def of(op: String): OpCounters = counters.computeIfAbsent(op, _ => new OpCounters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).getOrElse("")
      if (op.nonEmpty) {
        of(op).synchronized { of(op).jobs += 1 }
        e.stageIds.foreach(s => stageOp.put(s, op))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val op = stageOp.get(e.stageId)
      if (op != null && e.taskMetrics != null) {
        val c = of(op)
        val m = e.taskMetrics
        c.synchronized {
          c.tasks += 1
          c.rowsRead += m.inputMetrics.recordsRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.taskTimeMs += m.executorRunTime
          c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
            m.executorRunTime
        }
      }
    }
  }
  spark.sparkContext.addSparkListener(listener)

  /** Start an op: later spans and Spark work belong to it. `own` marks ops
    * of the workload's own flow, the only ones trace.coverage counts.
    */
  def op[A](id: String, ownFlow: Boolean = true)(f: => A): A = {
    val prevOp = currentOp; val prevOwn = own
    currentOp = id; own = ownFlow
    spark.sparkContext.setLocalProperty(OpKey, id)
    try f finally {
      currentOp = prevOp; own = prevOwn
      spark.sparkContext.setLocalProperty(OpKey, if (prevOp.isEmpty) null else prevOp)
    }
  }

  def span[A](name: String)(f: => A): A = {
    val id = spans.length
    val parent = stack.headOption.getOrElse(-1)
    spans += Span(id, name, currentOp, parent, System.nanoTime(), 0L, own)
    stack.push(id)
    try f finally {
      stack.pop()
      spans(id) = spans(id).copy(endNs = System.nanoTime())
    }
  }

  def all: Seq[Span] = spans.toSeq

  /** Named counts at layer boundaries (rows, chunks, bytes, ...), kept
    * apart for the workload's own flow and for auxiliary calls.
    */
  val gauges = mutable.LinkedHashMap.empty[(String, Boolean), Double]
  def gauge(name: String, v: Double, ownFlow: Boolean): Unit = gauges((name, ownFlow)) = v

  /** Rows of the artifact each search op read from, for scan_fraction. */
  val artifactRows = mutable.LinkedHashMap.empty[String, Long]
  def searched(op: String, rows: Long): Unit = artifactRows(op) = rows

  /** Self time of each span: its duration minus the part its children cover. */
  def selfMs: Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map(s => s.id -> (s.ms - kids.getOrElse(s.id, Nil).map(_.ms).sum)).toMap
  }

  /** Block until the listener bus has delivered every event so far. */
  def drain(): Unit = org.apache.spark.graftbench.BusDrain.drain(spark.sparkContext)

  def close(): Unit = spark.sparkContext.removeSparkListener(listener)
}

/** Total collector time of every JVM garbage collector, in seconds. */
object Gc {
  def seconds: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }
}
