package org.apache.spark.sql.graft

import java.util.concurrent.{Callable, ExecutionException, ForkJoinPool, Future}

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.util.{CallSite, Utils}

/** Minimal bridge into the `private[sql]` Column ⇄ Expression converters so
  * graft's native Catalyst expressions can be used as ordinary Columns in
  * any session (no SparkSessionExtensions registration required), and into
  * the `private[spark]` thread-local job properties, so work handed to a
  * pool thread stays in its caller's job group. Lives in an
  * `org.apache.spark.sql` subpackage on purpose — the supported pattern
  * for Spark-native extension libraries.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a temp SQL function on a live session (the post-hoc
    * counterpart to SparkSessionExtensions.injectFunction).
    */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** Starts `body` on the common fork-join pool under a copy of the
    * calling thread's Spark local properties (job group, description,
    * scheduler pool) and with `spark` as the active session, so its jobs
    * belong to the caller's job group; the pool thread's own are restored
    * after. Its jobs carry the caller's call site too, as a pool thread's
    * own stack names no caller. [[await]] returns its value or throws its
    * exception.
    */
  def fork[A](spark: SparkSession)(body: => A): Future[A] = {
    val sc = spark.sparkContext
    val props = Utils.cloneProperties(sc.getLocalProperties)
    val site = sc.getCallSite()
    props.setProperty(CallSite.SHORT_FORM, site.shortForm)
    props.setProperty(CallSite.LONG_FORM, site.longForm)
    ForkJoinPool.commonPool().submit(new Callable[A] {
      override def call(): A = {
        val (ownProps, ownSession) = (sc.getLocalProperties, SparkSession.getActiveSession)
        sc.setLocalProperties(props)
        SparkSession.setActiveSession(spark)
        try body finally {
          sc.setLocalProperties(ownProps)
          ownSession.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
        }
      }
    })
  }

  /** The value of a [[fork]]ed body, or the exception it threw. */
  def await[A](f: Future[A]): A =
    try f.get() catch { case e: ExecutionException if e.getCause != null => throw e.getCause }
}
