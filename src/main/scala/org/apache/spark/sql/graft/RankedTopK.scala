package org.apache.spark.sql.graft

import org.apache.spark.rdd.{ParallelCollectionRDD, RDD}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, AttributeSet,
  GenericInternalRow, JoinedRow, NamedExpression, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort, Statistics,
  UnaryNode}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.util.truncatedString
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{ShuffledRowRDD, SparkPlan, SparkStrategy, UnaryExecNode,
  UnsafeRowSerializer}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.metric.{SQLShuffleReadMetricsReporter,
  SQLShuffleWriteMetricsReporter}
import org.apache.spark.sql.types.LongType
import org.apache.spark.util.collection.Utils

/** The first `k` rows of `child` in `order`, numbered 1..k in `rk`: a
  * global top-k with dense ranks, planned by [[RankedTopKStrategy]].
  */
case class RankedTopK(k: Int, order: Seq[SortOrder], rk: Attribute, child: LogicalPlan)
    extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rk
  override def producedAttributes: AttributeSet = AttributeSet(rk)
  override def maxRows: Option[Long] = Some(child.maxRows.fold(k.toLong)(math.min(_, k)))
  // at most k rows whatever the child's size, so the planner broadcasts
  // the ranking into a join instead of shuffling the other side
  override def stats: Statistics = {
    val rows = BigInt(maxRows.get)
    Statistics(EstimationUtils.getOutputSize(output, rows), Some(rows))
  }
  override protected def withNewChildInternal(newChild: LogicalPlan): RankedTopK =
    copy(child = newChild)
}

/** [[RankedTopK]] with the `projectList` of a Project directly above it,
  * evaluated on the k survivors only.
  *
  * At the plan root ([[executeCollect]]) each partition keeps its top k in
  * a bounded heap and the driver merges the heaps: one stage, no exchange.
  * Below other operators ([[doExecute]]) the ≤ k rows per partition are
  * shuffled into one partition and merged there, as
  * `TakeOrderedAndProjectExec` does.
  */
case class RankedTopKExec(k: Int, order: Seq[SortOrder], rk: Attribute,
                          projectList: Seq[NamedExpression], child: SparkPlan)
    extends UnaryExecNode {
  override def output: Seq[Attribute] = projectList.map(_.toAttribute)
  override def producedAttributes: AttributeSet = AttributeSet(rk)
  override def outputPartitioning: Partitioning = SinglePartition
  override def simpleString(maxFields: Int): String =
    s"RankedTopK(k=$k, orderBy=${truncatedString(order, "[", ",", "]", maxFields)}, " +
      s"output=${truncatedString(output, "[", ",", "]", maxFields)})"

  private lazy val writeMetrics =
    SQLShuffleWriteMetricsReporter.createShuffleWriteMetrics(sparkContext)
  private lazy val readMetrics =
    SQLShuffleReadMetricsReporter.createShuffleReadMetrics(sparkContext)
  override lazy val metrics = readMetrics ++ writeMetrics

  private def ordering = new LazilyGeneratedOrdering(order, child.output)

  /** Projects rows already in rank order, numbering them from 1. */
  private def ranked(rows: Iterator[InternalRow]): Iterator[InternalRow] = {
    val proj = UnsafeProjection.create(projectList, child.output :+ rk)
    proj.initialize(0)
    val rank = new GenericInternalRow(1)
    val joined = new JoinedRow
    rows.zipWithIndex.map { case (r, i) =>
      rank.setLong(0, i + 1L)
      proj(joined(r, rank)).copy()
    }
  }

  override def executeCollect(): Array[InternalRow] = executeQuery {
    val top = child.execute().mapPartitionsInternal(_.map(_.copy())).takeOrdered(k)(ordering)
    ranked(top.iterator).toArray
  }

  override def executeTake(n: Int): Array[InternalRow] = executeCollect().take(n)

  protected override def doExecute(): RDD[InternalRow] = {
    val ord = ordering
    val local = child.execute().mapPartitionsInternal(rows =>
      Utils.takeOrdered(rows.map(_.copy()), k)(ord))
    val single =
      if (local.getNumPartitions == 0)
        new ParallelCollectionRDD(sparkContext, Seq.empty[InternalRow], 1, Map.empty)
      else if (local.getNumPartitions == 1) local
      else new ShuffledRowRDD(ShuffleExchangeExec.prepareShuffleDependency(local, child.output,
        SinglePartition, new UnsafeRowSerializer(child.output.size), writeMetrics), readMetrics)
    single.mapPartitionsInternal(rows => ranked(Utils.takeOrdered(rows.map(_.copy()), k)(ord)))
  }

  override protected def withNewChildInternal(newChild: SparkPlan): RankedTopKExec =
    copy(child = newChild)
}

/** Plans [[RankedTopK]], absorbing a Project directly above it. */
object RankedTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Project(list, t: RankedTopK) =>
      RankedTopKExec(t.k, t.order, t.rk, list, planLater(t.child)) :: Nil
    case t: RankedTopK =>
      RankedTopKExec(t.k, t.order, t.rk, t.output, planLater(t.child)) :: Nil
    case _ => Nil
  }

  /** Adds the strategy to `spark`'s planner; a second call does nothing. */
  def install(spark: SparkSession): Unit = {
    val ext = spark.experimental
    ext.synchronized {
      if (!ext.extraStrategies.contains(this)) ext.extraStrategies = this +: ext.extraStrategies
    }
  }

  /** `df`'s first `k` rows in `order`, numbered 1..k in a non-null long
    * column `rk` (see [[RankedTopK]]).
    */
  def topK(df: DataFrame, k: Int, order: Seq[Column]): DataFrame = {
    require(k >= 0, s"top-k needs k >= 0, got $k")
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    install(spark)
    df.orderBy(order: _*).queryExecution.analyzed match {
      case Sort(o, true, child, _) =>
        // `rk` leaves through an alias, which a self-join renames on one side
        val rk = AttributeReference("rk", LongType, nullable = false)()
        classic.Dataset.ofRows(spark, Project(child.output :+ Alias(rk, "rk")(),
          RankedTopK(k, o, rk, child)))
      case other => throw new IllegalArgumentException(
        s"topK orders by the frame's own columns; got the plan:\n$other")
    }
  }
}
