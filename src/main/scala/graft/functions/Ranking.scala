package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Distributed global top-k with dense 1..k ranks.
  *
  * `row_number() OVER (ORDER BY …)` forces the WHOLE frame through one
  * task; `orderBy(...).limit(k)` plans as TakeOrdered (per-partition heaps
  * merged at the driver), after which ranking the k survivors is trivial.
  * With a deterministic total order the two produce identical rows — this
  * is the only form that survives a corpus-sized input.
  */
object Ranking {
  def topK(df: DataFrame, k: Int, order: Column*): DataFrame =
    df.orderBy(order: _*).limit(k)
      .withColumn("rk", row_number().over(Window.orderBy(order: _*)).cast("long"))

  /** [[topK]]'s rows, computed now as a local frame. With the TakeOrdered
    * at the plan root the per-partition heaps merge on the driver, one job
    * and no shuffle; under [[topK]]'s window they are shuffled first.
    */
  def topKLocal(df: DataFrame, k: Int, order: Column*): DataFrame = {
    val rows = df.orderBy(order: _*).limit(k).collect().zipWithIndex
      .map { case (r, i) => Row.fromSeq(r.toSeq :+ (i + 1L)) }
    df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*),
      df.schema.add("rk", LongType, nullable = false))
  }
}
