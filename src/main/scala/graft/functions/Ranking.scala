package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}
import org.apache.spark.sql.graft.RankedTopKStrategy

/** Distributed top-k with dense 1..k ranks: global ([[topK]]) and per
  * group ([[topKPer]]).
  *
  * `row_number() OVER (ORDER BY …)` forces the WHOLE frame through one
  * task. [[topK]] instead keeps each partition's top k in a bounded heap
  * and merges the heaps, then numbers the k survivors: with a
  * deterministic total order the rows are those of the window form, and
  * only ≤ k rows per partition ever leave their task.
  */
object Ranking {

  /** `df`'s first `k` rows in `order`, with a non-null long `rk` = 1..k
    * appended. Lazy: a plan node (`RankedTopK`), planned by a strategy
    * this call adds to `df`'s session on first use. Collected at the plan
    * root, alone or under a projection, it runs as one stage with no
    * exchange: the heaps merge on the driver and the projection runs on
    * the k survivors. Below a join, union or aggregate the survivors are
    * shuffled into one partition and merged there.
    */
  def topK(df: DataFrame, k: Int, order: Column*): DataFrame =
    RankedTopKStrategy.topK(df, k, order)

  /** The first `k` rows in `order` of each group of equal `by` values
    * (null is one group), with a non-null long `rk` = 1..k appended. The
    * `row_number()` window under an `rk <= k` filter, which Spark plans as
    * a `WindowGroupLimit`: each map task passes ≤ k rows per group to the
    * exchange on `by`.
    */
  def topKPer(df: DataFrame, k: Int, by: Column, order: Column*): DataFrame =
    df.withColumn("rk", row_number().over(Window.partitionBy(by).orderBy(order: _*)))
      .filter(col("rk") <= k)
      .withColumn("rk", col("rk").cast("long"))
}
