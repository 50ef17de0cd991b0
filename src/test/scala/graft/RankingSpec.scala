package graft

import org.apache.spark.graft.JobCount
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.window.WindowGroupLimitExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.RankedTopKStrategy

import graft.functions.Ranking

/** `Ranking.topK` and `Ranking.topKPer` against driver replicas: sort
  * every row (of each group), take k, number them 1..k. The input spans
  * several partitions, its first order key has ties and nulls, and the
  * last order key is unique, so the order is total.
  */
class RankingSpec extends SparkSpec {

  /** `n` rows `(id, g, s)` in 4 partitions: g = id % 5 (ties), null on
    * every 7th id.
    */
  private def input(n: Long): DataFrame =
    spark.range(0, n, 1, 4).select(col("id"),
      when(col("id") % 7 === 3, lit(null)).otherwise(col("id") % 5).as("g"),
      concat(lit("s"), col("id").cast("string")).as("s"))

  /** (g desc nulls last, id asc), as `Ranking.topK(_, _, g.desc, id)`. */
  private def gDescIdAsc(r: Row): (Boolean, Long, Long) =
    (r.isNullAt(1), if (r.isNullAt(1)) 0L else -r.getLong(1), r.getLong(0))

  /** (g asc nulls first, id desc), as `Ranking.topK(_, _, g, id.desc)`. */
  private def gAscIdDesc(r: Row): (Boolean, Long, Long) =
    (!r.isNullAt(1), if (r.isNullAt(1)) 0L else r.getLong(1), -r.getLong(0))

  private def replica(df: DataFrame, k: Int, key: Row => (Boolean, Long, Long)): Seq[Row] =
    df.collect().toSeq.sortBy(key).take(k).zipWithIndex
      .map { case (r, i) => Row.fromSeq(r.toSeq :+ (i + 1L)) }

  test("topK equals the driver replica at the plan root, in one job with no exchange") {
    val df = input(200)
    assert(df.rdd.getNumPartitions == 4)
    for ((k, order, key) <- Seq(
           (10, Seq(col("g").desc, col("id")), gDescIdAsc _),
           (37, Seq(col("g"), col("id").desc), gAscIdDesc _))) {
      val top = Ranking.topK(df, k, order: _*)
      assert(top.columns.toSeq == Seq("id", "g", "s", "rk"))
      assert(!top.schema("rk").nullable)
      val (rows, jobs, shuffled) = JobCount(spark.sparkContext)(top.collect())
      assert(rows.toSeq == replica(df, k, key))
      assert(jobs == 1, s"k=$k: $jobs jobs")
      assert(shuffled == 0L, s"k=$k: $shuffled shuffle bytes")
      assert(top.queryExecution.executedPlan.collect { case e: Exchange => e }.isEmpty,
        top.queryExecution.executedPlan.toString)
    }
  }

  test("a projection above topK runs on the survivors, with no exchange") {
    val df = input(200)
    val top = Ranking.topK(df, 5, col("g").desc, col("id"))
      .select(col("rk"), upper(col("s")).as("u"))
    val (rows, _, shuffled) = JobCount(spark.sparkContext)(top.collect())
    assert(rows.toSeq == replica(df, 5, gDescIdAsc).map(r => Row(r.getLong(3),
      r.getString(2).toUpperCase)))
    assert(shuffled == 0L)
  }

  test("k beyond the row count, k = 0, empty input and all-null keys") {
    // topK in its own row order; topKPer over one constant group, whose
    // row order is unspecified, in rank order
    for (rank <- Seq[(DataFrame, Int) => DataFrame](
           Ranking.topK(_, _, col("g").desc, col("id")),
           Ranking.topKPer(_, _, lit(0), col("g").desc, col("id")).orderBy("rk"))) {
      val df = input(12)
      assert(rank(df, 50).collect().toSeq == replica(df, 50, gDescIdAsc))
      assert(rank(df, 0).collect().isEmpty)
      val empty = input(0)
      assert(rank(empty, 5).collect().isEmpty)
      assert(rank(empty, 5).count() == 0L)
      val nulls = input(40).withColumn("g", lit(null).cast("long"))
      assert(rank(nulls, 6).collect().toSeq == replica(nulls, 6, gDescIdAsc))
    }
  }

  test("topKPer equals a per-group driver replica and plans a WindowGroupLimit") {
    // groups g (ties, nulls on every 7th id: one null group), score
    // id % 4 descending, ties broken by id
    val df = input(200).withColumn("sc", col("id") % 4)
    val k = 3
    val top = Ranking.topKPer(df, k, col("g"), col("sc").desc, col("id"))
    assert(top.columns.toSeq == Seq("id", "g", "s", "sc", "rk"))
    assert(top.schema("rk").dataType == org.apache.spark.sql.types.LongType)
    assert(!top.schema("rk").nullable)
    val want = df.collect().toSeq
      .groupBy(r => Option(r.get(1)))
      .values.flatMap(_.sortBy(r => (-r.getLong(3), r.getLong(0))).take(k).zipWithIndex
        .map { case (r, i) => Row.fromSeq(r.toSeq :+ (i + 1L)) })
      .toSeq.sortBy(_.getLong(0))
    assert(want.exists(_.isNullAt(1)))
    assert(top.collect().toSeq.sortBy(_.getLong(0)) == want)
    val plan = top.queryExecution.executedPlan
    object Plans extends AdaptiveSparkPlanHelper
    assert(Plans.collect(plan) { case w: WindowGroupLimitExec => w }.nonEmpty, plan.toString)
  }

  test("below a join, union, count, filter or limit, topK returns the same rows") {
    val df = input(200)
    val want = replica(df, 10, gDescIdAsc)
    val top = Ranking.topK(df, 10, col("g").desc, col("id"))
    val joined = top.join(df.select(col("id"), col("s").as("s2")), Seq("id"))
      .select(col("rk"), col("id"), col("s2")).collect()
      .sortBy(_.getLong(0)).toSeq
    assert(joined == want.map(r => Row(r.getLong(3), r.getLong(0), r.getString(2))))
    val other = Ranking.topK(df, 3, col("g"), col("id").desc)
    val unioned = top.union(other).collect().toSeq
    assert(unioned.sortBy(r => (r.getLong(3), r.getLong(0))) ==
      (want ++ replica(df, 3, gAscIdDesc)).sortBy(r => (r.getLong(3), r.getLong(0))))
    assert(top.count() == 10L)
    assert(top.filter(col("rk") <= 4).collect().toSeq == want.take(4))
    assert(top.head(3).toSeq == want.take(3))
  }

  test("a fresh session gets the strategy on first use, once") {
    val fresh = spark.newSession()
    def installed = fresh.experimental.extraStrategies.count(_ == RankedTopKStrategy)
    assert(installed == 0)
    val df = fresh.range(0, 30, 1, 3).select(col("id"),
      (col("id") % 4).as("g"), col("id").cast("string").as("s"))
    val rows = Ranking.topK(df, 4, col("g").desc, col("id")).collect().toSeq
    assert(installed == 1)
    assert(rows == replica(df, 4, gDescIdAsc))
    Ranking.topK(df, 2, col("id")).collect()
    RankedTopKStrategy.install(fresh)
    assert(installed == 1)
  }

  test("a self-join tells the two sides' ranks apart") {
    val df = input(50)
    val want = replica(df, 5, gDescIdAsc).map(_.getLong(0))
    val top = Ranking.topK(df, 5, col("g").desc, col("id"))
    val pairs = top.as("a").join(top.as("b"), col("a.rk") === col("b.rk") + 1)
      .select(col("a.rk"), col("a.id"), col("b.id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(pairs == (2 to 5).map(r => (r.toLong, want(r - 1), want(r - 2))))
  }
}
