package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's `/stats/{index_name}` analytics endpoint
  * (`app/api/analytics.py:141-213`): chunk count, length stats (min / max /
  * avg / linear-interpolation p95, `analytics.py:106-115`) and the 20-bin
  * histogram (`:118-135`) — computed over the chunk text the index rows
  * carry ([[IndexStore.loadDocs]]), latest or a specific version.
  *
  * Scale shape: the reference loads the whole `.docs.json` into the server
  * process; here the text is a parquet column scan. The exact interpolated p95
  * is computed from CUMULATIVE COUNTS OVER DISTINCT LENGTHS — chunk
  * lengths are bounded by the chunk size, so the windowed frame is tiny
  * and constant no matter how many chunks the index holds (a row-level
  * rank window would be a single-task sort of the corpus).
  */
object IndexStats {

  /** One row: chunks, len_min, len_max, len_avg, len_p95 (reference field
    * names) over the chunks that carry text.
    */
  def stats(spark: SparkSession, root: String, name: String,
            version: Option[String] = None): DataFrame =
    statsOf(chunkLens(spark, root, name, version))

  /** The reference's 20-bin histogram over the chunk text lengths. */
  def histogram(spark: SparkSession, root: String, name: String,
                version: Option[String] = None): DataFrame =
    graft.operators.Chunking.lengthHistogram(chunkLens(spark, root, name, version))

  private def chunkLens(spark: SparkSession, root: String, name: String,
                        version: Option[String]): DataFrame =
    IndexStore.loadDocs(spark, root, name, version)
      .select(length(col("text")).cast("long").as("len"))

  /** Exact stats over any single `len` column. The p95 is
    * `lo + (hi - lo) * (k - floor(k))` with `k = (n-1) * 0.95`, where
    * lo/hi are the values at ranks floor(k)/ceil(k) — located via
    * cumulative counts per distinct length, so the only window runs over
    * the (bounded) distinct-length frame.
    */
  def statsOf(lens: DataFrame): DataFrame = {
    val byLen = lens.groupBy(col("len")).agg(count(lit(1)).as("c"))
    val w = Window.orderBy(col("len"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = byLen
      .withColumn("cum_end", sum(col("c")).over(w))
      .withColumn("cum_start", col("cum_end") - col("c"))
    val tot = cum.agg(sum(col("c")).as("n"))
    cum.crossJoin(broadcast(tot))
      .withColumn("k", (col("n") - 1).cast("double") * 0.95)
      .agg(
        max(col("n")).as("chunks"),
        min(col("len")).as("len_min"),
        max(col("len")).as("len_max"),
        (sum(col("len") * col("c")).cast("double") / max(col("n"))).as("len_avg"),
        max(when(col("cum_start") <= floor(col("k")) &&
          floor(col("k")) < col("cum_end"), col("len"))).as("lo"),
        max(when(col("cum_start") <= ceil(col("k")) &&
          ceil(col("k")) < col("cum_end"), col("len"))).as("hi"),
        max(col("k")).as("kk"))
      .select(col("chunks"), col("len_min"), col("len_max"), col("len_avg"),
        (col("lo") + (col("hi") - col("lo")) * (col("kk") - floor(col("kk"))))
          .cast("double").as("len_p95"))
  }
}
