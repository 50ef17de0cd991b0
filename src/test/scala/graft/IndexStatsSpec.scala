package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.index.{IndexStats, IndexStore}
import graft.pipeline.IndexPipeline

/** /stats/{index} analytics over the chunk text in the index rows, pinned
  * against a python-replica of analytics.py's percentile + histogram on
  * the collected chunk texts.
  */
class IndexStatsSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def pythonPercentile(vals: Seq[Long], p: Double): Double = {
    val a = vals.sorted
    val k = (a.length - 1) * p
    val f = math.floor(k).toInt
    val c = math.ceil(k).toInt
    if (f == c) a(k.toInt).toDouble
    else a(f) + (a(c) - a(f)) * (k - f)
  }

  test("index stats match the analytics.py replica on the sidecar") {
    val root = Files.createTempDirectory("graft-stats").toString
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).limit(60)
    val cfg = IndexPipeline.Config(name = "stats_ix", backend = "flat")
    IndexPipeline.build(docs, root, cfg)

    val lens = IndexStore.loadDocs(spark, root, "stats_ix").get
      .collect().map(_.getAs[String]("text").length.toLong).toSeq
    val row = IndexStats.stats(spark, root, "stats_ix").collect()(0)
    assert(row.getAs[Long]("chunks") == lens.length)
    assert(row.getAs[Long]("len_min") == lens.min)
    assert(row.getAs[Long]("len_max") == lens.max)
    assert(math.abs(row.getAs[Double]("len_avg") -
      lens.sum.toDouble / lens.length) < 1e-9)
    assert(math.abs(row.getAs[Double]("len_p95") -
      pythonPercentile(lens, 0.95)) < 1e-9)
  }

  test("index histogram covers every chunk once with reference binning") {
    val root = Files.createTempDirectory("graft-stats").toString
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).limit(60)
    IndexPipeline.build(docs, root, IndexPipeline.Config(name = "hist_ix"))
    val lens = IndexStore.loadDocs(spark, root, "hist_ix").get
      .collect().map(_.getAs[String]("text").length.toLong).toSeq
    val hist = IndexStats.histogram(spark, root, "hist_ix").collect()
    assert(hist.map(_.getAs[Long]("n")).sum == lens.length)
    // replica of analytics.py:118-135 binning
    val (vmin, vmax) = (lens.min, lens.max)
    if (vmin != vmax) {
      val step = math.max(1L, math.ceil((vmax - vmin).toDouble / 20).toLong)
      val want = lens.groupBy { x =>
        if (x == vmax) 19L else math.min(19L, (x - vmin) / step)
      }.view.mapValues(_.length.toLong).toMap
      hist.foreach { r =>
        val bin = r.getAs[Long]("bin")
        assert(r.getAs[Long]("n") == want.getOrElse(bin, 0L), s"bin $bin")
      }
    }
  }

  test("versionsMeta lists metas newest-first") {
    val root = Files.createTempDirectory("graft-stats").toString
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).limit(10)
    IndexPipeline.build(docs, root, IndexPipeline.Config(name = "vm_ix"))
    val metas = IndexStore.versionsMeta(root, "vm_ix")
    assert(metas.length == 1)
    assert(metas.head.contains("\"index_backend\": \"flat\""))
  }
}
