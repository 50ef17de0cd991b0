package graft

import org.apache.spark.sql.functions._

import graft.index.IndexStore
import graft.operators.{PqModel, VectorOps}
import graft.sources.Tables

class IndexPqSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("ivfpq build persists codes + model sidecars and adcSearch replays ann_ivfpq") {
    val root = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString
    val vectors = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    IndexStore.build(vectors, root, "pqidx", "ivfpq")

    // the stored rows are CODES, not vectors — SubSpaces longs each
    val idx = IndexStore.load(spark, root, "pqidx")
    assert(idx.columns.toSet == Set("id", "codes", "cell", "text"))
    val row = idx.limit(1).collect()(0)
    assert(row.getSeq[Long](row.fieldIndex("codes")).length == PqModel.SubSpaces)

    // model sidecars round-trip exactly through parquet
    val cents = IndexStore.loadCentroids(spark, root, "pqidx")
    assert(cents.length == VectorOps.NumCells)
    val cb = IndexStore.loadCodebooks(spark, root, "pqidx")
    assert(cb.length == PqModel.SubSpaces && cb(0).length == PqModel.Codes)
    val fitCb = PqModel.fitFromDf(vectors, "id", "vec")
    assert(cb.zip(fitCb).forall { case (a, b) =>
      a.zip(b).forall { case (x, y) => x.sameElements(y) } })

    // serving from the persisted artifact == the oracle-gated operator
    val queries = vectors.filter(col("id") < 10)
    val got = IndexStore.adcSearch(spark, root, "pqidx", queries, VectorOps.DefaultK)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rk"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("score"))).sorted.toSeq
    val want = VectorOps.annIvfPq(spark, dir)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rk"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("score"))).sorted.toSeq
    assert(got == want)

    // the probe is a partition filter: the scan of one query's search
    // touches only its nprobe cells
    val one = IndexStore.adcSearch(spark, root, "pqidx",
      vectors.filter(col("id") === 0), VectorOps.DefaultK)
    val scans = one.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.exists(_.partitionFilters.nonEmpty), "partition filter missing")
  }

  test("an index built at a tuned dial serves with it by default") {
    val root = java.nio.file.Files.createTempDirectory("graft_dial").toString
    val vectors = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    // a non-rule dial (8 ≠ the build nprobe 4), as a per-corpus tuning
    // would choose it
    IndexStore.build(vectors, root, "dialidx", "ivfpq",
      params = IndexStore.Params(VectorOps.NumCells, VectorOps.NProbe,
        assignProbes = 8),
      measuredRecall = 0.9)
    assert(IndexStore.manifest(root, "dialidx").servingProbes == 8)
    val queries = vectors.filter(col("id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rk"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("score"))).sorted.toSeq
    // default serve == explicit nprobe=8 serve: the tuned dial travels
    // with the artifact, the serving job never re-tunes or guesses
    val dflt = rows(IndexStore.adcSearch(spark, root, "dialidx", queries,
      VectorOps.DefaultK))
    val at8 = rows(IndexStore.adcSearch(spark, root, "dialidx", queries,
      VectorOps.DefaultK, nprobe = 8))
    assert(dflt == at8)
    // an explicit override still wins over the persisted dial
    val at1 = rows(IndexStore.adcSearch(spark, root, "dialidx", queries,
      VectorOps.DefaultK, nprobe = 1))
    assert(at1 != dflt, "nprobe=1 over 16 cells must change some top-5 list")
  }
}
