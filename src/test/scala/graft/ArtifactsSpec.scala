package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, IvfModel, PcaModel, PqModel, Search}
import graft.sources.Tables

/** The session artifact store keys every entry by (session, kind, name)
  * and the snapshot it was built from: a corpus rewritten in place is read
  * afresh by every cached artifact with no invalidate call, sessions share
  * nothing, and spellings of one dir resolve to one entry.
  */
class ArtifactsSpec extends SparkSpec {

  private val small = "/root/testdata/sf0.001" // 500 documents, 500 vectors
  private val large = "/root/testdata/sf0.1" // 5,000 documents, 2,000 vectors

  private def write(dir: String, docs: DataFrame, vecs: DataFrame): Unit = {
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    vecs.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  private def grouped(s: SparkSession, dir: String): Long =
    Dedup.normGroups(Tables.documents(s, dir))
      .agg(sum(size(col("members")))).head.getLong(0)

  private def bm25(s: SparkSession, dir: String): Seq[(Long, Double)] =
    Search.bm25TopFor(s, dir, Search.QueryText, Search.BmK).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq

  private def deep(a: Array[Array[Double]]): Seq[Seq[Double]] = a.map(_.toSeq).toSeq

  test("an in-place rewrite is read afresh by every cached artifact, no invalidate") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rewrite").toString
    write(dir, Tables.documents(spark, small), Tables.embeddings(spark, small))
    val s = spark.newSession()
    assert(IvfModel.corpusCount(s, dir) == 500)
    IvfModel.centroids(s, dir)
    PqModel.codebooks(s, dir)
    PcaModel.model(s, dir)
    assert(Dedup.embeddingDim(s, dir) == 64)
    val before = bm25(s, dir)
    assert(grouped(s, dir) == 500)

    // 2,000 rows of each table; the vectors cut to 32 dims
    write(dir, Tables.documents(spark, large).filter(col("doc_id") < 2000),
      Tables.embeddings(spark, large)
        .withColumn("embedding", slice(col("embedding"), 1, 32)))
    val vecs = Tables.embeddings(spark, dir)
    assert(IvfModel.corpusCount(s, dir) == 2000)
    assert(deep(IvfModel.centroids(s, dir)) ==
      deep(IvfModel.fitFromDf(vecs, "vec_id", "embedding", IvfModel.adaptiveK(s, dir))))
    assert(PqModel.codebooks(s, dir).map(deep).toSeq ==
      PqModel.fitFromDf(vecs, "vec_id", "embedding").map(deep).toSeq)
    val (mean, comps) = PcaModel.model(s, dir)
    val (wantMean, wantComps) = PcaModel.fitFromDf(vecs, "vec_id", "embedding")
    assert(mean.toSeq == wantMean.toSeq && deep(comps) == deep(wantComps))
    assert(Dedup.embeddingDim(s, dir) == 32)
    val after = bm25(s, dir)
    assert(after != before)
    assert(after == bm25(spark.newSession(), dir))
    assert(grouped(s, dir) == 2000)
    Artifacts.invalidate(s)
  }

  test("sessions share no entry, and invalidating one keeps the other's") {
    val (s1, s2) = (spark.newSession(), spark.newSession())
    def touch(s: SparkSession): DataFrame = {
      IvfModel.corpusCount(s, small)
      bm25(s, small)
      Dedup.normGroups(Tables.documents(s, small))
    }
    val g1 = touch(s1)
    val held = Artifacts.entryCount(s1)
    assert(held == 5) // count, per-doc maps, vocabulary, BM25 constants, groups
    assert(Artifacts.entryCount(s2) == 0)
    val g2 = touch(s2)
    assert(!(g2 eq g1), "a second session was served the first one's frame")
    assert(Artifacts.entryCount(s2) == held)
    Artifacts.invalidate(s2)
    assert(Artifacts.entryCount(s2) == 0)
    assert(Artifacts.entryCount(s1) == held)
    assert(touch(s1) eq g1, "invalidating one session dropped the other's entry")
    Artifacts.invalidate(s1)
  }

  test("dir, dir/ and file:dir resolve to one entry") {
    val s = spark.newSession()
    for (d <- Seq(small, small + "/", "file:" + small)) {
      assert(IvfModel.corpusCount(s, d) == 500)
      bm25(s, d)
      grouped(s, d)
    }
    assert(Artifacts.entryCount(s, "count") == 1)
    assert(Artifacts.entryCount(s, "perdoc") == 1)
    assert(Artifacts.entryCount(s, "normGroups") == 1)
    Artifacts.invalidate(s)
  }
}
