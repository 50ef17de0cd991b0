package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

import graft.operators.{Dedup, VectorOps}
import graft.sources.Tables

/** `spark.graft.search.materialize=parquet` governs every cached frame of
  * the artifact store, not only the lexical statistics: a dedup-family and
  * a vector-family result equal their local-checkpoint results, and
  * invalidating the session leaves no scratch table behind — including the
  * tables of entries the per-kind cap already evicted.
  */
class ArtifactsParquetSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def parquetSession(scratch: Path): SparkSession = {
    val s = spark.newSession()
    s.conf.set(Artifacts.MaterializeKey, "parquet")
    s.conf.set(Artifacts.ScratchDirKey, scratch.toString)
    s
  }

  private def parquetFiles(scratch: Path): Long =
    Files.walk(scratch).filter(_.toString.endsWith(".parquet")).count()

  test("parquet-materialized dedup and vector results equal the local ones") {
    val scratch = Files.createTempDirectory("graft-scratch")
    val (local, pq) = (spark.newSession(), parquetSession(scratch))
    def groups(s: SparkSession) =
      Dedup.normGroups(Tables.documents(s, dir)).collect().map(_.toSeq).toSet
    // ivf_search reads the session's assigned-corpus entry
    def ivf(s: SparkSession) = VectorOps.ivfSearch(s, dir).collect().map(_.toSeq).toSet
    val (g, v) = (groups(pq), ivf(pq))
    assert(Artifacts.entryCount(pq, "normGroups", "assign") == 2)
    assert(parquetFiles(scratch) > 0, "parquet mode wrote no scratch table")
    assert(g.nonEmpty && g == groups(local))
    assert(v.nonEmpty && v == ivf(local))
    Artifacts.invalidate(pq)
    assert(parquetFiles(scratch) == 0)
    Artifacts.invalidate(local)
  }

  test("invalidate deletes the scratch tables of evicted entries too") {
    val scratch = Files.createTempDirectory("graft-scratch")
    val pq = parquetSession(scratch)
    import pq.implicits._
    val n = Artifacts.MaxPerSession + 2
    (0 until n).foreach(i =>
      Dedup.normGroups(Seq((i.toLong, s"text $i")).toDF("doc_id", "text")))
    assert(Artifacts.entryCount(pq, "normGroups") == Artifacts.MaxPerSession)
    val tables = Files.walk(scratch)
      .filter(_.getFileName.toString.startsWith("normGroups-")).count()
    assert(tables == n, "an evicted entry's scratch table is gone before invalidate")
    Artifacts.invalidate(pq)
    assert(parquetFiles(scratch) == 0)
  }
}
