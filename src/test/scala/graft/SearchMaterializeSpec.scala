package graft

import graft.operators.Search

/** The shared per-doc term-stats frame has two materialization modes
  * (Search.MaterializeKey): `local` (localCheckpoint — fast, but blocks die
  * with their executor on a real cluster) and `parquet` (scratch table —
  * survives executor loss; the cluster-safe setting). Both must produce
  * identical downstream results.
  */
class SearchMaterializeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("materialize parquet mode round-trips rows and reads from files") {
    val sess = spark.newSession()
    sess.conf.set(Search.MaterializeKey, "parquet")
    sess.conf.set(Search.ScratchDirKey,
      java.nio.file.Files.createTempDirectory("graft-scratch").toString)
    import sess.implicits._
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s")
    val out = Search.materialize(sess, df, "spec_roundtrip")
    assert(out.collect().map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("FileScan parquet") || plan.contains("Scan parquet"),
      s"expected a parquet scan, got:\n$plan")
  }

  test("bm25 is identical under local-checkpoint and parquet materialization") {
    val sess = sess2
    val base = Search.bm25TopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val viaParquet = Search.bm25TopK(sess, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(base.nonEmpty)
    assert(viaParquet === base)
  }

  test("hybrid_rrf is identical under parquet materialization") {
    val sess = sess2
    val base = Search.hybridRrf(spark, dir).collect().map(_.toSeq).toSeq
    val viaParquet = Search.hybridRrf(sess, dir).collect().map(_.toSeq).toSeq
    assert(base.nonEmpty)
    assert(viaParquet === base)
  }

  test("parquet scratch data of two dirs with equal String.hashCode stay apart") {
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files.createTempDirectory("graft-collide").toString
    val (a, b) = (s"$base/Aa", s"$base/BB")
    assert(a.hashCode == b.hashCode, "fixture regression: want colliding dir hashes")
    val docs = graft.sources.Tables.documents(spark, dir)
    docs.filter(col("doc_id") % 2 === 0).write.parquet(s"$a/documents.parquet")
    docs.filter(col("doc_id") % 2 === 1).write.parquet(s"$b/documents.parquet")
    val sess = spark.newSession()
    val scratch = java.nio.file.Files.createTempDirectory("graft-scratch")
    sess.conf.set(Search.MaterializeKey, "parquet")
    sess.conf.set(Search.ScratchDirKey, scratch.toString)
    // both corpora's statistics are built before either is queried
    Seq(a, b).foreach(Search.prewarm(sess, _))
    val query = Search.QueryText.toLowerCase.split("\\s+").toSeq
    for (d <- Seq(a, b)) {
      val corpus = graft.sources.Tables.documents(spark, d).select("doc_id", "text").collect()
        .map(r => r.getLong(0) ->
          r.getString(1).trim.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty))
        .toMap
      val want = SearchSpec.bm25Okapi(corpus, query).toSeq
        .map { case (id, s) => (id, SearchSpec.round6(s)) }
        .sortBy { case (id, s) => (-s, id) }.take(Search.BmK)
      val got = Search.bm25TopFor(sess, d, Search.QueryText, Search.BmK).collect()
        .sortBy(_.getAs[Long]("rk"))
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq
      assert(want.nonEmpty)
      assert(got == want, s"corpus $d")
    }
    // the entries' scratch data goes with them
    Search.invalidateCaches(sess)
    assert(java.nio.file.Files.walk(scratch).noneMatch(_.toString.endsWith(".parquet")))
  }

  // One parquet-mode session for the end-to-end tests: a separate
  // SparkSession (shared context, own conf) gets its own perDocCache entry,
  // so the frame really is re-materialized through the parquet path.
  private lazy val sess2 = {
    val s = spark.newSession()
    s.conf.set(Search.MaterializeKey, "parquet")
    s.conf.set(Search.ScratchDirKey,
      java.nio.file.Files.createTempDirectory("graft-scratch").toString)
    s
  }
}
