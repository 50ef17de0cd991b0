package graft

import graft.operators.Search
import graft.sources.Tables

/** Independent in-JVM replicas of the BM25 / RRF / eval math, checked
  * against the distributed implementations on real data. The DuckDB oracle
  * covers Spark↔SQL parity; these cover Spark↔reference-algorithm parity
  * (BM25Okapi semantics from the reference's hybrid.py).
  */
class SearchSpec extends SparkSpec {
  import SearchSpec.round6

  private val dir = "/root/testdata/sf0.001"

  private lazy val corpus: Map[Long, Seq[String]] =
    Tables.documents(spark, dir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).trim.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty))
      .toMap

  private def bm25Reference(query: Seq[String]): Map[Long, Double] =
    SearchSpec.bm25Okapi(corpus, query)

  test("bm25_topk matches the BM25Okapi replica") {
    val query = Search.QueryText.toLowerCase.split("\\s+").toSeq
    val want = bm25Reference(query)
      .map { case (id, s) => (id, BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
      .toSeq.sortBy { case (id, s) => (-s, id) }.take(Search.BmK)
    val got = Search.bm25TopK(spark, dir).collect()
      .sortBy(_.getAs[Long]("rk"))
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
    assert(got.length == want.length)
    got.zip(want).foreach { case ((gid, gs), (wid, ws)) =>
      assert(gid == wid, s"doc order: got $gid want $wid")
      assert(math.abs(gs - ws) < 1e-6, s"score: got $gs want $ws")
    }
  }

  test("hybrid_rrf equals hand-fused knn + bm25 lists") {
    val e = graft.operators.VectorOps.embWithNorm(spark, dir)
    val vec = graft.operators.VectorOps
      .topK(e, e.filter(org.apache.spark.sql.functions.col("vec_id") === 0L), 20, "cos")
      .collect().map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Long]("rk")))
    val bm = Search.bm25Top(spark, dir, 20)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rk")))
    val fused = (vec ++ bm).groupBy(_._1)
      .map { case (id, xs) => id -> xs.map(x => 1.0 / (60.0 + x._2)).sum }
      .toSeq.sortBy { case (id, s) => (-s, id) }.take(10)
    val got = Search.hybridRrf(spark, dir).collect().sortBy(_.getAs[Long]("rk"))
      .map(r => (r.getAs[Long]("id"), r.getAs[Double]("rrf_score")))
    got.zip(fused).foreach { case ((gid, gs), (wid, ws)) =>
      assert(gid == wid)
      assert(math.abs(gs - BigDecimal(ws).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    }
  }

  test("evalMetrics computes known values on a hand-built ranks frame") {
    val s = spark
    import s.implicits._
    // 4 queries: ranks 1, 2, miss, 5 -> recall 0.75, mrr (1+0.5+0.2)/4,
    // ndcg (1 + 1/log2(3) + 1/log2(6))/4
    val ranks = Seq(
      (1L, 10L, Some(1L)), (2L, 20L, Some(2L)),
      (3L, 30L, None: Option[Long]), (4L, 40L, Some(5L)))
      .toDF("q_id", "expected_id", "rank")
    val r = Search.evalMetrics(ranks, 5).collect()(0)
    assert(r.getAs[Long]("total") == 4)
    assert(math.abs(r.getAs[Double]("recall_at_k") - 0.75) < 1e-9)
    assert(math.abs(r.getAs[Double]("mrr") - (1.0 + 0.5 + 0.2) / 4.0) < 1e-6)
    val wantNdcg = (1.0 + 1.0 / (math.log(3) / math.log(2)) + 1.0 / (math.log(6) / math.log(2))) / 4.0
    assert(math.abs(r.getAs[Double]("ndcg") - wantNdcg) < 1e-6)
  }

  test("goldRanksFor joins arbitrary gold against arbitrary retrieval lists") {
    val s = spark
    import s.implicits._
    val gold = Seq((1L, 100L), (2L, 200L)).toDF("q_id", "expected_id")
    val retrieved = Seq((1L, 100L, 3L), (1L, 101L, 1L), (2L, 999L, 1L))
      .toDF("q_id", "neighbor_id", "rk")
    val ranks = Search.goldRanksFor(gold, retrieved).collect()
      .map(r => r.getAs[Long]("q_id") -> Option(r.get(2)).map(_.asInstanceOf[Long])).toMap
    assert(ranks(1L).contains(3L))
    assert(ranks(2L).isEmpty)
  }

  test("eval_compare counts match a two-retriever replica") {
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding", "label")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    def score(a: Array[Float], b: Array[Float], dot: Boolean): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      if (dot) d else d / (math.sqrt(na) * math.sqrt(nb))
    }
    def rankOf(qid: Long, qv: Array[Float], expected: Long, dot: Boolean): Option[Long] = {
      val top = emb.filter(_._1 != qid)
        .map(o => (o._1, BigDecimal(score(qv, o._2, dot))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
        .sortBy { case (id, sc) => (-sc, id) }.take(Search.EvalK)
      val i = top.indexWhere(_._1 == expected)
      if (i >= 0) Some(i + 1L) else None
    }
    val deltas = emb.filter(_._1 < Search.NGold).map { case (qid, qv, lab) =>
      val expected = emb.filter(o => o._3 == lab && o._1 != qid).map(_._1).min
      (rankOf(qid, qv, expected, dot = false), rankOf(qid, qv, expected, dot = true))
    }.map {
      case (None, None) => None
      case (None, Some(_)) => Some(-999L)
      case (Some(_), None) => Some(999L)
      case (Some(l), Some(r)) => Some(r - l)
    }
    val row = Search.evalCompare(spark, dir).collect()(0)
    assert(row.getAs[Long]("regressions_count") == deltas.count(d => d.exists(_ > 0)))
    assert(row.getAs[Long]("improvements_count") == deltas.count(d => d.exists(_ < 0)))
    assert(row.getAs[Long]("changed_count") == deltas.count(d => d.exists(_ != 0)))
  }

  test("eval_recall metrics match a replica computed from raw embeddings") {
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding", "label")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val queries = emb.filter(_._1 < Search.NGold)
    val stats = queries.map { case (qid, qv, qlab) =>
      val expected = emb.filter(o => o._3 == qlab && o._1 != qid).map(_._1).min
      val top = emb.filter(_._1 != qid)
        .map(o => (o._1, BigDecimal(cos(qv, o._2)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
        .sortBy { case (id, s) => (-s, id) }.take(Search.EvalK)
      val rank = top.indexWhere(_._1 == expected)
      if (rank >= 0) Some(rank + 1) else None
    }
    val total = stats.length.toDouble
    val recall = stats.count(_.isDefined) / total
    val mrr = stats.flatten.map(r => 1.0 / r).sum / total
    val ndcg = stats.flatten.map(r => 1.0 / (math.log(r + 1.0) / math.log(2.0))).sum / total
    val row = Search.evalRecall(spark, dir).collect()(0)
    assert(row.getAs[Long]("total") == stats.length)
    assert(math.abs(row.getAs[Double]("recall_at_k") - recall) < 1e-6)
    assert(math.abs(row.getAs[Double]("mrr") - mrr) < 1e-6)
    assert(math.abs(row.getAs[Double]("ndcg") - ndcg) < 1e-6)
  }

  test("search_compare aligns two retrievers and counts the id overlap") {
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def score(a: Array[Float], b: Array[Float], dot: Boolean): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      if (dot) d else d / (math.sqrt(na) * math.sqrt(nb))
    }
    val qv = emb.find(_._1 == Search.RrfQueryVec).get._2
    def top(dot: Boolean): Seq[Long] = emb.filter(_._1 != Search.RrfQueryVec)
      .map(o => (o._1, BigDecimal(score(qv, o._2, dot))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .sortBy { case (id, sc) => (-sc, id) }.take(Search.CompareK).map(_._1).toSeq
    val (wantL, wantR) = (top(dot = false), top(dot = true))
    val rows = Search.searchCompare(spark, dir).collect().sortBy(_.getAs[Long]("rk"))
    assert(rows.map(_.getAs[Long]("left_id")).toSeq == wantL)
    assert(rows.map(_.getAs[Long]("right_id")).toSeq == wantR)
    val wantOverlap = wantL.toSet.intersect(wantR.toSet).size.toLong
    assert(rows.forall(_.getAs[Long]("overlap") == wantOverlap))
  }


  test("evalFromFile reproduces eval_recall from an uploaded CSV gold set") {
    // derive the same label-based gold the synthetic eval uses, as a CSV
    val emb = Tables.embeddings(spark, dir).select("vec_id", "label")
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val gold = emb.filter(_._1 < Search.NGold).map { case (qid, lab) =>
      qid -> emb.filter(o => o._2 == lab && o._1 != qid).map(_._1).min
    }
    val f = java.nio.file.Files.createTempFile("gold", ".csv")
    java.nio.file.Files.writeString(f,
      "q_id,expected_id\n" + gold.map { case (q, e) => s"$q,$e" }.mkString("\n") + "\n")
    val e = graft.operators.VectorOps.embWithNorm(spark, dir)
    val hits = graft.operators.VectorOps.topK(
      e, e.filter(org.apache.spark.sql.functions.col("vec_id") < Search.NGold),
      Search.EvalK, "cos")
    val fromFile = Search.evalFromFile(spark, f.toString, "csv", hits).collect()(0)
    val builtin = Search.evalRecall(spark, dir).collect()(0)
    Seq("k", "total").foreach(c =>
      assert(fromFile.getAs[Long](c) == builtin.getAs[Long](c)))
    Seq("recall_at_k", "mrr", "ndcg").foreach(c =>
      assert(fromFile.getAs[Double](c) == builtin.getAs[Double](c), c))
  }


  test("evalHits returns per-question verdicts with previewed top hits") {
    val s = spark
    import s.implicits._
    val gold = Seq((1L, 10L), (2L, 99L)).toDF("q_id", "expected_id")
    val retrieved = Seq(
      (1L, 1L, 10L, 0.9), (1L, 2L, 11L, 0.8),
      (2L, 1L, 20L, 0.7)).toDF("q_id", "rk", "neighbor_id", "score")
    val docs = Seq(
      (10L, "ten " * 100), (11L, "eleven"), (20L, "twenty"))
      .toDF("neighbor_id", "text")
    val rows = Search.evalHits(gold, retrieved, docs, k = 5, show = 2).collect()
    val q1 = rows.filter(_.getAs[Long]("q_id") == 1L).sortBy(_.getAs[Long]("rk"))
    assert(q1.forall(_.getAs[Boolean]("found")))
    assert(q1.forall(_.getAs[Long]("rank") == 1L))
    assert(q1.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(10L, 11L))
    // long doc preview is sliced at 180 + ellipsis
    assert(q1.head.getAs[String]("preview").length == 181)
    assert(q1.head.getAs[String]("preview").endsWith("\u2026"))
    val q2 = rows.filter(_.getAs[Long]("q_id") == 2L)
    assert(q2.forall(!_.getAs[Boolean]("found")))
    assert(q2.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(20L))
  }


  test("bm25TopFor generalizes the fixed-query surface") {
    val fixed = Search.bm25TopK(spark, dir).collect()
      .map(r => (r.getAs[Long]("rk"), r.getAs[Long]("doc_id"))).toSeq
    val general = Search.bm25TopFor(spark, dir, Search.QueryText, Search.BmK)
      .collect().map(r => (r.getAs[Long]("rk"), r.getAs[Long]("doc_id"))).toSeq
    assert(general == fixed)
    val other = Search.bm25TopFor(spark, dir, "merge", 5).collect()
    assert(other.nonEmpty && other.length <= 5)
    assert(other.map(_.getAs[Long]("rk")).toSeq == (1L to other.length).toSeq)
  }

  test("bm25TopFor caches nothing per query text: the stats map stays put") {
    // a serving session answers an open-ended stream of distinct queries;
    // only per-corpus stats may be cached, never one entry per query
    val sess = spark.newSession()
    def top(q: String) = Search.bm25TopFor(sess, dir, q, Search.BmK).collect()
      .map(r => (r.getAs[Long]("rk"), r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
      .toSeq
    val first = top(Search.QueryText)
    val afterOne = Artifacts.entryCount(sess)
    val terms = corpus.values.flatten.toSeq.distinct.sorted
    val queries = terms.combinations(2).map(_.mkString(" ")).take(100).toSeq
    assert(queries.length == 100, "fixture regression: vocabulary too small")
    queries.foreach(top)
    assert(Artifacts.entryCount(sess) == afterOne)
    assert(top(Search.QueryText) == first)
    assert(first.nonEmpty)
    // and a fresh session's answer equals the shared session's
    assert(first == Search.bm25TopK(spark, dir).collect()
      .map(r => (r.getAs[Long]("rk"), r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
      .toSeq)
  }

  test("hybridRrfFor with the fixed inputs equals hybrid_rrf") {
    val fixed = Search.hybridRrf(spark, dir).collect()
      .map(r => (r.getAs[Long]("rk"), r.getAs[Long]("id"))).toSeq
    val general = Search.hybridRrfFor(spark, dir, Search.QueryText, Search.RrfQueryVec)
      .collect().map(r => (r.getAs[Long]("rk"), r.getAs[Long]("id"))).toSeq
    assert(general == fixed)
  }

  /** The two lists hybridRrfFor fuses, as ids in rank order; the cosine
    * list through the multi-query `topK`.
    */
  private def cosineList(vecId: Long): Seq[Long] = {
    val e = graft.operators.VectorOps.embWithNorm(spark, dir)
    graft.operators.VectorOps
      .topK(e, e.filter(org.apache.spark.sql.functions.col("vec_id") === vecId),
        Search.RrfListLen, "cos")
      .collect().sortBy(_.getAs[Long]("rk")).map(_.getAs[Long]("neighbor_id")).toSeq
  }
  private def bm25List(text: String): Seq[Long] =
    Search.bm25TopFor(spark, dir, text, Search.RrfListLen).collect()
      .sortBy(_.getAs[Long]("rk")).map(_.getAs[Long]("doc_id")).toSeq
  private def hybrid(s: org.apache.spark.sql.SparkSession, d: String, text: String,
                     vecId: Long): Seq[(Long, Long, Double)] =
    Search.hybridRrfFor(s, d, text, vecId).collect()
      .map(r => (r.getAs[Long]("rk"), r.getAs[Long]("id"), r.getAs[Double]("rrf_score"))).toSeq

  test("bm25 scores equal the BM25Okapi replica at 6 dp on edge-case queries") {
    val df = corpus.values.flatMap(_.distinct).groupBy(identity)
      .map { case (t, xs) => t -> xs.size }
    val (common, commonDf) = df.maxBy { case (t, d) => (d, t) }
    val n = corpus.size
    assert(math.log((n - commonDf + 0.5) / (commonDf + 0.5)) < 0,
      "fixture regression: want a term on the epsilon idf floor")
    val queries = Seq("merge merge table", "MeRGe Table HASH", common,
      "zzqx qqzv", "")
    for (q <- queries) {
      val want = bm25Reference(q.trim.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty))
        .map { case (id, s) => id -> round6(s) }
      val got = Search.bm25ScoredFor(spark, dir, q).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
      val diff = (got.keySet ++ want.keySet).filter(id => got.get(id) != want.get(id))
      assert(diff.isEmpty, s"query '$q': got/want differ on ${diff.size} docs, e.g. " +
        diff.take(3).map(id => s"$id: ${got.get(id)} vs ${want.get(id)}").mkString(", "))
    }
  }

  test("hybridRrfFor fuses whichever list exists, and is empty when neither does") {
    val absentVec = -1L
    val oov = "zzqx qqzv"
    val (cos, bm) = (cosineList(Search.RrfQueryVec), bm25List(Search.QueryText))
    assert(cos.nonEmpty && bm.nonEmpty && cosineList(absentVec).isEmpty && bm25List(oov).isEmpty)
    assert(hybrid(spark, dir, Search.QueryText, Search.RrfQueryVec) == SearchSpec.rrf(cos, bm))
    assert(hybrid(spark, dir, Search.QueryText, absentVec) == SearchSpec.rrf(bm))
    assert(hybrid(spark, dir, oov, Search.RrfQueryVec) == SearchSpec.rrf(cos))
    val neither = Search.hybridRrfFor(spark, dir, oov, absentVec)
    assert(neither.collect().isEmpty)
    import org.apache.spark.sql.types.{DoubleType, LongType}
    assert(neither.schema.map(f => (f.name, f.dataType)) ==
      Seq(("rk", LongType), ("id", LongType), ("rrf_score", DoubleType)))
  }

  test("a cosine list for a query id not seen before compiles no new code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val e = graft.operators.VectorOps.embWithNorm(spark, dir)
    val ids = e.select("vec_id").orderBy("vec_id").limit(8).collect().map(_.getLong(0))
    def list(id: Long) = graft.operators.VectorOps.topKOf(e, id, Search.RrfListLen, "cos")
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    ids.take(3).foreach(list) // warm-up
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val lists = ids.drop(3).map(id => id -> list(id))
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiled,
      "an unseen query id compiled new code")
    val vecs = Tables.embeddings(spark, dir).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toSeq
    lists.foreach { case (id, got) =>
      assert(got.map(_._1) == SearchSpec.cosineTop(vecs, id, Search.RrfListLen))
    }
  }

  test("a warm hybrid query runs exactly 4 Spark jobs and shuffles nothing") {
    // a corpus of several files, so every cached frame has several
    // partitions (one-partition plans never shuffle)
    val tmp = java.nio.file.Files.createTempDirectory("graft-serve").toString
    Seq("documents", "embeddings").foreach(t =>
      Tables.read(spark, dir, t).repartition(4).write.parquet(s"$tmp/$t.parquet"))
    Search.prewarm(spark, tmp)
    assert(graft.operators.VectorOps.embWithNorm(spark, tmp).rdd.getNumPartitions > 1)
    def query() = hybrid(spark, tmp, "merge table value", 3L)
    val want = query()
    assert(want == SearchSpec.rrf(
      SearchSpec.cosineTop(Tables.embeddings(spark, tmp).select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toSeq, 3L, Search.RrfListLen),
      bm25List("merge table value")))
    val (rows, jobs, shuffled) = org.apache.spark.graft.JobCount(spark.sparkContext)(query())
    assert(rows == want && rows.nonEmpty)
    // the cosine list runs on a pool thread: its 2 jobs are counted only
    // if they carry the caller's job group
    assert(jobs == 4, s"a warm hybrid query ran $jobs jobs")
    assert(shuffled == 0L, s"a warm hybrid query wrote $shuffled shuffle bytes")
  }

  test("hybridRrfFor throws either list's failure and keeps the caller's job group") {
    import org.scalatest.concurrent.TimeLimits.failAfter
    import org.scalatest.time.SpanSugar._
    // one corpus dir lacks documents (the bm25 list fails on the calling
    // thread), the other embeddings (the cosine list fails on the pool)
    def without(table: String): String = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-hybrid-fail").toString
      Seq("documents", "embeddings").filter(_ != table).foreach(t =>
        Tables.read(spark, dir, t).write.parquet(s"$tmp/$t.parquet"))
      tmp
    }
    val sc = spark.sparkContext
    for (missing <- Seq("documents", "embeddings")) {
      val d = without(missing)
      sc.setJobGroup("hybrid-fail", "caller")
      try {
        val e = failAfter(120.seconds) {
          intercept[Exception](Search.hybridRrfFor(spark, d, Search.QueryText, Search.RrfQueryVec))
        }
        assert(e.getMessage.contains(s"$missing.parquet"), e.getMessage)
        assert(sc.getLocalProperty("spark.jobGroup.id") == "hybrid-fail")
      } finally sc.clearJobGroup()
    }
  }

  test("invalidateCaches: a hybrid query after an in-place rewrite sees the new vectors") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-cold-twin").toString
    Tables.documents(spark, dir).write.parquet(s"$tmp/documents.parquet")
    Tables.embeddings(spark, dir).write.parquet(s"$tmp/embeddings.parquet")
    val sess = spark.newSession()
    val before = hybrid(sess, tmp, Search.QueryText, Search.RrfQueryVec)
    assert(before == hybrid(spark, dir, Search.QueryText, Search.RrfQueryVec))
    // negate every vector but the query's: its cosine ranking turns over
    val old = Tables.embeddings(spark, tmp)
    val flipped = old.collect().map { r =>
      val v = r.getSeq[Float](r.fieldIndex("embedding"))
      org.apache.spark.sql.Row.fromSeq(old.schema.fieldNames.toSeq.map {
        case "embedding" if r.getAs[Long]("vec_id") != Search.RrfQueryVec => v.map(x => -x)
        case c => r.get(r.fieldIndex(c))
      })
    }
    spark.createDataFrame(java.util.Arrays.asList(flipped: _*), old.schema)
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    Artifacts.invalidate(sess)
    val after = hybrid(sess, tmp, Search.QueryText, Search.RrfQueryVec)
    val vectors = Tables.embeddings(spark, tmp).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val want = SearchSpec.rrf(
      SearchSpec.cosineTop(vectors, Search.RrfQueryVec, Search.RrfListLen),
      bm25List(Search.QueryText))
    assert(after != before)
    assert(after == want)
  }
}

object SearchSpec {
  def round6(d: Double): Double =
    BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** rank_bm25.BM25Okapi replica: k1=1.5, b=0.75, epsilon=0.25; a repeated
    * query term counts once per occurrence, as `get_scores` does.
    */
  def bm25Okapi(corpus: Map[Long, Seq[String]], query: Seq[String]): Map[Long, Double] = {
    val n = corpus.size
    val avgdl = corpus.values.map(_.size).sum.toDouble / n
    val df = corpus.values.flatMap(_.distinct).groupBy(identity).map { case (t, xs) => t -> xs.size }
    val idfRaw = df.map { case (t, d) => t -> math.log((n - d + 0.5) / (d + 0.5)) }
    val avgIdf = idfRaw.values.sum / idfRaw.size
    val idf = idfRaw.map { case (t, v) => t -> (if (v < 0) 0.25 * avgIdf else v) }
    corpus.flatMap { case (id, toks) =>
      val dl = toks.size.toDouble
      val terms = query.flatMap { t =>
        val f = toks.count(_ == t).toDouble
        if (f == 0 || !idf.contains(t)) None
        else Some(idf(t) * (f * 2.5) / (f + 1.5 * (0.25 + 0.75 * (dl / avgdl))))
      }
      // NB: with a tiny vocabulary every idf is negative (and so is the
      // BM25Okapi epsilon floor), so scores can legitimately be < 0 —
      // membership is "has >= 1 matching term", not "score > 0".
      if (terms.nonEmpty) Some(id -> terms.sum) else None
    }
  }

  /** Reciprocal-rank fusion of ranked id lists as (rk, id, 6-dp score):
    * Σ 1/(60 + rank), top [[Search.RrfOut]] by score desc then id.
    */
  def rrf(lists: Seq[Long]*): Seq[(Long, Long, Double)] =
    lists.flatMap(_.zipWithIndex)
      .groupMapReduce(_._1)(p => 1.0 / (Search.RrfK + p._2 + 1).toDouble)(_ + _)
      .toSeq.sortBy { case (id, s) => (-s, id) }.take(Search.RrfOut)
      .zipWithIndex.map { case ((id, s), i) => (i + 1L, id, round6(s)) }

  /** Exact cosine top-k of one vector over the others (the f32-product,
    * f64-sum arithmetic of the dot kernel), 6-dp scores, id tie-break.
    */
  def cosineTop(vectors: Seq[(Long, Array[Float])], q: Long, k: Int): Seq[Long] = {
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    val qv = vectors.find(_._1 == q).get._2
    val qn = math.sqrt(dot(qv, qv))
    vectors.filter(_._1 != q)
      .map { case (id, v) => (id, round6(dot(qv, v) / (qn * math.sqrt(dot(v, v))))) }
      .sortBy { case (id, s) => (-s, id) }.take(k).map(_._1)
  }
}
