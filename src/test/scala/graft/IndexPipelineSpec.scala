package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.index.IndexStore
import graft.pipeline.IndexPipeline

/** End-to-end reference workflow: read → chunk → embed → build → version →
  * search → self-retrieval. The stub encoder is content-deterministic, so
  * querying with a chunk's exact text must retrieve that chunk at rank 1
  * with the maximal score.
  */
class IndexPipelineSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("flat pipeline round-trips and self-retrieves at rank 1") {
    val root = Files.createTempDirectory("graft-pipe").toString
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).limit(50)
    val cfg = IndexPipeline.Config(name = "e2e_flat", backend = "flat")
    val manifest = IndexPipeline.build(docs, root, cfg)
    assert(manifest.dim == cfg.dim && manifest.count > 0)
    assert(manifest.model == "stub-hash-projection")

    // query with an indexed chunk's own text -> that chunk is rank 1
    val someChunk = graft.operators.Chunking
      .chunkFixedDf(docs, cfg.chunkSize, cfg.chunkOverlap)
      .select("chunk_id", "chunk").collect()(7)
    val hits = IndexPipeline.search(spark, root, "e2e_flat",
      someChunk.getString(1), 5, cfg).collect()
    assert(hits.head.getAs[String]("id") == someChunk.getString(0))
    // normalized stub vectors: self inner product == 1 (6dp)
    assert(math.abs(hits.head.getAs[Double]("score") - 1.0) < 1e-6)
    // the hit carries its row's chunk text as the preview
    // (chunks are 100 chars < PreviewLen, so preview == full chunk)
    assert(hits.head.getAs[String]("preview") == someChunk.getString(1))
  }

  test("ivf pipeline writes cell partitions and versions; search still works") {
    val root = Files.createTempDirectory("graft-pipe").toString
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).limit(40)
    val cfg = IndexPipeline.Config(name = "e2e_ivf", backend = "ivf", nlist = 4)
    IndexPipeline.build(docs, root, cfg)
    val idx = IndexStore.load(spark, root, "e2e_ivf")
    assert(idx.select("cell").distinct().count() > 1)
    assert(IndexStore.versions(root, "e2e_ivf").length == 1)
    val hits = IndexPipeline.search(spark, root, "e2e_ivf", "key agg row", 3, cfg)
    assert(hits.count() == 3)
  }

  test("ivf text search probes nprobe cells as a partition filter") {
    val root = Files.createTempDirectory("graft-pipe-probe").toString
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).limit(40)
    val cfg = IndexPipeline.Config(name = "probed", backend = "ivf")
    IndexPipeline.build(docs, root, cfg) // nlist 16, manifest nprobe 4
    val someChunk = graft.operators.Chunking
      .chunkFixedDf(docs, cfg.chunkSize, cfg.chunkOverlap)
      .select("chunk_id", "chunk").collect()(5)
    val hits = IndexPipeline.search(spark, root, "probed",
      someChunk.getString(1), 3, cfg)
    // self-retrieval survives probing: the query's own cell is its
    // nearest cell by construction, so rank 1 is the exact self chunk
    val rows = hits.collect()
    assert(rows.head.getAs[String]("id") == someChunk.getString(0))
    assert(math.abs(rows.head.getAs[Double]("score") - 1.0) < 1e-6)
    // the cell restriction reaches the scan as a PARTITION filter —
    // at scale the read is nprobe/nlist of the index, not a full scan
    val scans = hits.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.output.exists(_.name == "vec") => f
    }
    assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty),
      s"ivf search must partition-prune, got:\n${hits.queryExecution.sparkPlan}")
    // a narrower explicit override prunes harder and still rank-1s the
    // self chunk (its own cell is always among the probed)
    val one = IndexPipeline.search(spark, root, "probed",
      someChunk.getString(1), 1, cfg.copy(nprobe = 1)).collect()
    assert(one.head.getAs[String]("id") == someChunk.getString(0))
  }

  test("a warm flat or ivf search is one Spark job over one scan, no join") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val root = Files.createTempDirectory("graft-pipe-plan").toString
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).limit(40)
    val chunk = graft.operators.Chunking
      .chunkFixedDf(docs, graft.operators.Chunking.Size, graft.operators.Chunking.Overlap)
      .select("chunk_id", "chunk").collect()(5)
    for (backend <- Seq("flat", "ivf")) {
      val cfg = IndexPipeline.Config(name = s"plan_$backend", backend = backend)
      IndexPipeline.build(docs, root, cfg)
      def search() = IndexPipeline.search(spark, root, cfg.name, chunk.getString(1), 5, cfg)
      val want = search().collect() // warms the serving caches
      val (rows, jobs, _) = org.apache.spark.graft.JobCount(spark.sparkContext) {
        search().collect()
      }
      assert(jobs == 1, s"$backend: a warm search ran $jobs jobs")
      assert(rows.toSeq == want.toSeq)
      assert(rows.map(_.getAs[Long]("rk")).toSeq == (1L to 5L))
      assert(rows.head.getAs[String]("id") == chunk.getString(0))
      assert(rows.head.getAs[String]("preview") == chunk.getString(1))
      val plan = search().queryExecution.sparkPlan
      val scans = plan.collect { case f: FileSourceScanExec => f }
      assert(scans.length == 1, s"$backend: want one scan, got:\n$plan")
      assert(plan.collect { case j: BaseJoinExec => j }.isEmpty,
        s"$backend: want no join, got:\n$plan")
      if (backend == "ivf")
        assert(scans.head.partitionFilters.nonEmpty, s"ivf scan must prune cells:\n$plan")
    }
  }

  test("eval surface over the pipeline: self-query gold has perfect recall") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-pipe").toString
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).limit(30)
    val cfg = IndexPipeline.Config(name = "e2e_eval", backend = "flat")
    IndexPipeline.build(docs, root, cfg)
    val chunks = graft.operators.Chunking
      .chunkFixedDf(docs, cfg.chunkSize, cfg.chunkOverlap)
      .select("chunk_id", "chunk").collect().take(10)
    val retrieved = chunks.zipWithIndex.map { case (c, qi) =>
      IndexPipeline.search(spark, root, "e2e_eval", c.getString(1), 5, cfg)
        .withColumn("q_id", lit(qi.toLong))
        .select(col("q_id"), col("id").as("neighbor_id"), col("rk"))
    }.reduce(_ unionByName _)
    val gold = chunks.zipWithIndex
      .map { case (c, qi) => (qi.toLong, c.getString(0)) }.toSeq
      .toDF("q_id", "expected_id")
    val m = graft.operators.Search.evalMetrics(
      graft.operators.Search.goldRanksFor(gold, retrieved), 5).collect()(0)
    assert(m.getAs[Long]("total") == 10)
    assert(m.getAs[Double]("recall_at_k") == 1.0)
    assert(m.getAs[Double]("mrr") == 1.0) // every self-query ranks itself #1
  }

  test("getChunk returns the full raw chunk text with highlight spans") {
    val root = Files.createTempDirectory("graft-pipe").toString
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).limit(20)
    val cfg = IndexPipeline.Config(name = "e2e_chunk", backend = "flat")
    IndexPipeline.build(docs, root, cfg)
    val someChunk = graft.operators.Chunking
      .chunkFixedDf(docs, cfg.chunkSize, cfg.chunkOverlap)
      .select("chunk_id", "chunk").collect()(3)
    val (cid, ctext) = (someChunk.getString(0), someChunk.getString(1))
    // no query: just the raw text
    val plain = IndexPipeline.getChunk(spark, root, "e2e_chunk", cid).collect()
    assert(plain.length == 1 && plain(0).getAs[String]("text") == ctext)
    // with query: per-term span columns over the FULL text
    val word = ctext.split("\\W+").filter(_.length > 2).head.toLowerCase
    val hl = IndexPipeline.getChunk(spark, root, "e2e_chunk", cid,
      Some(s"$word zzznotfound")).collect()(0)
    val spans = hl.getSeq[org.apache.spark.sql.Row](
      hl.fieldIndex(s"spans_$word"))
    assert(spans.nonEmpty)
    val (s0, e0) = (spans.head.getLong(0).toInt, spans.head.getLong(1).toInt)
    assert(ctext.substring(s0, e0).equalsIgnoreCase(word))
    assert(hl.getSeq[org.apache.spark.sql.Row](
      hl.fieldIndex("spans_zzznotfound")).isEmpty)
  }

  test("buildFromFile ingests a csv upload like the reference") {
    val root = Files.createTempDirectory("graft-pipe").toString
    val f = Files.createTempFile("docs", ".csv")
    Files.writeString(f,
      "text\nthe quick brown fox jumps\npack my box with five dozen jugs\n")
    val m = IndexPipeline.buildFromFile(spark, f.toString, "csv", root,
      IndexPipeline.Config(name = "e2e_csv"))
    assert(m.count == 2)
    val hits = IndexPipeline.search(spark, root, "e2e_csv",
      "the quick brown fox jumps", 1).collect()
    assert(hits.head.getAs[Double]("score") > 0.999999)
    // provenance sidecar: hits can be enriched with their origin
    val src = IndexPipeline.searchWithSource(spark, root, "e2e_csv",
      "the quick brown fox jumps", 1).collect()
    assert(src.head.getAs[String]("origin_path") == f.toString)
    assert(src.head.getAs[String]("content_type") == "csv")
    assert(src.head.getAs[Long]("chunk") >= 0L)
  }

  test("sentence chunk mode flows through build, manifest, and self-retrieval") {
    val root = Files.createTempDirectory("graft-pipe").toString
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).limit(30)
    val cfg = IndexPipeline.Config(name = "e2e_sent", chunkMode = "sentences")
    val manifest = IndexPipeline.build(docs, root, cfg)
    assert(manifest.chunking.mode == "sentences")
    assert(IndexStore.manifestJson(root, "e2e_sent").contains("\"mode\": \"sentences\""))

    // the rows' chunk text is exactly the sentence-kernel chunks of the input
    val want = graft.operators.Chunking
      .chunkDf(docs, "sentences", cfg.chunkSize, cfg.chunkOverlap)
      .filter(length(col("chunk")) > 0)
      .select(col("chunk_id"), col("chunk")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val got = IndexStore.loadDocs(spark, root, "e2e_sent").get.collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === want && got.nonEmpty)

    // self-retrieval still holds under the non-default chunker (pick a
    // chunk whose text is unique so rank 1 has no score tie)
    val sample = want.groupBy(_._2).collectFirst {
      case (_, s) if s.size == 1 => s.head
    }.get
    val hits = IndexPipeline.search(spark, root, "e2e_sent", sample._2, 3, cfg)
      .collect().sortBy(_.getAs[Long]("rk"))
    assert(hits.head.getAs[String]("id") == sample._1)
  }

  test("unknown chunk mode fails fast") {
    intercept[IllegalArgumentException] {
      graft.operators.Chunking.chunkDf(
        graft.sources.Tables.documents(spark, dir).limit(1), "words", 100, 20)
    }
  }

  test("ivfpq pipeline: code-only index self-retrieves through the same search API") {
    val root = Files.createTempDirectory("graft-pipe-pq").toString
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).limit(50)
    val cfg = IndexPipeline.Config(name = "e2e_pq", backend = "ivfpq")
    val manifest = IndexPipeline.build(docs, root, cfg)
    assert(manifest.backend == "ivfpq" && manifest.count > 0)
    // the stored rows are codes, not vectors
    val idx = graft.index.IndexStore.load(spark, root, "e2e_pq")
    assert(idx.columns.toSet == Set("id", "codes", "cell", "text"))

    val someChunk = graft.operators.Chunking
      .chunkFixedDf(docs, cfg.chunkSize, cfg.chunkOverlap)
      .select("chunk_id", "chunk").collect()(7)
    val hits = IndexPipeline.search(spark, root, "e2e_pq",
      someChunk.getString(1), 5, cfg).collect()
    assert(hits.length == 5)
    assert(hits.map(_.getAs[Long]("rk")).toSeq == (1L to 5L))
    // PQ is lossy, so rank-1 self-retrieval isn't guaranteed like flat —
    // but the query's own chunk must appear in the top-k and previews load
    assert(hits.exists(_.getAs[String]("id") == someChunk.getString(0)),
      "self chunk missing from ADC top-k")
    assert(hits.forall(_.getAs[String]("preview") != null))
  }

  test("a pipeline built at a non-rule dial serves through it by default") {
    val root = Files.createTempDirectory("graft-pipe-dial").toString
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).limit(50)
    // a ProbeDialReport-style tuned dial persisted through the pipeline
    // config; the default search (cfg.nprobe = -1) must inherit it from
    // the manifest rather than the library NProbe
    val cfg = IndexPipeline.Config(name = "e2e_dial", backend = "ivfpq",
      assignProbes = 9)
    val manifest = IndexPipeline.build(docs, root, cfg)
    assert(manifest.params.assignProbes == 9)
    assert(manifest.servingProbes == 9)
    val someChunk = graft.operators.Chunking
      .chunkFixedDf(docs, cfg.chunkSize, cfg.chunkOverlap)
      .select("chunk_id", "chunk").collect()(3)
    def top5(c: IndexPipeline.Config) = IndexPipeline.search(spark, root,
      "e2e_dial", someChunk.getString(1), 5, c).collect()
      .map(r => (r.getAs[Long]("rk"), r.getAs[String]("id"))).toSeq
    // default serve == an explicit nprobe=9 serve over the same artifact
    assert(top5(cfg) == top5(cfg.copy(nprobe = 9)))
    // an explicit caller override still wins over the persisted dial
    // (nprobe=1 probes one cell, which may hold fewer than 5 codes)
    val narrow = top5(cfg.copy(nprobe = 1))
    assert(narrow.nonEmpty && narrow.map(_._1) == (1L to narrow.length))
  }
}
