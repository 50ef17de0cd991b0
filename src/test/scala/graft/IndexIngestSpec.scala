package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.index.IndexStore
import graft.operators.VectorOps
import graft.pipeline.IndexPipeline
import graft.streaming.IndexIngest

/** Streaming ingest grows one versioned index through foreachBatch: the
  * first batch with rows builds it, every later batch appends, and the
  * pointer each commit moves holds the stream's batch, so a replayed batch
  * adds nothing.
  */
class IndexIngestSpec extends SparkSpec {

  private val cfg = IndexPipeline.Config(name = "s_ix", backend = "ivf", nlist = 8)

  /** A doc whose text no other doc shares, so each chunk is its own
    * nearest neighbour.
    */
  private def doc(i: Long): (Long, String) =
    (i, s"document $i on ${Seq("amber", "basalt", "cobalt", "dune", "ember", "fjord", "glacier")
      .map(w => s"$w${i * 7 % 97}").mkString(" ")} and topic${i * 13}")

  /** A dir of JSON doc files, one per batch, in write order: a stream over
    * it with one file per trigger sees one batch per file.
    */
  private def inputDir(batches: Seq[Seq[(Long, String)]]): String = {
    val in = Files.createTempDirectory("graft-ingest-in")
    val t0 = System.currentTimeMillis() - 60000L
    batches.zipWithIndex.foreach { case (docs, i) =>
      val f = in.resolve(f"part-$i%03d.json")
      Files.writeString(f, docs.map { case (id, text) =>
        s"""{"doc_id": $id, "text": "$text"}""" }.mkString("\n"))
      f.toFile.setLastModified(t0 + i * 1000L)
    }
    in.toString
  }

  private def stream(in: String): DataFrame =
    spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1).json(in)

  private def ingest(in: String, root: String, cp: String,
                     c: IndexPipeline.Config = cfg): Unit =
    IndexIngest.start(stream(in), root, c.name, c, cp).awaitTermination()

  private def ids(root: String): Seq[String] =
    IndexStore.load(spark, root, cfg.name).select("id").collect().map(_.getString(0)).toSeq.sorted

  test("a restarted stream replays its last batch and the pointer skips it: count, runs and load unchanged") {
    val root = Files.createTempDirectory("graft-ingest").toString
    val cp = Files.createTempDirectory("graft-ingest-cp").toString
    val in = inputDir(Seq((0L until 12L).map(doc), (100L until 104L).map(doc)))
    ingest(in, root, cp)
    val versions = IndexStore.versions(root, cfg.name)
    assert(versions.length == 2, s"a build and an append, got $versions")
    val manifest = IndexStore.manifestJson(root, cfg.name)
    val loaded = ids(root)
    assert(loaded.length == IndexStore.manifest(root, cfg.name).count)
    assert(loaded.distinct == loaded)
    // the checkpoint loses batch 1's commit, as a crash between the index
    // commit and Spark's own leaves it: the restart replays batch 1
    val commit = Paths.get(cp, "commits", "1")
    Files.delete(commit)
    Files.deleteIfExists(Paths.get(cp, "commits", ".1.crc"))
    ingest(in, root, cp)
    assert(Files.exists(commit), "the restart did not replay batch 1")
    assert(IndexStore.versions(root, cfg.name) == versions)
    assert(IndexStore.manifestJson(root, cfg.name) == manifest)
    assert(ids(root) == loaded)
  }

  test("a stream into a built ivf index assigns cells with the persisted centroids, and a search finds it through a cell filter") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-ingest").toString
    val cp = Files.createTempDirectory("graft-ingest-cp").toString
    IndexPipeline.build((0L until 40L).map(doc).toDF("doc_id", "text"), root, cfg)
    val fresh = (500L until 503L).map(doc)
    // the persisted backend wins over the stream's cfg
    ingest(inputDir(Seq(fresh)), root, cp, cfg.copy(backend = "flat"))
    assert(IndexStore.manifest(root, cfg.name).backend == "ivf")
    val streamed = IndexPipeline.vectorize(fresh.toDF("doc_id", "text"), cfg)
    val want = VectorOps.assignCells(
        streamed.select(col("id"), col("vec").as("embedding")),
        IndexStore.loadCentroids(spark, root, cfg.name))
      .select(col("id"), col("cell").cast("int")).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    val got = IndexStore.load(spark, root, cfg.name).filter(col("id").isin(want.keys.toSeq: _*))
      .select("id", "cell").collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got == want)
    val (id, text) = streamed.select("id", "text").as[(String, String)].collect().head
    val hits = IndexPipeline.search(spark, root, cfg.name, text, 5, cfg)
    assert(hits.collect().head.getAs[String]("id") == id)
    val scans = hits.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.exists(_.dataFilters.exists(_.references.exists(_.name == "cell"))),
      s"no cell filter on the streamed run: $scans")
  }

  test("a stream into an empty root builds on its first batch with rows; a batch with no rows leaves no version") {
    val root = Files.createTempDirectory("graft-ingest").toString
    val cp = Files.createTempDirectory("graft-ingest-cp").toString
    val empty = Seq((7000L, ""))
    val in = inputDir(Seq(empty, (0L until 12L).map(doc), empty))
    ingest(in, root, cp)
    assert((0 to 2).forall(b => Files.exists(Paths.get(cp, "commits", b.toString))),
      "the stream did not commit all three batches")
    assert(IndexStore.versions(root, cfg.name).length == 1)
    val s = spark
    import s.implicits._
    val chunks = IndexPipeline.chunked((0L until 12L).map(doc).toDF("doc_id", "text"), cfg)
      .select("id").as[String].collect().toSeq.sorted
    assert(ids(root) == chunks)
    assert(IndexStore.manifest(root, cfg.name).count == chunks.length)
  }
}
