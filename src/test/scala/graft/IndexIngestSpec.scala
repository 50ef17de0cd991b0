package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.pipeline.IndexPipeline
import graft.streaming.IndexIngest

case class IngestDoc(doc_id: Long, text: String)

class IndexIngestSpec extends SparkSpec {

  test("streaming ingest appends vectors + sidecar exactly once; search sees them") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-ingest").toString
    val cp = Files.createTempDirectory("graft-ingest-cp").toString
    val cfg = IndexPipeline.Config(name = "s_ix", backend = "flat")

    implicit val sq = spark.sqlContext
    val mem = MemoryStream[IngestDoc]
    val docs = mem.toDF()
    val d1 = IngestDoc(1L, "alpha beta gamma delta epsilon zeta eta theta " * 4)
    val d2 = IngestDoc(2L, "one two three four five six seven eight nine ten " * 4)
    mem.addData(d1, d2)
    IndexIngest.start(docs, root, "s_ix", cfg, s"$cp/vec").awaitTermination()

    // every streamed row carries its chunk's text beside the vector
    def streamed = spark.read.parquet(s"$root/s_ix/latest/vectors")
      .select("id", "text").collect().map(r => (r.getString(0), r.getString(1))).toSeq
    def chunks(ds: IngestDoc*) = IndexPipeline.chunked(ds.toDF("doc_id", "text"), cfg)
      .select("id", "text").collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val expected2 = chunks(d1, d2)
    assert(streamed.sorted == expected2.sorted)

    // resume with the same checkpoint: only NEW docs are appended
    val d3 = IngestDoc(3L, "lorem ipsum dolor sit amet consectetur adipiscing elit " * 4)
    mem.addData(d3)
    IndexIngest.start(docs, root, "s_ix", cfg, s"$cp/vec").awaitTermination()
    assert(streamed.sorted == chunks(d1, d2, d3).sorted)

    // the streamed index is searchable, previews included
    val chunk = IndexPipeline.chunked(Seq(d3).toDF("doc_id", "text"), cfg)
      .select("id", "text").collect()(0)
    val hits = IndexPipeline.search(spark, root, "s_ix",
      chunk.getString(1), 1, cfg).collect()
    assert(hits.head.getAs[String]("id") == chunk.getString(0))
    assert(hits.head.getAs[String]("preview") == chunk.getString(1))
  }

  test("streamed ingest refuses a built artifact (manifest present)") {
    // A file-sink append never rewrites the manifest, so a cached serving
    // loop would not see streamed rows — and flat cell=0 files would
    // corrupt an IVF layout. Built artifacts grow via IndexStore.append;
    // the ingest path must fail fast instead of silently going stale.
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-ingest").toString
    val cp = Files.createTempDirectory("graft-ingest-cp").toString
    graft.index.IndexStore.build(
      Seq(("a", Array.fill(8)(0.5f))).toDF("id", "vec"), root, "built", "flat")
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[IngestDoc]
    val e = intercept[IllegalArgumentException] {
      IndexIngest.start(mem.toDF(), root, "built",
        IndexPipeline.Config(name = "built", backend = "flat"), cp)
    }
    assert(e.getMessage.contains("IndexStore.append"))
  }
}
