package graft

import java.nio.file.Files

import graft.index.IndexStore
import graft.pipeline.{IndexPipeline, Jobs}

/** Upload-job surface (reference `files.py:12-60`): submit → status
  * lifecycle, progress event log, rich /indexes listing, and concat_row
  * text assembly for tabular uploads without a text column.
  */
class JobsSpec extends SparkSpec {

  private def docs = {
    val s = spark
    import s.implicits._
    (0L until 12L).map(i => (i, s"job spec document $i with enough text"))
      .toDF("doc_id", "text")
  }

  test("submit tracks queued→running→done with progress events") {
    val root = Files.createTempDirectory("graft-jobs").toString
    val (id, m) = Jobs.submit(docs, root, IndexPipeline.Config("jobs_ok"))
    assert(m.count > 0)
    val j = Jobs.status(id).get
    assert(j.state === Jobs.Done)
    assert(j.indexName === "jobs_ok")
    assert(j.events.contains("Chunking") && j.events.contains("DONE"))
  }

  test("a failing build lands in Failed with the error recorded") {
    val s = spark
    import s.implicits._
    val bad = Seq((1L, 2L)).toDF("doc_id", "other")
    val root = Files.createTempDirectory("graft-jobs").toString
    val thrown = intercept[Throwable] {
      Jobs.submit(bad, root, IndexPipeline.Config("jobs_bad"))
    }
    val failed = Jobs.all().find(_.indexName == "jobs_bad").get
    failed.state match {
      case Jobs.Failed(msg) => assert(msg == String.valueOf(thrown.getMessage))
      case other            => fail(s"expected Failed, got $other")
    }
    assert(Jobs.status("job-does-not-exist").isEmpty)
  }

  test("listDetailed returns manifest summaries with sources presence") {
    val root = Files.createTempDirectory("graft-jobs").toString
    val cfg = IndexPipeline.Config("jobs_listed")
    IndexPipeline.build(docs, root, cfg)
    val listed = IndexStore.listDetailed(root)
    assert(listed.map(_._1) === Seq("jobs_listed"))
    val (_, manifest, hasSources) = listed.head
    assert(manifest.contains("\"backend\": \"flat\""))
    assert(!hasSources) // build() writes no sources sidecar
  }

  test("buildFromFile without a text column concat_rows the scalar cells") {
    val dir = Files.createTempDirectory("graft-csv")
    Files.writeString(dir.resolve("t.csv"),
      "city,population,note\nparis,100, x \nlyon,50,\n")
    val root = Files.createTempDirectory("graft-jobs").toString
    IndexPipeline.buildFromFile(spark, dir.resolve("t.csv").toString, "csv",
      root, IndexPipeline.Config("jobs_csv", chunkSize = 200, chunkOverlap = 10),
      textColumn = None)
    // the index rows carry the assembled row text as chunk text
    val sidecar = IndexStore.loadDocs(spark, root, "jobs_csv").get
      .collect().map(_.getString(1)).toSet
    assert(sidecar === Set("paris | 100 |  x ", "lyon | 50"))
  }
}
