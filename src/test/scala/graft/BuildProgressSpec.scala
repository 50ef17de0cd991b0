package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.pipeline.{BuildProgress, IndexPipeline}

/** Progress events during an index build (reference SSE surface): named
  * stage markers from the pipeline + scheduler job/stage events from the
  * job-group-scoped listener.
  */
class BuildProgressSpec extends SparkSpec {

  private def docs = {
    val s = spark
    import s.implicits._
    (0L until 20L).map(i => (i, s"document number $i with some text to chunk and embed"))
      .toDF("doc_id", "text")
  }

  /** Spark's listener bus is async — poll briefly for scheduler events. */
  private def awaitScheduler(events: ConcurrentLinkedQueue[String]): Unit = {
    val deadline = System.nanoTime() + 10e9.toLong
    while (System.nanoTime() < deadline &&
      !events.asScala.exists(_.startsWith("spark job"))) Thread.sleep(50)
  }

  test("buildWithProgress emits stage markers, scheduler events, and DONE") {
    val events = new ConcurrentLinkedQueue[String]()
    val root = Files.createTempDirectory("graft-prog").toString
    val m = IndexPipeline.buildWithProgress(
      docs, root, IndexPipeline.Config("prog_flat"), events.add(_))
    assert(m.count > 0)
    awaitScheduler(events)
    val es = events.asScala.toSeq
    assert(es.contains("Chunking"))
    assert(es.exists(_.startsWith("Embedding")))
    assert(es.contains("Building index [flat]"))
    assert(es.last === "DONE" || es.contains("DONE"))
    assert(es.exists(_.startsWith("spark job")), s"no scheduler events in: $es")
    assert(es.exists(_.startsWith("stage ")), s"no stage events in: $es")
  }

  test("buildWithProgress names its stages in order and builds what build builds") {
    val events = new ConcurrentLinkedQueue[String]()
    val root = Files.createTempDirectory("graft-prog").toString
    val cfg = IndexPipeline.Config("prog_ivf", backend = "ivf", nlist = 4,
      model = graft.functions.HashedNgramEncoder.name, dim = 32)
    val m = IndexPipeline.buildWithProgress(docs, root, cfg, events.add(_))
    val markers = events.asScala.toSeq
      .filterNot(e => e.startsWith("spark job") || e.startsWith("stage "))
    assert(markers == Seq("Chunking", s"Embedding with ${cfg.model} (dim=32)",
      "Building index [ivf]", "DONE"))
    val plain = IndexPipeline.build(docs, root, cfg.copy(name = "plain_ivf"))
    assert(m.copy(createdAt = "") == plain.copy(createdAt = ""))
    assert(m.model == cfg.model && m.dim == 32 && m.params.nlist == 4)
  }

  test("a failing build emits ERROR and rethrows") {
    val events = new ConcurrentLinkedQueue[String]()
    val s = spark
    import s.implicits._
    // no 'text' column -> chunking resolves nothing -> analysis error
    val bad = Seq((1L, 2L)).toDF("doc_id", "other")
    intercept[Throwable] {
      IndexPipeline.buildWithProgress(
        bad, Files.createTempDirectory("graft-prog").toString,
        IndexPipeline.Config("prog_bad"), events.add(_))
    }
    assert(events.asScala.exists(_.startsWith("ERROR:")))
  }

  test("listener only reports jobs in its group") {
    val events = new ConcurrentLinkedQueue[String]()
    BuildProgress.withProgress(spark, "grp-a", events.add(_)) {
      spark.range(100).count()
    }
    // a job OUTSIDE the group after exit must not land in events
    spark.range(100).count()
    awaitScheduler(events)
    val jobs = events.asScala.count(_.startsWith("spark job"))
    assert(jobs >= 1)
  }
}
