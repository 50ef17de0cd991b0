package graft

import org.apache.spark.sql.functions._

import graft.index.IndexStore
import graft.pipeline.IndexPipeline
import graft.sources.Readers

/** Replay the reference's OWN demo workflow on stand-ins of its fixture
  * files (`test_data/product_spec_v{1,2}.csv` + `gold_nimbus.csv`, same
  * shape: `doc_id`/`text` rows of several sentences, and gold questions
  * whose `expected_id`s are `{doc}#{j}` chunk ids of the v1 build): upload
  * v1, search it with the gold questions, evaluate, upload v2, and verify
  * the versioned artifacts — the exact loop a reference user runs through
  * the FastAPI surface, driven through this library instead. The embedder
  * is the deterministic stub, so METRIC VALUES are not comparable to the
  * reference's real-encoder numbers; the workflow mechanics (ingest with
  * text_column, `{doc}#{j}` ids matching the gold file, versioning,
  * ranked hits, eval plumbing) are.
  */
class ReferenceFixtureSpec extends SparkSpec {

  /** Writes the three stand-in CSVs into a fresh temp dir. The longest v1
    * rows run past one and two chunk strides (80 chars at the default
    * 100/20 window), so the gold file names `#1` and `#2` chunks too.
    */
  private def writeFixtures(): String = {
    val dir = java.nio.file.Files.createTempDirectory("ref_fixture_data")
    def csv(name: String, lines: String*): Unit =
      java.nio.file.Files.writeString(dir.resolve(name), lines.mkString("\n") + "\n")
    csv("product_spec_v1.csv",
      "doc_id,text",
      "1,\"Nimbus is a cloud storage appliance. It ships with two drive bays.\"",
      "2,\"The Nimbus battery lasts twelve hours on a full charge. Charging " +
        "takes ninety minutes with the bundled adapter. A low battery " +
        "warning shows at ten percent.\"",
      "3,\"Nimbus supports Wi-Fi 6 and Bluetooth 5. Pairing uses the " +
        "companion app.\"",
      "4,\"Warranty covers parts and labour for two years. Extended cover " +
        "can be bought within thirty days of purchase. Claims need the " +
        "original receipt and the serial number printed under the base " +
        "plate. Water damage is not covered.\"")
    csv("product_spec_v2.csv",
      "doc_id,text",
      "1,\"Nimbus 2 is a cloud storage appliance. It ships with four drive bays.\"",
      "2,\"The Nimbus 2 battery lasts sixteen hours on a full charge. " +
        "Charging takes an hour with the bundled adapter.\"",
      "3,\"Nimbus 2 supports Wi-Fi 7 and Bluetooth 5.3.\"")
    csv("gold_nimbus.csv",
      "question,expected_id",
      "how many drive bays does nimbus have,1#0",
      "how long does charging take,2#1",
      "which wireless standards are supported,3#0",
      "what does a warranty claim need,4#2")
    dir.toString
  }

  test("upload v1 → gold eval → upload v2 → two live versions") {
    val fixtures = writeFixtures()
    val root = java.nio.file.Files.createTempDirectory("ref_fixture").toString
    val cfg = IndexPipeline.Config(name = "nimbus")

    val m1 = IndexPipeline.buildFromFile(
      spark, s"$fixtures/product_spec_v1.csv", "csv", root, cfg)
    assert(m1.count > 0)
    assert(IndexStore.versions(root, "nimbus").length == 1)

    // the gold file references `{doc}#{chunk}` ids — the chunk-id scheme
    // must line up with what the pipeline persisted
    val gold = Readers.read(spark, s"$fixtures/gold_nimbus.csv", "csv")
      .select(col("question"), trim(col("expected_id")).as("expected_id"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(gold.nonEmpty)
    val indexedIds = IndexStore.load(spark, root, "nimbus")
      .select("id").collect().map(_.getString(0)).toSet
    gold.foreach { case (q, expected) =>
      assert(indexedIds.contains(expected),
        s"gold id '$expected' (for '$q') is not an indexed chunk id")
    }

    // ranked hits for every gold question through the search API
    val perQ = gold.map { case (q, expected) =>
      val hits = IndexPipeline.search(spark, root, "nimbus", q, 5, cfg).collect()
      assert(hits.nonEmpty, s"no hits for '$q'")
      val rks = hits.map(_.getAs[Long]("rk")).toSeq
      assert(rks == (1L to rks.length), s"ranks not dense for '$q'")
      val scores = hits.map(_.getAs[Double]("score")).toSeq
      assert(scores == scores.sorted.reverse, s"scores not ordered for '$q'")
      (q, expected, hits.map(_.getAs[String]("id")).toSeq)
    }

    // eval plumbing over the gold set: metrics well-formed (stub encoder
    // makes the VALUES meaningless, the shapes must still hold)
    val s = spark
    import s.implicits._
    val goldDf = gold.toSeq.toDF("question", "expected_id")
      .select(col("question").as("q_id"), col("expected_id"))
    val retrievedDf = perQ.toSeq
      .flatMap { case (q, _, ids) => ids.zipWithIndex.map { case (id, i) =>
        (q, id, (i + 1).toLong) } }
      .toDF("q_id", "neighbor_id", "rk")
    val m = graft.operators.Search.evalMetrics(
      graft.operators.Search.goldRanksFor(goldDf, retrievedDf), 5).collect()(0)
    assert(m.getAs[Long]("total") == gold.length.toLong)
    val recall = m.getAs[Double]("recall_at_k")
    val mrr = m.getAs[Double]("mrr")
    assert(recall >= 0.0 && recall <= 1.0)
    assert(mrr >= 0.0 && mrr <= recall + 1e-9, "MRR can never exceed recall@k")

    // upload v2 (the revised spec): a second live version, latest serves
    val m2 = IndexPipeline.buildFromFile(
      spark, s"$fixtures/product_spec_v2.csv", "csv", root, cfg)
    assert(m2.count > 0)
    assert(IndexStore.versions(root, "nimbus").length == 2)
    val hitsV2 = IndexPipeline.search(spark, root, "nimbus",
      gold.head._1, 5, cfg).collect()
    assert(hitsV2.nonEmpty, "latest version must serve")
  }
}
