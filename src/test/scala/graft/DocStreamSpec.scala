package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.DocStream

case class IngestDoc(doc_id: Long, text: String)

/** Streaming quality filter == the batch scorer on the same rows. */
class DocStreamSpec extends SparkSpec {

  test("streaming qualityFilter equals the batch filter on identical docs") {
    val s = spark
    import s.implicits._
    implicit val sq = spark.sqlContext

    val texts = Seq(
      "the quick brown fox jumps over the lazy dog and runs to the hills " * 3,
      "!!! ??? ### $$$ %%%",
      "a of to in is and the " * 10,
      "word",
      "The rain in Spain stays mainly in the plain and is a fine thing to see " * 2)
    val batchKept = DocStream.qualityFilter(
        texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("quality"))).toMap

    val mem = MemoryStream[IngestDoc]
    mem.addData(texts.zipWithIndex.map { case (t, i) => IngestDoc(i.toLong, t) }: _*)
    val q = DocStream.qualityFilter(mem.toDF())
      .writeStream.format("memory").queryName("docstream_q").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamKept = spark.table("docstream_q").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("quality"))).toMap

    assert(streamKept == batchKept)
    assert(batchKept.nonEmpty && batchKept.size < texts.length,
      "filter should keep some and drop some")
  }
}
