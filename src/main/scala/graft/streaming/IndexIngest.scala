package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.pipeline.IndexPipeline

/** Streaming index ingest: a continuously-arriving (doc_id, text) stream →
  * chunk → embed → parquet index append. The reference rebuilds its faiss
  * index per upload (`pipeline.py`); the Spark-native continuous path
  * appends to the parquet index instead — chunking and the stub encoder
  * are narrow maps, so the stream never shuffles, and the parquet FILE
  * SINK commit log makes the append exactly-once across restarts (the
  * reason this uses the native sink rather than foreachBatch writes).
  *
  * Each streamed row carries its chunk text beside the vector, so a
  * search over the growing index is just [[IndexPipeline.search]] over the
  * same directory, previews included — new files are visible to the next
  * batch query.
  */
object IndexIngest {

  /** Fail fast when the target is a BUILT artifact: a streamed file-sink
    * append writes flat (cell = 0) files that would corrupt an IVF
    * artifact's cell-partitioned layout, and serving caches key freshness
    * on the manifest — which a file sink never rewrites, so streamed rows
    * would stay invisible to cached searches. Built artifacts grow through
    * [[graft.index.IndexStore.append]] (which re-assigns cells and
    * refreshes the manifest); streamed ingest owns manifest-LESS dirs,
    * where every search re-lists and sees the newest files.
    */
  private def requireIngestDir(root: String, name: String): Unit = {
    // ONLY a missing manifest means "ingest dir": a transient IO or
    // permission failure on the manifest read must propagate, not be read
    // as "no manifest" — that would let streamed ingest proceed against a
    // built artifact, exactly the layout/cache corruption this guard
    // exists to prevent
    val absent =
      try { graft.index.IndexStore.manifestJson(root, name); false }
      catch { case _: java.io.FileNotFoundException => true }
    require(absent,
      s"'$name' is a built artifact (manifest present); streamed ingest " +
        "targets manifest-less dirs — grow built artifacts with IndexStore.append")
  }

  /** Start appending (id, vec, text, cell=0) rows for a streaming docs frame
    * into `root/name/latest/vectors`. Caller owns the checkpoint dir
    * (reuse it to resume exactly-once).
    */
  def start(docs: DataFrame, root: String, name: String,
            cfg: IndexPipeline.Config, checkpoint: String): StreamingQuery = {
    requireIngestDir(root, name)
    IndexPipeline.vectorize(docs, cfg)
      .withColumn("cell", lit(0)) // streamed appends are flat; IVF re-cells offline
      .writeStream
      .format("parquet")
      .option("path", s"$root/$name/latest/vectors")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
