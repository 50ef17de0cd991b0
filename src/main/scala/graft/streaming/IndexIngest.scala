package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.StreamExecution
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.index.IndexStore
import graft.pipeline.IndexPipeline

/** Streaming index ingest: a continuously arriving (doc_id, text) stream →
  * chunk → embed → the versioned index at `root/name`, one commit per
  * micro-batch through `foreachBatch`. The reference rebuilds its faiss
  * index per upload (`pipeline.py`); the continuous path grows one index
  * instead, and chunking and embedding are narrow maps, so a batch
  * shuffles only its own delta.
  *
  * While the index has no manifest, the first batch that yields rows
  * builds it ([[IndexPipeline.build]]); every later batch is an
  * [[IndexStore.append]] of its vectors. A stream thus grows a built
  * flat, ivf or ivfpq index with the persisted models, and the persisted
  * backend wins over `cfg`'s, as in [[IndexPipeline.search]]. Each commit
  * moves the one pointer every search reads, so a search sees every
  * committed batch, previews included.
  *
  * Exactly-once: each commit writes the stream's query id (stable across
  * restarts from one checkpoint) and batch id into the pointer it moves,
  * and a batch the pointer already holds for that query is skipped: Spark
  * replays a batch whose index commit landed but whose checkpoint commit
  * did not. A batch that yields no rows leaves no version.
  *
  * A stream is one writer that runs one batch at a time. A race with
  * another writer of the same index (a build, an append, a second stream)
  * is not guarded against.
  */
object IndexIngest {

  /** Start growing `root/name` from a streaming docs frame, processing
    * what is available now. Caller owns the checkpoint dir (reuse it to
    * resume exactly-once).
    */
  def start(docs: DataFrame, root: String, name: String,
            cfg: IndexPipeline.Config, checkpoint: String): StreamingQuery = {
    val c = cfg.copy(name = name)
    val commit: (DataFrame, Long) => Unit = { (batch, id) =>
      val query = batch.sparkSession.sparkContext.getLocalProperty(StreamExecution.QUERY_ID_KEY)
      val mark = Some(IndexStore.Mark(query, id))
      val vectors = IndexPipeline.vectorize(batch, c)
      if (IndexStore.exists(root, name)) IndexStore.append(vectors, root, name, mark)
      else if (!vectors.isEmpty) IndexPipeline.store(vectors, root, c, mark = mark)
    }
    docs.writeStream
      .foreachBatch(commit)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
