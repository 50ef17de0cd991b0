package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.VectorOps

/** Continuous ANN serving: a STREAM of query vectors scored against a
  * static (periodically rebuilt) ivfpq index — the always-on retrieval
  * path of a vector store, as Structured Streaming.
  *
  * The whole scoring path is stateless (probe → stream-static join →
  * ADC kernel), so it runs in append mode with no watermark or state
  * store; per-query top-k is a per-micro-batch ranking ([[rankTopK]],
  * the batch path's [[graft.functions.Ranking.topKPer]] window, inside
  * `foreachBatch`), because a global rank over an unbounded
  * stream is undefined. At scale the static side is the PQ code table
  * (codes are 64× smaller than embeddings) and each micro-batch's tiny
  * query side broadcasts.
  */
object VectorStream {

  /** Scored candidates for a streaming `queries` frame (`id`,
    * `vec array<float>`) against a static ivfpq `index` frame (`id`,
    * `codes array<long>`, `cell`) — each query meets only the rows of its
    * `nprobe` nearest coarse cells, scored by the
    * [[graft.functions.PqAdcScore]] ADC kernel. Append-safe (stateless).
    * This form is frame-level (no artifact IO) for callers that manage
    * their own index frames; to serve a PERSISTED artifact — with the
    * manifest's tuned probe dial resolved automatically — use
    * [[adcCandidatesFrom]].
    */
  def adcCandidates(queries: DataFrame, index: DataFrame,
                    cents: Array[Array[Double]],
                    cb: Array[Array[Array[Double]]],
                    nprobe: Int = VectorOps.NProbe): DataFrame =
    VectorOps.adcScan(index, "id", VectorOps.probedQueries(queries, col("id"), col("vec"),
        VectorFunctions.norm(col("vec")), cents, nprobe), cb)
      .select(col("q_id"), col("id").as("neighbor_id"), col("score"))

  /** [[adcCandidates]] against a PERSISTED ivfpq artifact, served by the
    * batch path's own [[graft.index.IndexStore.adcScored]]: one manifest
    * read names the code table, centroids and codebooks, and resolves the
    * probe count the way batch serving does — an explicit `nprobe ≥ 1`
    * wins, else the manifest's
    * [[graft.index.IndexStore.Manifest.servingProbes]] (the tuned dial
    * when the build persisted one, else the build nprobe). So a stream
    * server pointed at a tuned artifact serves AT the tuned dial with no
    * code knowing the number.
    *
    * The static side is the whole cell-partitioned code table: cell
    * pruning is per query set, and a long-lived stream meets all cells
    * eventually. It is still 64× smaller than the embeddings.
    */
  def adcCandidatesFrom(spark: org.apache.spark.sql.SparkSession,
                        root: String, name: String, queries: DataFrame,
                        nprobe: Int = -1,
                        version: Option[String] = None): DataFrame =
    graft.index.IndexStore.adcScored(spark, root, name, queries, nprobe, version)
      .select(col("q_id"), col("id").as("neighbor_id"), col("score"))

  /** Streaming embedding near-dup candidates — the continuous form of the
    * batch [[graft.operators.Dedup.dedupEmbeddingLsh]]: each arriving
    * vector's sign-chunk keys (one fused
    * [[graft.functions.VecSignChunks]] kernel pass, same deterministic
    * hyperplanes) route it to chunk buckets over the SAME keyed
    * bucket-state machine as the text stream
    * ([[DocStream.bucketCandidates]]) — watermark-evicted residents,
    * stop-bucket poisoning. Emitted pairs feed an exact-cosine verify,
    * exactly like the batch operator's verify join.
    *
    * `vectors` needs (`vec_id`, `ts`, `embedding array<float>`).
    */
  def nearDupCandidates(vectors: DataFrame, dim: Int, withinMinutes: Int = 60,
                        maxBucket: Int = graft.operators.Dedup.MaxBucketSize)
      : org.apache.spark.sql.Dataset[DocStream.CandPair] = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val planes = Array.tabulate(graft.operators.Dedup.EmbLshBits, dim)(
      (k, j) => graft.operators.Dedup.hyperplane(k, j))
    DocStream.bucketCandidates(
      vectors.select(col("vec_id").as("doc_id"), col("ts"),
          posexplode(graft.functions.VecSignChunks.column(
            col("embedding"), planes, graft.operators.Dedup.EmbLshChunkBits))
            .as(Seq("band", "key")))
        .select(col("band"), col("key").cast("string").as("key"),
          col("doc_id"), col("ts"))
        .as[DocStream.BandHit],
      withinMinutes, maxBucket)
  }

  /** Rep-level streaming embedding near-dup — the grouped twin of
    * [[nearDupCandidates]] over [[DocStream.bucketCandidatesGrouped]]:
    * byte-identical vectors share an `xxhash64(embedding)` fingerprint
    * and occupy ONE bucket residency, so an exact-duplicate vector flood
    * (the adversarial lane's 25% shared-constant class; re-encoded crawl
    * snapshots in production) refreshes one group instead of emitting
    * C(g,2) pairs. Pairs emit only across distinct vectors; the stop cap
    * counts distinct vectors. Member recovery is a join on the
    * fingerprint, exactly like the batch grouped forms.
    */
  def nearDupCandidatesGrouped(vectors: DataFrame, dim: Int,
      withinMinutes: Int = 60,
      maxBucket: Int = graft.operators.Dedup.MaxBucketSize)
      : org.apache.spark.sql.Dataset[DocStream.GroupCandPair] = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val planes = Array.tabulate(graft.operators.Dedup.EmbLshBits, dim)(
      (k, j) => graft.operators.Dedup.hyperplane(k, j))
    DocStream.bucketCandidatesGrouped(
      vectors.select(col("vec_id").as("doc_id"), col("ts"),
          xxhash64(col("embedding")).as("fp"),
          posexplode(graft.functions.VecSignChunks.column(
            col("embedding"), planes, graft.operators.Dedup.EmbLshChunkBits))
            .as(Seq("band", "key")))
        .select(col("band"), col("key").cast("string").as("key"),
          col("doc_id"), col("fp"), col("ts"))
        .as[DocStream.GroupBandHit],
      withinMinutes, maxBucket)
  }

  /** Per-micro-batch top-k ranking of [[adcCandidates]] output (run it
    * inside `foreachBatch`): deterministic 6dp-score ordering with id
    * tiebreak — identical to the batch serving path.
    */
  def rankTopK(candidates: DataFrame, k: Int): DataFrame =
    VectorOps.nearest(candidates, k, "neighbor_id")
}
