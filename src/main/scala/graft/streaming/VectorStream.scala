package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{IvfProbes, PqAdcScore, VectorFunctions}
import graft.operators.VectorOps

/** Continuous ANN serving: a STREAM of query vectors scored against a
  * static (periodically rebuilt) ivfpq index — the always-on retrieval
  * path of a vector store, as Structured Streaming.
  *
  * The whole scoring path is stateless (probe → stream-static join →
  * ADC kernel), so it runs in append mode with no watermark or state
  * store; per-query top-k is a per-micro-batch ranking ([[rankTopK]]
  * inside `foreachBatch`), because a global rank over an unbounded
  * stream is undefined. At scale the static side is the
  * partition-pruned PQ code table (codes are 64× smaller than
  * embeddings) and each micro-batch's tiny query side broadcasts.
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
                    nprobe: Int = VectorOps.NProbe): DataFrame = {
    val qCells = queries.select(
        col("id").as("q_id"), col("vec").as("q_emb"),
        VectorFunctions.norm(col("vec")).as("q_nrm"),
        explode(IvfProbes.column(col("vec"), cents, nprobe)).as("p"))
      .select(col("q_id"), col("q_emb"), col("q_nrm"), col("p.cell").cast("int").as("cell"))
    qCells.join(index, Seq("cell"))
      .filter(col("id") =!= col("q_id"))
      .select(col("q_id"), col("id").as("neighbor_id"),
        PqAdcScore.column(col("q_emb"), col("q_nrm"), col("codes"), cb).as("score"))
  }

  /** [[adcCandidates]] against a PERSISTED ivfpq artifact — the stream
    * twin of [[graft.index.IndexStore.adcSearch]]: loads the code table,
    * centroid and codebook sidecars once at query start, and resolves the
    * probe count the same way batch serving does — an explicit
    * `nprobe ≥ 1` wins, else the manifest's
    * [[graft.index.IndexStore.Manifest.servingProbes]] (the
    * tuned dial when the build persisted one, else the
    * build nprobe). This closes the dial handoff end-to-end: a stream
    * server pointed at a tuned artifact serves AT the tuned dial with no
    * code knowing the number.
    *
    * The static side stays a lazy parquet scan of the cell-partitioned
    * code table; per-micro-batch probing joins against it stream-static.
    * (Cell-level partition PRUNING is per-query-set and therefore a batch
    * concept — a long-lived stream meets all cells eventually, so the
    * static side is the full table by design, still 64× smaller than the
    * embeddings.)
    */
  def adcCandidatesFrom(spark: org.apache.spark.sql.SparkSession,
                        root: String, name: String, queries: DataFrame,
                        nprobe: Int = -1,
                        version: Option[String] = None): DataFrame = {
    import graft.index.IndexStore
    val m = IndexStore.manifest(root, name, version)
    require(m.backend == "ivfpq",
      s"adcCandidatesFrom serves ivfpq artifacts; '$name' is ${m.backend}")
    adcCandidates(queries, IndexStore.loadServing(spark, root, name, version),
      IndexStore.loadCentroids(spark, root, name, version),
      IndexStore.loadCodebooks(spark, root, name, version), m.probes(nprobe))
  }

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
    candidates
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("neighbor_id"))))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk").cast("long").as("rk"),
        col("neighbor_id"), col("score"))
}
