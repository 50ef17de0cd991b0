package graft.operators

import org.apache.spark.sql.SparkSession

import graft.sources.Tables

/** Deterministic product-quantization codebooks (the PQ half of the
  * faiss-style IVF-PQ stack — reference `backends/faiss_ivf.py` trains the
  * coarse quantizer; PQ is the standard companion that shrinks each stored
  * vector to [[SubSpaces]] byte-sized codes, Jégou et al. 2011).
  *
  * The fit reuses [[IvfModel.fit]]'s canonical bounded-sample Lloyd's per
  * subspace: the SAME hash-ordered [[IvfModel.SampleSize]] sample
  * ([[IvfModel.sampleOf]] — deterministic, representative on ordered
  * corpora; [[Codes]]·[[IvfModel.SamplePerCell]] = 1024 < 4096 so the
  * floor already gives every code ≥ 64 training points), each
  * vector split into [[SubSpaces]] contiguous [[SubDim]]-dim subvectors,
  * one k=[[Codes]] k-means per subspace, centroids rounded to 6 dp. Like
  * the IVF centroids, the codebooks are a few KB of exact decimal literals
  * that ride inside the Spark kernels AND the generated DuckDB oracle SQL,
  * so code assignment and ADC scoring are the identical double programs on
  * both engines.
  */
object PqModel {

  /** Number of subspaces (M): 64-dim embeddings → 4× 16-dim subvectors. */
  val SubSpaces = 4

  /** Dimensions per subspace. */
  val SubDim = 16

  /** Codes per subspace codebook (k): 16 = 4-bit codes; a stored vector is
    * [[SubSpaces]]×4 bits — 64× smaller than the float32 original.
    */
  val Codes = 16

  /** Codebooks for the embeddings table under `dir`, one fit per (session,
    * embeddings snapshot) in [[graft.Artifacts]] — `(subspace)(code)(dim)`
    * doubles. Oracle-SQL generation receives the same fit via
    * [[graft.SparkEntry.oracleSqlFor]] threading (session, dir) explicitly.
    */
  def codebooks(spark: SparkSession, dir: String): Array[Array[Array[Double]]] =
    graft.Artifacts.table(spark, "pqFit", dir, "embeddings")(
      fitFromDf(Tables.embeddings(spark, dir), "vec_id", "embedding",
        knownTotal = IvfModel.corpusCount(spark, dir)))

  /** Fit codebooks on the deterministic bounded sample of any
    * (id, array<float>) frame — the [[IvfModel.fitFromDf]] counterpart.
    * Subspace width is derived from the data (`dim / subSpaces`).
    */
  def fitFromDf(df: org.apache.spark.sql.DataFrame, idCol: String, vecCol: String,
                subSpaces: Int = SubSpaces, codes: Int = Codes,
                knownTotal: Long = -1L): Array[Array[Array[Double]]] =
    fitFromSample(IvfModel.sampleOf(df, idCol, vecCol, IvfModel.SampleSize, knownTotal),
      subSpaces, codes)

  /** [[fitFromDf]] on `sample`, the frame's first [[IvfModel.SampleSize]]
    * rows in [[IvfModel.sampleOf]]'s order: a prefix of the IVF fit's
    * sample, which is never smaller.
    */
  private[graft] def fitFromSample(sample: Array[Array[Double]],
      subSpaces: Int = SubSpaces, codes: Int = Codes): Array[Array[Array[Double]]] = {
    require(sample.nonEmpty, "PQ fit needs a non-empty sample")
    val dim = sample.head.length
    require(dim % subSpaces == 0, s"dim $dim not divisible into $subSpaces subspaces")
    val sub = dim / subSpaces
    Array.tabulate(subSpaces) { m =>
      IvfModel.fit(sample.map(_.slice(m * sub, (m + 1) * sub)), codes)
    }
  }

  /** Squared L2 norm of each codebook centroid, accumulated sequentially
    * over dims — the identical op order as the oracle's `list_sum`, so the
    * reconstruction norms agree to the last ulp on both engines.
    */
  def normSq(cb: Array[Array[Array[Double]]]): Array[Array[Double]] =
    cb.map(_.map { c =>
      var acc = 0.0
      var j = 0
      while (j < c.length) { acc += c(j) * c(j); j += 1 }
      acc
    })

  /** DuckDB CTE `pqc(m, code, cent)` embedding the fitted codebooks as
    * literals (the [[IvfModel.centsCte]] pattern).
    */
  def pqCte(cb: Array[Array[Array[Double]]]): String =
    cb.zipWithIndex.flatMap { case (book, m) =>
      book.zipWithIndex.map { case (c, code) =>
        s"(CAST($m AS BIGINT), CAST($code AS BIGINT), [${c.mkString(", ")}]::DOUBLE[])"
      }
    }.mkString("pqc(m, code, cent) AS (SELECT * FROM (VALUES\n    ",
      ",\n    ", ") AS t(m, code, cent))")
}
