package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Deterministic 2-component PCA of the embedding table — the standard
  * embedding-analysis / dimensionality-reduction step of a vector pipeline
  * (drift dashboards plot corpora in PCA space; OPQ-style rotations start
  * from the same decomposition).
  *
  * The fit is a bounded, canonical computation so mean + components can be
  * embedded as 6dp literals into a DuckDB oracle (the [[IvfModel]] pattern):
  *  - sample = the [[SampleSize]] vectors with the smallest xxhash64(id)
  *    (TakeOrdered — never a full corpus pass, the 100 TB requirement;
  *    sketch-based PCA trains on a bounded sample the same way; hash
  *    order is deterministic AND representative on ordered corpora,
  *    where an id-prefix sample would see only the oldest slice);
  *  - driver-side power iteration on the centered sample's scatter matrix,
  *    fixed all-ones start vector, [[Iters]] iterations; the second
  *    component comes from the deflated sample (c1 projected out), same
  *    start, so the result is a pure function of the sample;
  *  - sign canonicalized (largest-|coordinate| positive) and everything
  *    rounded to 6 dp — short exact decimal literals both engines parse to
  *    the identical double.
  */
object PcaModel {

  val SampleSize = 4096
  val Iters = 50
  val Components = 2

  /** (mean, components) — components(k)(j), k < [[Components]]. */
  type Model = (Array[Double], Array[Array[Double]])

  /** Fitted model for the embeddings table under `dir`, one fit per
    * (session, embeddings snapshot) in [[graft.Artifacts]]. Oracle-SQL
    * generation receives the SAME (session, dir) from Verify, so the
    * literals match the fit the query ran with.
    */
  def model(spark: SparkSession, dir: String): Model =
    graft.Artifacts.table(spark, "pcaFit", dir, "embeddings")(
      fitFromDf(Tables.embeddings(spark, dir), "vec_id", "embedding",
        knownTotal = IvfModel.corpusCount(spark, dir)))

  def fitFromDf(df: DataFrame, idCol: String, vecCol: String,
      knownTotal: Long = -1L): Model = {
    // cast to array<double> up front: a double- or decimal-typed vector
    // column fits fine (typed analysis error for non-numeric elements)
    // instead of a runtime ClassCastException on getSeq[Float]
    val sample = IvfModel.hashOrderedTake(
        df.select(col(idCol), col(vecCol).cast("array<double>")),
        idCol, SampleSize, knownTotal)
      .map(_.getSeq[Double](1).toArray)
    fit(sample)
  }

  /** Canonical fit: center, power-iterate, deflate, repeat. Pure function
    * of the sample.
    */
  def fit(sample: Array[Array[Double]]): Model = {
    require(sample.nonEmpty, "PCA fit needs a non-empty sample")
    val n = sample.length
    val dim = sample.head.length
    val mean = new Array[Double](dim)
    sample.foreach { x => var j = 0; while (j < dim) { mean(j) += x(j); j += 1 } }
    locally { var j = 0; while (j < dim) { mean(j) /= n; j += 1 } }
    // centered working copy; deflated in place between components
    val xs = sample.map { x => Array.tabulate(dim)(j => x(j) - mean(j)) }
    val comps = (0 until Components).map { _ =>
      val c = powerIterate(xs, dim)
      // deflate: remove the found direction from every row
      xs.foreach { x =>
        var p = 0.0
        var j = 0
        while (j < dim) { p += x(j) * c(j); j += 1 }
        j = 0
        while (j < dim) { x(j) -= p * c(j); j += 1 }
      }
      c
    }.toArray
    (round6(mean), comps.map(round6))
  }

  /** Power iteration on the scatter matrix XᵀX without forming it:
    * v ← Xᵀ(Xv), normalized each step; deterministic all-ones start; sign
    * canonicalized so the largest-|coordinate| entry is positive.
    */
  private def powerIterate(xs: Array[Array[Double]], dim: Int): Array[Double] = {
    var v = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    var it = 0
    while (it < Iters) {
      val next = new Array[Double](dim)
      xs.foreach { x =>
        var p = 0.0
        var j = 0
        while (j < dim) { p += x(j) * v(j); j += 1 }
        j = 0
        while (j < dim) { next(j) += p * x(j); j += 1 }
      }
      var nrm = 0.0
      locally { var j = 0; while (j < dim) { nrm += next(j) * next(j); j += 1 } }
      nrm = math.sqrt(nrm)
      if (nrm == 0.0) return v // degenerate (all residuals zero): keep start
      locally { var j = 0; while (j < dim) { next(j) /= nrm; j += 1 } }
      v = next
      it += 1
    }
    var big = 0
    locally { var j = 1; while (j < dim) { if (math.abs(v(j)) > math.abs(v(big))) big = j; j += 1 } }
    if (v(big) < 0) v.map(-_) else v
  }

  private def round6(a: Array[Double]): Array[Double] =
    a.map(v => BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)

  /** DuckDB CTE `pca(mu, c1, c2)` embedding the fitted literals. */
  def pcaCte(m: Model): String = {
    val (mean, comps) = m
    s"""pca AS (SELECT [${mean.mkString(", ")}]::DOUBLE[] AS mu,
       |  [${comps(0).mkString(", ")}]::DOUBLE[] AS c1,
       |  [${comps(1).mkString(", ")}]::DOUBLE[] AS c2)""".stripMargin
  }
}
