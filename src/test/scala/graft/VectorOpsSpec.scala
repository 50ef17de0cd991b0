package graft

import graft.operators.VectorOps
import graft.sources.Tables

class VectorOpsSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private lazy val emb: Array[(Long, Array[Float])] =
    Tables.embeddings(spark, dir).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    for (i <- a.indices) {
      d += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  test("knn_bruteforce matches an exact cosine replica") {
    val got = VectorOps.knnBruteforce(spark, dir).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) =>
        q -> rs.sortBy(_.getAs[Long]("rk")).map(_.getAs[Long]("neighbor_id")).toSeq
      }
    val queries = emb.filter(_._1 < 10)
    queries.foreach { case (qid, qv) =>
      val want = emb.filter(_._1 != qid)
        .map { case (id, v) =>
          (id, BigDecimal(cos(qv, v)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
        .sortBy { case (id, s) => (-s, id) }.take(VectorOps.DefaultK).map(_._1).toSeq
      assert(got(qid) == want, s"query $qid")
    }
  }

  test("ivf_build assigns every vector to a valid cell") {
    val rows = VectorOps.ivfBuild(spark, dir).collect()
    assert(rows.length == emb.length)
    rows.foreach { r =>
      val c = r.getAs[Long]("cell")
      assert(c >= 0 && c < VectorOps.NumCells)
      assert(r.getAs[Double]("d2") >= 0.0)
    }
    // seeded -> deterministic across runs
    val again = VectorOps.ivfBuild(spark, dir).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cell"))).toMap
    rows.foreach(r => assert(again(r.getAs[Long]("vec_id")) == r.getAs[Long]("cell")))
  }

  test("ivf_search results are a subset of brute-force candidates with sane ranks") {
    val rows = VectorOps.ivfSearch(spark, dir).collect()
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.keySet == emb.filter(_._1 < 10).map(_._1).toSet)
    byQ.foreach { case (_, rs) =>
      val ranks = rs.map(_.getAs[Long]("rk")).sorted.toSeq
      assert(ranks == (1L to ranks.length).toSeq)
      val scores = rs.sortBy(_.getAs[Long]("rk")).map(_.getAs[Double]("score")).toSeq
      assert(scores == scores.sorted.reverse, "scores must be non-increasing")
    }
  }

  test("ann_ivf pairs are a subset of exact dedup_embedding pairs") {
    val exact = graft.operators.Dedup.dedupEmbedding(spark, dir).collect()
      .map(r => (r.getAs[Long]("vec_id_a"), r.getAs[Long]("vec_id_b"))).toSet
    val approx = VectorOps.annIvf(spark, dir).collect()
      .map(r => (r.getAs[Long]("vec_id_a"), r.getAs[Long]("vec_id_b"))).toSet
    assert(approx.subsetOf(exact))
  }

  test("vec_quantize error matches an int8 scalar-quantization replica") {
    val rows = VectorOps.vecQuantize(spark, dir).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Double]("err_l2"), r.getAs[Double]("max_abs_err"))).toMap
    assert(rows.size == emb.length)
    val dims = emb.head._2.length
    val lo = (0 until dims).map(d => emb.map(_._2(d).toDouble).min)
    val hi = (0 until dims).map(d => emb.map(_._2(d).toDouble).max)
    emb.take(20).foreach { case (id, v) =>
      var sum = 0.0
      var mx = 0.0
      for (d <- 0 until dims) {
        val x = v(d).toDouble
        val deq =
          if (hi(d) == lo(d)) lo(d)
          else BigDecimal((x - lo(d)) / (hi(d) - lo(d)) * 255)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble / 255 *
            (hi(d) - lo(d)) + lo(d)
        val e = x - deq
        sum += e * e
        mx = math.max(mx, math.abs(e))
      }
      val (gotL2, gotMax) = rows(id)
      assert(math.abs(gotL2 - math.sqrt(sum)) < 1e-5, s"vec $id l2")
      assert(math.abs(gotMax - mx) < 1e-5, s"vec $id max")
      // int8 quantization error per dim is bounded by half a step
      assert(mx <= (0 until dims).map(d => (hi(d) - lo(d)) / 255 / 2).max + 1e-9)
    }
  }

  // The pre-r15 composed HOF program (transform/aggregate lambdas,
  // interpreted outside whole-stage codegen) — the reference twin the
  // fused QuantizeError kernel must equal bit-for-bit.
  private def composedQuantize(df: org.apache.spark.sql.DataFrame,
                               lo: Array[Double], hi: Array[Double]) = {
    import org.apache.spark.sql.functions._
    val loA = array(lo.map(lit).toIndexedSeq: _*)
    val hiA = array(hi.map(lit).toIndexedSeq: _*)
    val diffs = transform(sequence(lit(0), lit(lo.length - 1)), i => {
      val x = element_at(col("embedding"), i + 1).cast("double")
      val l = element_at(loA, i + 1)
      val h = element_at(hiA, i + 1)
      val deq = when(h === l, l)
        .otherwise(round((x - l) / (h - l) * 255, 0) / 255 * (h - l) + l)
      x - deq
    })
    df.select(col("vec_id"),
      round(sqrt(aggregate(diffs, lit(0.0), (a, v) => a + v * v)), 6).as("err_l2"),
      round(array_max(transform(diffs, v => abs(v))), 6).as("max_abs_err"))
  }

  private def fusedQuantize(df: org.apache.spark.sql.DataFrame,
                            lo: Array[Double], hi: Array[Double]) = {
    import org.apache.spark.sql.functions._
    val qe = graft.functions.QuantizeError.column(col("embedding"), lo, hi)
    df.select(col("vec_id"), explode(array(qe)).as("qe"))
      .select(col("vec_id"),
        col("qe").getItem(0).as("err_l2"),
        col("qe").getItem(1).as("max_abs_err"))
  }

  test("vec_quantize fused kernel equals the composed HOF program bit-for-bit") {
    val s = spark
    import s.implicits._
    def bits(d: java.lang.Double): Any =
      if (d == null) null else java.lang.Double.doubleToLongBits(d.doubleValue())
    val lo = Array(0.0, -1.0, 2.0, -0.5)
    val hi = Array(255.0, 1.0, 2.0, 0.75) // dim 2: hi == lo (constant dim)
    val hostile = Seq(
      (1L, Array(2.5f, 0.3f, 2.0f, -0.5f)),       // exact .5 HALF_UP tie on dim 0
      (2L, Array(-3.0f, 7.5f, 9.0f, 2.0f)),       // values outside the fit range
      (3L, Array(0.0f, -1.0f, 2.0f, 0.75f)),      // exactly at the range edges
      (4L, Array(254.999f, 0.999f, -2.0f, 0.0f)),
      (5L, Array(Float.NaN, 0.0f, 2.0f, 0.1f))    // NaN rides both reductions
    ).toDF("vec_id", "embedding")
    val a = composedQuantize(hostile, lo, hi).collect()
      .map(r => (r.getLong(0), bits(r.getAs[java.lang.Double](1)),
        bits(r.getAs[java.lang.Double](2)))).sortBy(_._1)
    val b = fusedQuantize(hostile, lo, hi).collect()
      .map(r => (r.getLong(0), bits(r.getAs[java.lang.Double](1)),
        bits(r.getAs[java.lang.Double](2)))).sortBy(_._1)
    assert(a.sameElements(b))
    // full-corpus equality: the registered fused query vs the composed twin
    // over the same fitted per-dim ranges
    val dims = emb.head._2.length
    val loFit = (0 until dims).map(d => emb.map(_._2(d).toDouble).min).toArray
    val hiFit = (0 until dims).map(d => emb.map(_._2(d).toDouble).max).toArray
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val want = composedQuantize(e, loFit, hiFit).collect()
      .map(r => (r.getLong(0), bits(r.getAs[java.lang.Double](1)),
        bits(r.getAs[java.lang.Double](2)))).sortBy(_._1)
    val got = VectorOps.vecQuantize(spark, dir).collect()
      .map(r => (r.getLong(0), bits(r.getAs[java.lang.Double](1)),
        bits(r.getAs[java.lang.Double](2)))).sortBy(_._1)
    assert(got.sameElements(want))
  }

  test("capHotCells drops a dominant cell and keeps balanced ones") {
    val s = spark
    import s.implicits._
    // cell 0 holds 60 of 70 assignments (86% > 4/16 of the mean threshold
    // with 16 cells); cells 1 and 2 are balanced.
    val multi = ((0L until 60L).map(i => (i, 0)) ++
      (60L until 65L).map(i => (i, 1)) ++ (65L until 70L).map(i => (i, 2)))
      .toDF("vec_id", "cell")
    val kept = VectorOps.capHotCells(multi, 16, 4)
      .select("cell").collect().map(_.getInt(0)).toSeq
    assert(!kept.contains(0), "dominant cell must be dropped")
    assert(kept.count(_ == 1) === 5 && kept.count(_ == 2) === 5)
  }

  test("ann_recall: ANN pairs are a subset of exact pairs; recall matches the counts") {
    val r = VectorOps.annRecall(spark, dir).collect()(0)
    val (nExact, nApprox, nHit, recall) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    // same τ over the same exact cosine -> every ANN pair is a true pair
    assert(nHit === nApprox, "ANN set must have precision 1")
    assert(nHit <= nExact && nExact > 0)
    assert(recall > 0.0 && recall <= 1.0)
    assert(math.abs(recall - nHit.toDouble / nExact) < 1e-6)
  }

  test("sampledPairRecall at step=1 equals the full ann_recall measurement") {
    val approx = VectorOps.annIvf(spark, dir)
    val full = VectorOps.annRecall(spark, dir).collect()(0)
    val s1 = VectorOps.sampledPairRecall(spark, dir, approx, 1L).collect()(0)
    assert(s1.getLong(0) === full.getLong(0), "exact pair count")
    assert(s1.getLong(1) === full.getLong(1), "approx pair count")
    assert(s1.getLong(2) === full.getLong(2), "hit count")
    assert(s1.getDouble(3) === full.getDouble(3), "recall")
    // a strict anchor slice still yields a well-formed estimate
    val s3 = VectorOps.sampledPairRecall(spark, dir, approx, 3L).collect()(0)
    assert(s3.getLong(0) > 0 && s3.getLong(0) < full.getLong(0))
    assert(s3.getLong(2) <= s3.getLong(1) && s3.getLong(2) <= s3.getLong(0))
    assert(s3.getDouble(3) > 0.0 && s3.getDouble(3) <= 1.0)
  }

  test("ann_ivf_hier pair recall does not drop as the assign or super " +
    "dial grows") {
    // a larger dial can only add candidate coverage: more assign probes
    // put each vector in more cells, more super probes widen the coarse
    // argmin over cells
    val d01 = "/root/testdata/sf0.01"
    val step = 7L // anchors off any trivial alignment
    def recall(pairs: org.apache.spark.sql.DataFrame): Double =
      VectorOps.sampledPairRecall(spark, d01, pairs, step)
        .collect()(0).getDouble(3)
    val r2 = recall(VectorOps.annIvfHier(spark, d01, 2))
    val r6 = recall(VectorOps.annIvfHier(spark, d01, 6))
    assert(r6 >= r2, s"recall must not drop with more probes: $r2 -> $r6")
    val s1 = recall(VectorOps.annIvfHier(spark, d01, 4, 1))
    val s3 = recall(VectorOps.annIvfHier(spark, d01, 4, 3))
    assert(s3 >= s1, s"recall must not drop with more super-probes: $s1 -> $s3")
  }

  test("anchorExactPairs at step=1 equals the dedup_embedding audit pair set") {
    // the bench lane's `dedup_embedding_anchor` substitute (r11 judge #3)
    // must be the SAME pair set when the anchor slice is everything
    val audit = graft.operators.Dedup.dedupEmbedding(spark, dir)
      .select("vec_id_a", "vec_id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val anch = VectorOps.anchorExactPairs(spark, dir, 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(anch === audit)
    // a strict slice is a subset restricted to anchor-touching pairs
    val a3 = VectorOps.anchorExactPairs(spark, dir, 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a3.subsetOf(audit))
    assert(a3 === audit.filter(p => p._1 % 3 == 0 || p._2 % 3 == 0))
  }

  test("dedup_semantic oracle switches to the two-level chain past FlatFitMaxK") {
    // the query and its oracle share ONE condition (cents.length); pin
    // that the generated SQL actually flips with it
    def cents(k: Int) = Array.tabulate(k)(i => Array.tabulate(4)(d => i * 4.0 + d))
    val flat = VectorOps.dedupSemanticOracleSql(cents(16))
    assert(!flat.contains("supers(") && flat.contains("ad AS"))
    val hier = VectorOps.dedupSemanticOracleSql(
      cents(graft.operators.IvfModel.FlatFitMaxK + 1))
    assert(hier.contains("supers(sup, supcent)") && hier.contains("mem(cell, sup)"))
    assert(hier.contains("srk <= ") && !hier.contains("ad AS"))
  }

  test("dedup_semantic replays the cell-local min-id greedy exactly") {
    val rows = VectorOps.dedupSemantic(spark, dir).collect()
    assert(rows.length === emb.length)
    val embMap = emb.toMap
    // Rebuild the expected verdicts from the flat argmin assignment + the
    // integer-exact hot-cell rule + exact cosine — the operator's contract.
    val cells = VectorOps.ivfBuild(spark, dir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cell")).toMap
    val counts = cells.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nCells = cells.values.max + 1 // adaptiveK floor == NumCells at this SF
    val total = cells.size.toLong
    val hot = counts.filter { case (_, n) =>
      n * VectorOps.NumCells > VectorOps.MaxCellFactor * total
    }.keySet
    val live = cells.filterNot { case (_, c) => hot.contains(c) }
    val tau = graft.operators.Dedup.EmbeddingCosThreshold
    rows.foreach { r =>
      val v = r.getAs[Long]("vec_id")
      val expected = live.get(v).flatMap { c =>
        val cands = live.collect {
          case (u, uc) if uc == c && u < v && cos(embMap(u), embMap(v)) >= tau => u
        }
        if (cands.isEmpty) None else Some(cands.min)
      }
      assert(r.getAs[Long]("cell") === cells(v))
      assert(r.getAs[Boolean]("keep") === expected.isEmpty, s"vec $v")
      if (expected.isDefined) assert(r.getAs[Long]("dup_of") === expected.get)
      else assert(r.isNullAt(r.fieldIndex("dup_of")))
    }
    assert(nCells <= VectorOps.NumCells)
  }

  test("dedup_semantic recall vs the exact pair set is pinned") {
    // A pair is "handled" when its larger-id end is dropped. Cross-cell
    // pairs are the single-probe trade (same as ann_recall's) — pin the
    // measured floor so a regression in assignment or capping is caught.
    val dropped = VectorOps.dedupSemantic(spark, dir).collect()
      .filter(!_.getAs[Boolean]("keep")).map(_.getAs[Long]("vec_id")).toSet
    val tau = graft.operators.Dedup.EmbeddingCosThreshold
    val exactPairs = for {
      i <- emb.indices; j <- (i + 1) until emb.length
      if cos(emb(i)._2, emb(j)._2) >= tau
    } yield (math.min(emb(i)._1, emb(j)._1), math.max(emb(i)._1, emb(j)._1))
    assert(exactPairs.nonEmpty)
    val handled = exactPairs.count { case (_, b) => dropped.contains(b) }
    val recall = handled.toDouble / exactPairs.size
    assert(recall >= 0.2, f"semantic dedup recall $recall%.3f below pin")
  }

  test("capHotCells is a no-op on a uniform assignment") {
    val s = spark
    import s.implicits._
    val multi = (0L until 64L).map(i => (i, (i % 16).toInt)).toDF("vec_id", "cell")
    assert(VectorOps.capHotCells(multi, 16, 4).count() === 64)
  }


  test("vec_norm_stats matches a scala moments replica") {
    val norms = emb.map { case (_, v) =>
      var acc = 0.0
      v.foreach(x => acc += x.toDouble * x.toDouble)
      BigDecimal(math.sqrt(acc)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    }
    val r = VectorOps.vecNormStats(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_vecs") == norms.length.toLong)
    assert(r.getAs[Long]("n_zero") == norms.count(_ == 0).toLong)
    assert(r.getAs[Double]("norm_min") == norms.min.toDouble)
    assert(r.getAs[Double]("norm_max") == norms.max.toDouble)
    val mean = (norms.sum / norms.length).toDouble
    assert(math.abs(r.getAs[Double]("norm_avg") - mean) < 1e-6)
    assert(r.getAs[Double]("norm_std") >= 0.0)
  }
  test("cluster_terms labels every cell with its top-3 summed-tf terms") {
    val cents = graft.operators.IvfModel.centroids(spark, dir)
    val embs = Tables.embeddings(spark, dir).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def cellOf(x: Array[Float]): Int =
      cents.indices.minBy { c =>
        val d = x.indices.map(j => (x(j).toDouble - cents(c)(j)) * (x(j).toDouble - cents(c)(j))).sum
        // the kernel ranks on the 6dp-rounded distance with cell tiebreak
        (BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, c)
      }
    val cellMap = embs.map { case (id, x) => id -> cellOf(x) }.toMap
    val docs = Tables.documents(spark, dir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> graft.functions.GraftText.wsTokens(r.getString(1)))
    val counts = scala.collection.mutable.Map.empty[(Int, String), Long]
    docs.foreach { case (id, toks) =>
      cellMap.get(id).foreach { c =>
        toks.foreach(t => counts((c, t)) = counts.getOrElse((c, t), 0L) + 1L)
      }
    }
    val want = counts.groupBy(_._1._1).flatMap { case (c, m) =>
      m.toSeq.map { case ((_, t), n) => (t, n) }
        .sortBy { case (t, n) => (-n, t) }.take(3)
        .zipWithIndex.map { case ((t, n), i) => (c.toLong, i + 1L, t, n) }
    }.toSet
    val got = VectorOps.clusterTerms(spark, dir).collect().map(r =>
      (r.getAs[Long]("cell"), r.getAs[Long]("rk"),
        r.getAs[String]("term"), r.getAs[Long]("tf"))).toSet
    assert(got == want)
  }
  test("vec_outliers z-scores replay the per-cell assignment moments") {
    val asg = VectorOps.ivfBuild(spark, dir).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cell"), r.getAs[Double]("d2")))
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = asg.groupBy(_._2).toSeq.flatMap { case (c, rows) =>
      val ds = rows.toSeq.map(d => BigDecimal(d._3).setScale(6, BigDecimal.RoundingMode.HALF_UP))
      val n = rows.length
      val mean = (ds.sum / n).toDouble
      val v = (ds.map(d => d * d).sum / n).toDouble - mean * mean
      val std = math.sqrt(math.max(0.0, v))
      rows.toSeq.map { case (id, _, d2) =>
        val z = if (std == 0) 0.0 else r6((d2 - mean) / std)
        (id, c, d2, z, std != 0 && (d2 - mean) / std > 2.0)
      }
    }.toSet
    val got = VectorOps.vecOutliers(spark, dir).collect().map(r =>
      (r.getAs[Long]("vec_id"), r.getAs[Long]("cell"), r.getAs[Double]("d2"),
        r.getAs[Double]("z"), r.getAs[Boolean]("is_outlier"))).toSet
    assert(got == want)
  }
}
