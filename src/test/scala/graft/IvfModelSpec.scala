package graft

import graft.operators.{IvfModel, VectorOps}

class IvfModelSpec extends SparkSpec {

  private def sample(n: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(n)(i => Array.tabulate(dim)(d => math.sin(i * 31 + d) * 10))

  test("hashOrderedTake equals the unfiltered ordered take (filter path)") {
    // The hash-threshold pre-filter exists to bound the driver merge at
    // O(n) rows (the r11 uncap4m maxResultSize abort: TakeOrdered merges
    // partitions x n local top-n rows). It must select the IDENTICAL set:
    // total = 50 x n forces the filter path, and the plain take is the
    // ground truth.
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, xxhash64}
    val df = (1L to 5000L).map(i => (i, Array(i.toFloat))).toDF("id", "vec")
      .repartition(8)
    val (fastRows, sites) = org.apache.spark.graft.JobCount.sites(spark.sparkContext) {
      IvfModel.hashOrderedTake(df.select(col("id"), col("vec")), "id", 100)
    }
    val fast = fastRows.map(_.getLong(0)).toSeq
    // 8 partitions behind an exchange: the partition count is not known
    // without a job, so the take counts the frame first
    assert(sites.exists(_.startsWith("count at")), s"jobs: $sites")
    val plain = df.select(col("id"), col("vec"))
      .orderBy(xxhash64(col("id")), col("id")).limit(100)
      .collect().map(_.getLong(0)).toSeq
    assert(fast == plain)
    // n >= total degenerates to "everything", both paths
    val all = IvfModel.hashOrderedTake(df.select(col("id"), col("vec")), "id", 6000)
    assert(all.length == 5000)
    // a pre-known total (the dir-keyed corpusCount reuse — r11 advisor)
    // skips the first count job but selects the identical set
    val known = IvfModel.hashOrderedTake(
      df.select(col("id"), col("vec")), "id", 100, knownTotal = 5000L)
      .map(_.getLong(0)).toSeq
    assert(known == plain)
  }

  test("hashOrderedTake warns (and still answers) when the pre-filter exhausts") {
    // mass-duplicate ids: every row hashes identically, so no strict
    // hash cut below 1.0 can pass >= n rows — the doubling loop exhausts
    // and the method falls back to the unbounded take, announcing it
    // (r11 advisor: a recurrence of the uncap4m abort must be
    // attributable, not silent).
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, xxhash64}
    // pick an id whose hash is at the TOP of the hash space, so every
    // strict cut the doubling loop tries (≤ the 0.64 quantile here)
    // excludes the entire frame
    val hid = spark.range(0, 1000).select(col("id"))
      .orderBy(xxhash64(col("id")).desc).limit(1).collect()(0).getLong(0)
    val dup = (1L to 5000L).map(i => (hid, Array(i.toFloat))).toDF("id", "vec")
      .repartition(8)
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    Warn.set(spark, m => { buf.synchronized(buf += m); Warn.sink(m) })
    val (rows, sites) = try org.apache.spark.graft.JobCount.sites(spark.sparkContext) {
      IvfModel.hashOrderedTake(dup.select(col("id"), col("vec")), "id", 100)
    } finally Warn.clear(spark)
    assert(sites.exists(_.startsWith("count at")), s"jobs: $sites")
    assert(rows.length == 100 && rows.forall(_.getLong(0) == hid))
    val mine = buf.synchronized(buf.toSeq).filter(_.contains("hashOrderedTake"))
    assert(mine.size == 1 && mine.head.contains("UNBOUNDED"), s"got: $mine")
  }

  test("hashOrderedTake runs one job on a frame of at most MergeFactor partitions") {
    // TakeOrdered hands the driver at most partitions x n rows, so a frame
    // planned at <= MergeFactor partitions needs no count to bound the
    // merge: total = 50 x n would take the filter path on a wider frame
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, xxhash64}
    val df = (1L to 5000L).map(i => (i, Array(i.toFloat))).toDF("id", "vec")
      .coalesce(IvfModel.MergeFactor - 1).select(col("id"), col("vec"))
    assert(IvfModel.plannedPartitions(df).contains(IvfModel.MergeFactor - 1))
    val plain = df.orderBy(xxhash64(col("id")), col("id")).limit(100)
      .collect().map(_.getLong(0)).toSeq
    for (known <- Seq(-1L, 5000L)) {
      val (rows, jobs, _) = org.apache.spark.graft.JobCount(spark.sparkContext) {
        IvfModel.hashOrderedTake(df, "id", 100, knownTotal = known)
      }
      assert(jobs == 1, s"knownTotal $known: $jobs jobs")
      assert(rows.map(_.getLong(0)).toSeq == plain, s"knownTotal $known")
    }
    // an exchange leaves the count unknown without running stages
    assert(IvfModel.plannedPartitions(df.repartition(2)).isEmpty)
  }

  test("fit is a pure function: identical centroids on every call") {
    val s = sample(200, 8)
    val a = IvfModel.fit(s, 4)
    val b = IvfModel.fit(s.map(_.clone()), 4)
    assert(a.length == 4 && a.head.length == 8)
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    // 6dp-canonical: every coordinate is its own 6dp rounding
    a.flatten.foreach(v =>
      assert(v == BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
  }

  test("fit handles k larger than the sample by cycling init") {
    val s = sample(3, 4)
    val c = IvfModel.fit(s, 8)
    assert(c.length == 8)
    assert(c.forall(_.length == 4))
  }

  test("centroids reduce within-cluster distance vs the init") {
    val s = sample(500, 8)
    val init = Array.tabulate(4)(i => s(i))
    val fitted = IvfModel.fit(s, 4)
    def cost(cents: Array[Array[Double]]): Double =
      s.map { x =>
        cents.map(c => c.zip(x).map { case (a, b) => (a - b) * (a - b) }.sum).min
      }.sum
    assert(cost(fitted) <= cost(init))
  }

  test("sampleSize scales with k between the floor and the driver envelope") {
    assert(IvfModel.sampleSize(16) == IvfModel.SampleSize)
    assert(IvfModel.sampleSize(64) == IvfModel.SampleSize) // 64·64 = floor
    assert(IvfModel.sampleSize(512) == 512 * IvfModel.SamplePerCell)
    assert(IvfModel.sampleSize(VectorOps.MaxCells) == IvfModel.MaxDriverSample)
  }

  test("fitHier is pure, emits exactly k 6dp centroids, and beats the init") {
    val s = sample(4000, 8)
    val k = 300 // above FlatFitMaxK — the two-level regime
    val a = IvfModel.fitHier(s, k)
    val b = IvfModel.fitHier(s.map(_.clone()), k)
    assert(a.length == k && a.forall(_.length == 8))
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    a.flatten.foreach(v =>
      assert(v == BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    def cost(cents: Array[Array[Double]]): Double =
      s.map { x =>
        cents.map(c => c.zip(x).map { case (p, q) => (p - q) * (p - q) }.sum).min
      }.sum
    // quality: the two-level fit must land in the same ballpark as flat
    // Lloyd's at the same k (within 25% on within-cluster cost)
    val flat = IvfModel.fit(s, k)
    assert(cost(a) <= cost(flat) * 1.25,
      s"hier fit cost ${cost(a)} vs flat ${cost(flat)}")
  }

  test("fitHier with k >= sample size degenerates to the flat fit") {
    val s = sample(20, 4)
    assert(IvfModel.fitHier(s, 25).map(_.toSeq).toSeq ==
      IvfModel.fit(s, 25).map(_.toSeq).toSeq)
  }

  test("sampleOf is invariant to row order and partitioning") {
    import spark.implicits._
    val rows = (0L until 300L).map(i =>
      (i, Array.tabulate(4)(d => (math.sin(i * 13 + d) * 5).toFloat)))
    val a = IvfModel.sampleOf(
      rows.toDF("id", "vec").repartition(7), "id", "vec", 50)
    val b = IvfModel.sampleOf(
      rows.reverse.toDF("id", "vec").repartition(2), "id", "vec", 50)
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
  }

  test("refineDistributed is partitioning-independent and keeps empty cells") {
    import spark.implicits._
    val rows = (0L until 500L).map(i =>
      (i, Array.tabulate(4)(d => (math.sin(i * 31 + d) * 10).toFloat)))
    val seed = IvfModel.fit(
      rows.take(100).map(_._2.map(_.toDouble)).toArray, 12) :+
      Array(1e9, 1e9, 1e9, 1e9) // an unreachable cell: must keep its seed
    val df1 = rows.toDF("id", "vec").repartition(5)
    val df2 = rows.reverse.toDF("id", "vec").repartition(1)
    val r1 = IvfModel.refineDistributed(df1, "id", "vec", seed)
    val r2 = IvfModel.refineDistributed(df2, "id", "vec", seed)
    assert(r1.map(_.toSeq).toSeq == r2.map(_.toSeq).toSeq,
      "decimal-exact sums must make the refine order-independent")
    assert(r1.last.toSeq == seed.last.toSeq, "empty cell keeps its seed")
    assert(r1.length == seed.length)
    r1.flatten.foreach(v =>
      assert(v == BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
  }

  test("refineDistributed skips non-finite elements without skewing the mean") {
    import spark.implicits._
    // r10 advisor: a NaN/Inf float cast to DECIMAL yielded a null (or an
    // ANSI cast error) while count(*) still counted the row — the mean
    // silently skewed. try_cast + count(xd) must make the skipped element
    // invisible to that dim's divisor, and the kernel must not throw on
    // the Inf-distance row (BigDecimal(Infinity) used to).
    val clean = (0L until 50L).map(i => (i, Array(1.0f, 2.0f, 3.0f, 4.0f)))
    val dirty = Seq(
      // non-finite DISTANCE → no probe at all (the kernel's finite guard)
      (50L, Array(Float.NaN, 20.0f, 3.0f, 4.0f)),
      (51L, Array(Float.PositiveInfinity, 2.0f, 30.0f, 4.0f)),
      // finite distance but the dim-0 element OVERFLOWS DECIMAL(30,10):
      // try_cast nulls it, and count(xd) must shrink dim 0's divisor with
      // it while dims 1-3 still count this row
      (52L, Array(1.0e30f, 2.0f, 3.0f, 4.0f)))
    val df = (clean ++ dirty).toDF("id", "vec")
    val seed = Array(Array(0.0, 0.0, 0.0, 0.0))
    val r = IvfModel.refineDistributed(df, "id", "vec", seed)
    assert(r.length == 1)
    // dim 0: mean over the 50 clean values only (overflow row skipped from
    // BOTH sum and count); dims 1-3: the overflow row participates and
    // matches the clean values, so every mean is exact
    assert(r(0).toSeq == Seq(1.0, 2.0, 3.0, 4.0), r(0).toSeq.toString)
  }

  test("fitFromDf routes k past DriverFitMaxK through the distributed refine") {
    import spark.implicits._
    // tiny corpus, absurd k: the point is the code path, not the quality —
    // sample == corpus, hier fit degenerates to flat, refine re-estimates
    val rows = (0L until 60L).map(i =>
      (i, Array.tabulate(4)(d => (math.cos(i * 7 + d) * 3).toFloat)))
    val df = rows.toDF("id", "vec")
    val k = IvfModel.DriverFitMaxK + 1
    val cents = IvfModel.fitFromDf(df, "id", "vec", k)
    assert(cents.length == k)
    // occupied cells got decimal-exact means; determinism across layouts
    val again = IvfModel.fitFromDf(rows.reverse.toDF("id", "vec").repartition(3),
      "id", "vec", k)
    assert(cents.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("scaledAssignProbes holds historical regimes at 2 and grows log16") {
    // gate (16), sf1 sweep (32) and the whole flat-fit range stay at the
    // historical 2 — oracle artifacts for those SFs are unchanged
    for (k <- Seq(16, 32, 64, 256))
      assert(VectorOps.scaledAssignProbes(k) == VectorOps.AssignProbes, s"k=$k")
    assert(VectorOps.scaledAssignProbes(500) == 3)
    assert(VectorOps.scaledAssignProbes(4096) == 3)
    assert(VectorOps.scaledAssignProbes(4097) == 4)
    assert(VectorOps.scaledAssignProbes(VectorOps.MaxCells) == 4)
    // the super-probe count follows the same rule at the coarse level
    for (k <- Seq(16, 32, 256))
      assert(VectorOps.scaledSuperProbes(k) == VectorOps.SuperProbes, s"k=$k")
    assert(VectorOps.scaledSuperProbes(500) == 3)
    assert(VectorOps.scaledSuperProbes(VectorOps.MaxCells) == 4)
  }

  test("centsCte emits one literal row per centroid") {
    val cte = IvfModel.centsCte(Array(Array(0.5, -1.25), Array(3.0, 0.000001)))
    assert(cte.contains("(CAST(0 AS BIGINT), [0.5, -1.25]::DOUBLE[])"))
    assert(cte.contains("CAST(1 AS BIGINT)"))
    assert(cte.startsWith("cents(cell, centroid) AS"))
  }
}
