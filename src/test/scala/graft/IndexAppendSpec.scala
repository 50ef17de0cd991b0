package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.index.IndexStore
import graft.operators.VectorOps
import graft.pipeline.IndexPipeline
import graft.sources.Tables

/** IndexStore.append: incremental growth with FROZEN quantizers — new
  * vectors are assigned with the persisted centroids/codebooks (no refit),
  * landed in latest as one cell-sorted run beside the build's cells, and
  * recorded as a delta version with parent provenance. Queries probing
  * only cells the append never touched must see bit-identical results.
  */
class IndexAppendSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def embs = Tables.embeddings(spark, dir)
    .select(col("vec_id").as("id"), col("embedding").as("vec"))

  test("flat append: rows accumulate, manifest count and version meta update") {
    val root = java.nio.file.Files.createTempDirectory("graft_app_flat").toString
    val a = embs.filter(col("id") < 100)
    val b = embs.filter(col("id") >= 100)
    val m0 = IndexStore.build(a, root, "idx", "flat")
    val m1 = IndexStore.append(b, root, "idx")
    assert(m1.count == embs.count())
    assert(m1.backend == "flat" && m1.dim == m0.dim)
    assert(IndexStore.load(spark, root, "idx").count() == m1.count)
    // manifest on disk reflects the append
    assert(IndexStore.manifest(root, "idx").count == m1.count)
    // two versions; the new one is a delta with parent provenance
    val vs = IndexStore.versions(root, "idx")
    assert(vs.length == 2)
    assert(IndexStore.load(spark, root, "idx", Some(vs.last)).count() ==
      b.count())
    val meta = IndexStore.versionMeta(root, "idx", vs.last).get
    assert(meta.contains(s""""parent": "${vs.head}""""))
    assert(meta.contains(s""""appended": ${b.count()}"""))
    // the delta version's manifest describes the DELTA dir it sits in:
    // count == rows actually in the dir, flagged delta with parent +
    // post-append total (load(version) must agree with its own manifest)
    assert(IndexStore.manifest(root, "idx", Some(vs.last)).count == b.count())
    val vj = IndexStore.manifestJson(root, "idx", Some(vs.last))
    assert(vj.contains("\"delta\": true"))
    assert(vj.contains(s""""parent": "${vs.head}""""))
    assert(vj.contains(s""""total_count": ${m1.count}"""))
    // the full-build version and latest stay non-delta with the total
    assert(IndexStore.manifest(root, "idx", Some(vs.head)).count == a.count())
    assert(!IndexStore.manifestJson(root, "idx", None).contains("\"delta\""))
  }

  test("loadResolved walks the delta chain to the point-in-time index") {
    val root = java.nio.file.Files.createTempDirectory("graft_app_res").toString
    val a = embs.filter(col("id") < 100)
    val b = embs.filter(col("id") >= 100 && col("id") < 200)
    val c = embs.filter(col("id") >= 200)
    IndexStore.build(a, root, "idx", "ivf")
    IndexStore.append(b, root, "idx")
    IndexStore.append(c, root, "idx")
    val vs = IndexStore.versions(root, "idx")
    assert(vs.length == 3)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("id").collect().map(_.getLong(0)).toSet
    // full-build version resolves to itself
    assert(ids(IndexStore.loadResolved(spark, root, "idx", vs(0))) == ids(a))
    // one delta hop: build + first append
    assert(ids(IndexStore.loadResolved(spark, root, "idx", vs(1))) ==
      ids(a) ++ ids(b))
    // two hops == latest, row-for-row (cell assignments carried through)
    val resolved = IndexStore.loadResolved(spark, root, "idx", vs(2))
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Int]("cell"))).sorted.toSeq
    val latest = IndexStore.load(spark, root, "idx")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Int]("cell"))).sorted.toSeq
    assert(resolved == latest)
    // a delta manifest parses as strict JSON (the toJsonWith template —
    // no string-surgery appendage outside the object)
    val vj = IndexStore.manifestJson(root, "idx", Some(vs(2)))
    assert(vj.trim.startsWith("{") && vj.trim.endsWith("}"))
    assert(vj.indexOf("\"delta\": true") > 0 &&
      vj.indexOf("\"delta\": true") < vj.lastIndexOf("}"))
  }

  test("ivfpq append assigns with the persisted models, not a refit") {
    val root = java.nio.file.Files.createTempDirectory("graft_app_pq").toString
    val maxId = embs.agg(max(col("id"))).head.getLong(0)
    val a = embs.filter(col("id") <= maxId - 5)
    val b = embs.filter(col("id") > maxId - 5)
    IndexStore.build(a, root, "idx", "ivfpq")
    val centsA = IndexStore.loadCentroids(spark, root, "idx")
    val cbA = IndexStore.loadCodebooks(spark, root, "idx")

    val queries = embs.filter(col("id") < 10)
    val before = IndexStore.adcSearch(spark, root, "idx", queries, VectorOps.DefaultK)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)

    IndexStore.append(b, root, "idx")
    // models unchanged by the append
    assert(IndexStore.loadCentroids(spark, root, "idx").zip(centsA)
      .forall { case (x, y) => x.sameElements(y) })

    // appended rows carry exactly the frozen-model assignment
    val bIds = b.collect().map(_.getLong(0)).toSet
    val appended = IndexStore.load(spark, root, "idx")
      .filter(col("id").isin(bIds.toSeq: _*))
    val expect = b.select(col("id"),
        element_at(graft.functions.IvfProbes.column(col("vec"), centsA, 1), 1)("cell")
          .cast("int").as("cell"),
        transform(graft.functions.PqCodes.column(col("vec"), cbA), p => p("code"))
          .as("codes"))
    val gotRows = appended.collect()
      .map(r => (r.getAs[Long]("id"),
        r.getAs[Int]("cell"), r.getAs[Seq[Long]]("codes"))).sortBy(_._1).toSeq
    val expRows = expect.collect()
      .map(r => (r.getAs[Long]("id"),
        r.getAs[Int]("cell"), r.getAs[Seq[Long]]("codes"))).sortBy(_._1).toSeq
    assert(gotRows == expRows)

    // queries whose probed cells the append never touched are bit-identical
    val bCells = expRows.map(_._2).toSet
    val nprobe = VectorOps.NProbe
    val probed = queries.select(col("id"),
        transform(graft.functions.IvfProbes.column(col("vec"), centsA, nprobe),
          p => p("cell")).as("cells"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSet).toMap
    val untouched = probed.collect {
      case (q, cells) if cells.intersect(bCells).isEmpty => q
    }.toSet
    assert(untouched.nonEmpty,
      s"fixture regression: every query probes an appended cell ($bCells)")
    val after = IndexStore.adcSearch(spark, root, "idx", queries, VectorOps.DefaultK)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)
    untouched.foreach { q =>
      assert(after(q).sortBy(_._2).toSeq == before(q).sortBy(_._2).toSeq,
        s"query $q probes only untouched cells but its results changed")
    }
  }

  /** Rewrite latest's manifest to `json`, as a write that crashed before
    * its commit leaves it: its version dir complete, the pointer unmoved.
    */
  private def unmovePointer(root: String, json: String): Unit = {
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$root/idx/latest/manifest.json"),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // the nio write bypassed Hadoop's LocalFileSystem, whose stale .crc
    // sidecar would fail the checksummed read-back
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$root/idx/latest/.manifest.json.crc"))
  }

  private def servedIds(root: String): Seq[Long] =
    IndexStore.load(spark, root, "idx").select(col("id")).collect().map(_.getLong(0)).toSeq

  test("an append that crashed before its commit is invisible, and the next append removes it") {
    val root = java.nio.file.Files.createTempDirectory("graft_app_crash").toString
    val a = embs.filter(col("id") < 150)
    val b = embs.filter(col("id") >= 150 && col("id") < 250)
    val c = embs.filter(col("id") >= 250 && col("id") < 300)
    val d = embs.filter(col("id") >= 300)
    IndexStore.build(a, root, "idx", "ivf")
    IndexStore.append(b, root, "idx")
    val preC = IndexStore.manifestJson(root, "idx")
    val before = servedIds(root).sorted
    // append(c) lands its version dir whole; the crash comes before the
    // pointer moves
    IndexStore.append(c, root, "idx")
    val orphan = IndexStore.versions(root, "idx").last
    unmovePointer(root, preC)
    val unchanged = servedIds(root).sorted == before
    assert(unchanged, "readers see the uncommitted append")
    assert(IndexStore.manifest(root, "idx").count == before.length)
    // the next append serves a+b+d, with no duplicates, and removes the orphan
    val m = IndexStore.append(d, root, "idx")
    val want = a.count() + b.count() + d.count()
    assert(m.count == want, s"manifest count ${m.count}, want $want")
    val ids = servedIds(root)
    assert(ids.length == want, s"${ids.length} rows served, want $want")
    assert(ids.distinct.length == ids.length, "duplicate rows after the crash")
    val cIds = c.collect().map(_.getLong(0)).toSet
    assert(!ids.exists(cIds), "the crashed rows are served")
    // the orphan is gone from disk (its id may be reused within a second)
    val vs = IndexStore.versions(root, "idx")
    assert(vs.length == 3, s"versions $vs after removing $orphan")
    assert(vs.forall(v => IndexStore.load(spark, root, "idx", Some(v)).select(col("id"))
      .collect().forall(r => !cIds(r.getLong(0)))), "the crashed rows stayed on disk")
  }

  test("a rebuild that crashed before its commit is invisible: latest serves the previous build") {
    val root = java.nio.file.Files.createTempDirectory("graft_build_crash").toString
    val a = embs.filter(col("id") < 150)
    val b = embs.filter(col("id") >= 150 && col("id") < 250)
    val d = embs.filter(col("id") >= 250)
    IndexStore.build(a, root, "idx", "ivf")
    IndexStore.append(b, root, "idx")
    val pre = IndexStore.manifestJson(root, "idx")
    val before = servedIds(root).sorted
    val cents = IndexStore.loadCentroids(spark, root, "idx").map(_.toSeq).toSeq
    // a rebuild over other rows lands its version dir whole; the crash
    // comes before the pointer moves
    IndexStore.build(embs.filter(col("id") >= 100), root, "idx", "ivf")
    val orphan = IndexStore.versions(root, "idx").last
    unmovePointer(root, pre)
    val unchanged = servedIds(root).sorted == before
    assert(unchanged, "readers see the uncommitted rebuild")
    assert(IndexStore.loadCentroids(spark, root, "idx").map(_.toSeq).toSeq == cents,
      "the uncommitted rebuild's centroids are served")
    val m = IndexStore.append(d, root, "idx")
    val want = a.count() + b.count() + d.count()
    assert(m.count == want, s"manifest count ${m.count}, want $want")
    val ids = servedIds(root)
    assert(ids.length == want && ids.distinct.length == ids.length,
      s"${ids.length} rows served (${ids.distinct.length} distinct), want $want")
    // the orphan is gone from disk (its id may be reused within a second)
    val vs = IndexStore.versions(root, "idx")
    assert(vs.length == 3, s"versions $vs after removing $orphan")
    assert(vs.tail.forall(v => IndexStore.manifestJson(root, "idx", Some(v)).contains("\"delta\": true")),
      "the uncommitted build stayed on disk")
  }

  test("append counts its delta from the written files: manifest, load and the delta version agree") {
    spark.conf.set("graft.index.maxRowsPerCellFile", "2")
    try for (backend <- Seq("flat", "ivf")) {
      val root = java.nio.file.Files.createTempDirectory(s"graft_app_count_$backend").toString
      val a = embs.filter(col("id") < 150)
      val b = embs.filter(col("id") >= 150 && col("id") < 190)
      IndexStore.build(a, root, "idx", backend)
      val m = IndexStore.append(b, root, "idx")
      val v = IndexStore.versions(root, "idx").last
      val parts = {
        val s = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$root/idx/versions/$v/vectors"))
        try s.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
        finally s.close()
      }
      // the ceiling splits the delta into many files, so the count sums many footers
      assert(parts >= b.count() / 2, s"$backend: $parts delta files")
      val want = a.count() + b.count()
      assert(m.count == want)
      assert(IndexStore.manifest(root, "idx").count == want)
      assert(IndexStore.load(spark, root, "idx").count() == want)
      assert(IndexStore.manifest(root, "idx", Some(v)).count == b.count())
      assert(IndexStore.load(spark, root, "idx", Some(v)).count() == b.count())
      assert(IndexStore.versionMeta(root, "idx", v).get.contains(s""""appended": ${b.count()}"""))
    } finally spark.conf.unset("graft.index.maxRowsPerCellFile")
  }

  test("a 0-row delta: flat records an empty version, a cell-partitioned index refuses it") {
    for (backend <- Seq("flat", "ivf", "ivfpq")) {
      val root = java.nio.file.Files.createTempDirectory(s"graft_app_zero_$backend").toString
      val a = embs.filter(col("id") < 150)
      IndexStore.build(a, root, "idx", backend)
      val n = a.count()
      val empty = embs.filter(col("id") < 0)
      if (backend == "flat") {
        assert(IndexStore.append(empty, root, "idx").count == n)
        val v = IndexStore.versions(root, "idx").last
        assert(IndexStore.manifest(root, "idx", Some(v)).count == 0)
        assert(IndexStore.load(spark, root, "idx", Some(v)).count() == 0)
      } else intercept[Exception](IndexStore.append(empty, root, "idx"))
      assert(IndexStore.manifest(root, "idx").count == n, backend)
      assert(IndexStore.load(spark, root, "idx").count() == n, backend)
      // the next append lands whole
      val b = embs.filter(col("id") >= 150 && col("id") < 160)
      val m = IndexStore.append(b, root, "idx")
      assert(m.count == n + b.count(), backend)
      assert(IndexStore.load(spark, root, "idx").count() == m.count, backend)
    }
  }

  test("a small-delta append after a build and a search runs at most 3 Spark jobs") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_app_jobs").toString
    val cfg = IndexPipeline.Config(name = "idx", backend = "ivf")
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      .orderBy(col("doc_id")).limit(200)
    IndexPipeline.build(docs, root, cfg)
    val probe = IndexPipeline.chunked(docs.limit(1), cfg).head().getAs[String]("text")
    assert(IndexPipeline.search(spark, root, "idx", probe, 5, cfg).collect().length == 5)
    // a delta of several partitions, embedded before the counted window
    def delta(first: Long) = IndexPipeline.vectorize(
        (0L until 6L).map(i => (first + i, s"fresh delta document $i about zeppelin fjords " * 3))
          .toDF("doc_id", "text"), cfg)
      .repartition(3).localCheckpoint()
    IndexStore.append(delta(91000000L), root, "idx")
    val second = delta(92000000L)
    assert(second.rdd.getNumPartitions > 1)
    val before = IndexStore.manifest(root, "idx").count
    val (m, jobs, _) = org.apache.spark.graft.JobCount(spark.sparkContext) {
      IndexStore.append(second, root, "idx")
    }
    assert(m.count == before + second.count())
    assert(jobs <= 3, s"a small-delta append ran $jobs Spark jobs")
  }

  /** Build 200 corpus docs on `backend`, append one fresh doc through
    * `vectorize` (its (id, vec) columns only unless `withText`), then
    * search the appended doc's first chunk with k = 5. Returns the hits
    * and that chunk's (id, text).
    */
  private def appendThenSearch(backend: String, withText: Boolean)
      : (Seq[org.apache.spark.sql.Row], (String, String)) = {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory(s"graft_app_search_$backend").toString
    val cfg = IndexPipeline.Config(name = "idx", backend = backend)
    IndexPipeline.build(Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).orderBy(col("doc_id")).limit(200), root, cfg)
    val delta = Seq((90000001L,
        "quokka marmalade zeppelin fjord " * 4 + "an appended document nobody indexed before"))
      .toDF("doc_id", "text")
    val vecs = IndexPipeline.vectorize(delta, cfg)
    IndexStore.append(if (withText) vecs else vecs.select(col("id"), col("vec")), root, "idx")
    val first = IndexPipeline.chunked(delta, cfg).filter(col("id") === "90000001#0")
      .collect().map(r => (r.getAs[String]("id"), r.getAs[String]("text"))).head
    (IndexPipeline.search(spark, root, "idx", first._2, 5, cfg).collect().toSeq, first)
  }

  test("search finds a chunk appended through vectorize, with its preview") {
    for (backend <- Seq("flat", "ivf")) {
      val (hits, (id, text)) = appendThenSearch(backend, withText = true)
      assert(hits.length == 5, s"$backend: ${hits.length} hits")
      assert(hits.head.getAs[String]("id") == id, s"$backend: rank 1 is not the appended chunk")
      assert(hits.head.getAs[String]("preview") == text)
      assert(hits.forall(_.getAs[String]("preview") != null))
    }
  }

  test("an (id, vec)-only delta keeps its hits, with a null preview") {
    for (backend <- Seq("flat", "ivf")) {
      val (hits, (id, _)) = appendThenSearch(backend, withText = false)
      assert(hits.length == 5, s"$backend: ${hits.length} hits")
      assert(hits.head.getAs[String]("id") == id, s"$backend: rank 1 is not the appended chunk")
      assert(hits.head.getAs[String]("preview") == null)
      assert(hits.tail.forall(_.getAs[String]("preview") != null))
    }
  }

  test("ivf append partitions new rows into existing cell layout") {
    val root = java.nio.file.Files.createTempDirectory("graft_app_ivf").toString
    val a = embs.filter(col("id") % 2 === 0)
    val b = embs.filter(col("id") % 2 === 1)
    IndexStore.build(a, root, "idx", "ivf")
    val cents = IndexStore.loadCentroids(spark, root, "idx")
    assert(cents.nonEmpty) // build now persists the centroid sidecar
    IndexStore.append(b, root, "idx")
    val idx = IndexStore.load(spark, root, "idx")
    assert(idx.count() == embs.count())
    // appended assignment == exact coarse argmin under the frozen fit
    val expect = VectorOps.assignCells(
        b.select(col("id"), col("vec").as("embedding")), cents)
      .select(col("id"), col("cell").cast("int").as("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val bIds = expect.keySet
    idx.filter(col("id").isin(bIds.toSeq: _*)).collect().foreach { r =>
      assert(r.getAs[Int]("cell") == expect(r.getAs[Long]("id")))
    }
  }

  /** The parquet data files under `root/idx`, as paths relative to it. */
  private def dataFiles(root: String): Set[String] = {
    val top = java.nio.file.Paths.get(s"$root/idx")
    val s = java.nio.file.Files.walk(top)
    try s.iterator().asScala.filter { p =>
      val base = p.getFileName.toString
      java.nio.file.Files.isRegularFile(p) && base.endsWith(".parquet") && !base.startsWith(".")
    }.map(p => top.relativize(p).toString).toSet
    finally s.close()
  }

  /** The names in `root/idx/latest`, dot files left out. */
  private def latestNames(root: String): Set[String] =
    new java.io.File(s"$root/idx/latest").list().filterNot(_.startsWith(".")).toSet

  /** Build 200 corpus docs on `backend`, then append the next 9 corpus
    * docs three at a time through `vectorize`. Returns the root, the
    * config, the 9 docs and the index's data files before the appends.
    */
  private def threeAppends(backend: String)
      : (String, IndexPipeline.Config, Seq[(Long, String)], Set[String]) = {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory(s"graft_app_runs_$backend").toString
    val cfg = IndexPipeline.Config(name = "idx", backend = backend)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id").cast("long"), col("text")).orderBy(col("doc_id")).limit(209)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    IndexPipeline.build(docs.take(200).toDF("doc_id", "text"), root, cfg)
    val before = dataFiles(root)
    val fresh = docs.drop(200)
    fresh.grouped(3).foreach(d =>
      IndexStore.append(IndexPipeline.vectorize(d.toDF("doc_id", "text"), cfg), root, "idx"))
    (root, cfg, fresh, before)
  }

  test("three 3-doc appends to an ivf index add three data files under versions/, none in the base's cells") {
    val (root, _, _, before) = threeAppends("ivf")
    val after = dataFiles(root)
    val added = after -- before
    val base = s"versions/${IndexStore.versions(root, "idx").head}/"
    assert(added.size == 3, s"appends added ${added.toSeq.sorted}")
    assert(added.forall(f => f.startsWith("versions/") && !f.startsWith(base)),
      s"appends added ${added.toSeq.sorted}")
    assert(after.filter(_.startsWith(base)) == before.filter(_.startsWith(base)),
      "an append wrote into the build's cells")
    assert(latestNames(root) == Set("manifest.json"), s"latest holds ${latestNames(root)}")
    // each delta spans several cells: a file per touched cell would be more
    val touched = IndexStore.versions(root, "idx").tail.map(v =>
      IndexStore.load(spark, root, "idx", Some(v)).select("cell").distinct().count()).sum
    assert(touched > 3, s"fixture regression: the deltas touch $touched cells")
    assert(IndexStore.load(spark, root, "idx").count() == IndexStore.manifest(root, "idx").count)
  }

  test("latest holds only its manifest: every data file of a build and its appends lies under versions/") {
    val root = java.nio.file.Files.createTempDirectory("graft_app_pointer").toString
    IndexStore.build(embs.filter(col("id") < 200), root, "idx", "ivf")
    def check(when: String): Unit = {
      assert(latestNames(root) == Set("manifest.json"), s"$when: latest holds ${latestNames(root)}")
      val files = dataFiles(root)
      assert(files.nonEmpty && files.forall(_.startsWith("versions/")),
        s"$when: data files outside versions/: ${files.filterNot(_.startsWith("versions/"))}")
    }
    check("after the build")
    Seq(200, 203, 206).foreach(from =>
      IndexStore.append(embs.filter(col("id") >= from && col("id") < from + 3), root, "idx"))
    check("after three appends")
    assert(IndexStore.load(spark, root, "idx").count() == IndexStore.manifest(root, "idx").count)
  }

  test("after three appends, flat and ivf top-10 equal a driver replica over loadResolved") {
    def round6(d: Double): Double =
      java.math.BigDecimal.valueOf(d).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    for (backend <- Seq("flat", "ivf")) {
      val (root, cfg, fresh, _) = threeAppends(backend)
      val rows = IndexStore.loadResolved(spark, root, "idx", IndexStore.versions(root, "idx").last)
        .select("id", "vec", "cell").collect()
        .map(r => (r.getString(0), r.getSeq[Float](1).toArray, r.getInt(2))).toSeq
      assert(rows.length == IndexStore.manifest(root, "idx").count)
      val encode = graft.functions.Encoders.get(cfg.model).openPartition(cfg.dim, cfg.normalize)
      // the cells a search probes: the serving dial of nearest centroids
      // by squared L2, ties by cell order; every cell on a flat index
      def cells(qv: Array[Float]): Set[Int] =
        if (backend == "flat") Set(0)
        else {
          val cents = IndexStore.loadCentroids(spark, root, "idx")
          val np = IndexStore.manifest(root, "idx").servingProbes
          cents.indices.map(c => (c, cents(c).indices.map { d =>
            val diff = qv(d) - cents(c)(d); diff * diff }.sum))
            .sortBy(_._2).take(math.min(np, cents.length)).map(_._1).toSet
        }
      val s = spark
      import s.implicits._
      val queries = IndexPipeline.chunked(fresh.toDF("doc_id", "text"), cfg)
        .select("text").as[String].collect().toSeq.take(6)
      assert(queries.nonEmpty)
      queries.foreach { q =>
        val qv = encode(q)
        val probed = cells(qv)
        val want = rows.filter(r => probed(r._3))
          .map { case (id, v, _) =>
            (id, round6(qv.indices.map(i => qv(i).toDouble * v(i).toDouble).sum))
          }
          .sortBy { case (id, sc) => (-sc, id) }.take(10)
        val got = IndexPipeline.search(spark, root, "idx", q, 10, cfg).collect().toSeq
          .map(r => (r.getAs[String]("id"), r.getAs[Double]("score")))
        assert(got == want, s"$backend: search differs from the replica for '${q.take(40)}'")
      }
      // the base scan and the runs' scan still serve a warm search in one
      // job with no exchange; an ivf probe prunes the base's cell dirs and
      // reaches the runs as a data filter
      def search() = IndexPipeline.search(spark, root, "idx", queries.head, 10, cfg)
      search().collect()
      val (_, jobs, shuffled) = org.apache.spark.graft.JobCount(spark.sparkContext) {
        search().collect()
      }
      assert(jobs == 1 && shuffled == 0L, s"$backend: a warm search ran $jobs jobs, $shuffled shuffle bytes")
      val scans = search().queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.length == 2, s"$backend: ${scans.length} scans")
      if (backend == "ivf") {
        assert(scans.exists(_.partitionFilters.nonEmpty), s"no cell-pruned scan: $scans")
        assert(scans.exists(_.dataFilters.exists(_.references.exists(_.name == "cell"))),
          s"no cell data filter on the runs: $scans")
      }
    }
  }
}
