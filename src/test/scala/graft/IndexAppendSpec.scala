package graft

import org.apache.spark.sql.functions._

import graft.index.IndexStore
import graft.operators.VectorOps
import graft.pipeline.IndexPipeline
import graft.sources.Tables

/** IndexStore.append: incremental growth with FROZEN quantizers — new
  * vectors are assigned with the persisted centroids/codebooks (no refit),
  * appended to the latest cell partitions, and recorded as a delta
  * version with parent provenance. Queries probing only cells the append
  * never touched must see bit-identical results.
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

  test("a crashed file-merge heals on the next append — no duplicate rows") {
    // the append merge is a file-by-file copy, not a job-level commit: a
    // crash mid-merge leaves some of the delta's files in latest, and the
    // RE-RUN writes a new delta (fresh part uuids) whose full merge would
    // duplicate the crashed attempt's rows. The journal written before
    // the copy makes the next append roll the partial merge back first.
    val root = java.nio.file.Files.createTempDirectory("graft_app_heal").toString
    val a = embs.filter(col("id") < 150)
    val b = embs.filter(col("id") >= 150 && col("id") < 250)
    val c = embs.filter(col("id") >= 250 && col("id") < 300)
    val d = embs.filter(col("id") >= 300)
    IndexStore.build(a, root, "idx", "ivf")
    IndexStore.append(b, root, "idx")
    val preC = IndexStore.manifestJson(root, "idx")

    // land append(c) for real, then reconstruct the crashed-merge state:
    // its delta files sit in latest (the "already copied" half), the
    // journal a crash would have left behind lists them with the
    // pre-merge manifest, and the manifest is still the pre-merge one
    IndexStore.append(c, root, "idx")
    val vs = IndexStore.versions(root, "idx")
    val cVec = java.nio.file.Paths.get(s"$root/idx/versions/${vs.last}/vectors")
    val rels = {
      val s = java.nio.file.Files.walk(cVec)
      try {
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        s.forEach { p =>
          val base = p.getFileName.toString
          if (java.nio.file.Files.isRegularFile(p) &&
              !base.startsWith("_") && !base.startsWith("."))
            out += cVec.relativize(p).toString
        }
        out.sorted.toSeq
      } finally s.close()
    }
    assert(rels.nonEmpty)
    val b64 = java.util.Base64.getEncoder.encodeToString(
      preC.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val journal =
      s"""{"version": "${vs.last}",
         | "manifest_b64": "$b64",
         | "files": [${rels.map(f => "\"" + f + "\"").mkString(", ")}]}"""
        .stripMargin
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/idx/latest/vectors/_graft_merge.json"),
      journal.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/idx/latest/manifest.json"),
      preC.getBytes(java.nio.charset.StandardCharsets.UTF_8))

    // the next append heals: c's half-merged files are rolled back, then
    // d lands — latest holds exactly a+b+d, no duplicates, journal gone
    val m = IndexStore.append(d, root, "idx")
    val want = a.count() + b.count() + d.count()
    assert(m.count == want, s"manifest count ${m.count}, want $want")
    val ids = IndexStore.load(spark, root, "idx")
      .select(col("id")).collect().map(_.getLong(0))
    assert(ids.length == want, s"${ids.length} rows served, want $want")
    assert(ids.distinct.length == ids.length, "duplicate rows after heal")
    assert(c.collect().map(_.getLong(0))
      .forall(id => !ids.contains(id)), "rolled-back rows still visible")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(
      s"$root/idx/latest/vectors/_graft_merge.json")), "journal not cleared")
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
    // rows with no text column at all (a hand-written vectors-only dir)
    // search the same way
    val root = java.nio.file.Files.createTempDirectory("graft_app_no_text").toString
    val cfg = IndexPipeline.Config(name = "bare")
    val vecs = IndexPipeline.vectorize(Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).orderBy(col("doc_id")).limit(20), cfg)
    vecs.select(col("id"), col("vec"), lit(0).as("cell"))
      .write.parquet(s"$root/bare/latest/vectors")
    val (id, text) = vecs.select("id", "text").collect()
      .map(r => (r.getString(0), r.getString(1))).groupBy(_._2)
      .collectFirst { case (_, Array(only)) => only }.get
    val hits = IndexPipeline.search(spark, root, "bare", text, 5, cfg).collect()
    assert(hits.length == 5 && hits.head.getAs[String]("id") == id)
    assert(hits.forall(_.getAs[String]("preview") == null))
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
}
