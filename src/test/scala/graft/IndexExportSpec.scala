package graft

import java.nio.file.Files

import graft.index.IndexStore

/** Export/ship surface (reference `app/api/download_api.py:27-55`): zip an
  * index version's artifacts; the receiving host extracts and loads.
  */
class IndexExportSpec extends SparkSpec {

  private def vectors = {
    val s = spark
    import s.implicits._
    (0L until 60L).map(i =>
      (i.toString, Array.tabulate(8)(d => (math.cos(i * 17 + d) * 10).toFloat)))
      .toDF("id", "vec")
  }

  test("export latest → extract → load round-trips a flat index") {
    val root = Files.createTempDirectory("graft-exp").toString
    IndexStore.build(vectors, root, "exp_flat", "flat",
      docs = Some(vectors.selectExpr("id", "concat('text-', id) as text")))
    val zipPath = s"$root/exp_flat.zip"
    val entries = IndexStore.export(root, "exp_flat", zipPath)
    assert(entries.nonEmpty)
    assert(entries.forall(_.startsWith("exp_flat_latest/")))
    assert(entries.exists(_.endsWith("manifest.json")))
    assert(entries.exists(_.contains("/vectors/")))

    // receiving host: extract under a fresh root and load
    val root2 = Files.createTempDirectory("graft-exp2").toString
    val extracted = IndexStore.extractArchive(zipPath, s"$root2/exp_flat")
    assert(extracted.toSet === entries.map(_.stripPrefix("exp_flat_latest/")).toSet)
    val loaded = IndexStore.load(spark, root2, "exp_flat")
    assert(loaded.count() === 60)
    assert(IndexStore.manifestJson(root2, "exp_flat").contains("\"dim\": 8"))
    // the chunk text passed beside the vectors ships inside the rows
    val docs = IndexStore.loadDocs(spark, root2, "exp_flat")
    assert(docs.collect().map(r => (r.getString(0), r.getString(1))).toSet ===
      (0L until 60L).map(i => (i.toString, s"text-$i")).toSet)
  }

  test("export a specific version carries the version prefix and meta.json") {
    val root = Files.createTempDirectory("graft-exp").toString
    IndexStore.build(vectors, root, "exp_v", "ivf",
      params = IndexStore.Params(nlist = 4, nprobe = 2))
    val v = IndexStore.versions(root, "exp_v").head
    val zipPath = s"$root/exp_v.zip"
    val entries = IndexStore.export(root, "exp_v", zipPath, version = Some(v))
    assert(entries.forall(_.startsWith(s"exp_v_v$v/")))
    assert(entries.exists(_.endsWith("meta.json")))
    // partitioned layout survives: cell=N path segments present
    assert(entries.exists(_.contains("cell=")))

    val root2 = Files.createTempDirectory("graft-exp2").toString
    IndexStore.extractArchive(zipPath, s"$root2/exp_v")
    val loaded = IndexStore.load(spark, root2, "exp_v", Some(v))
    assert(loaded.count() === 60)
  }

  test("export after an append ships the base and the runs: latest and the append version load whole") {
    val root = Files.createTempDirectory("graft-exp").toString
    IndexStore.build(vectors.limit(40), root, "exp_app", "ivf",
      params = IndexStore.Params(nlist = 4, nprobe = 2))
    IndexStore.append(vectors.filter("cast(id as int) >= 40"), root, "exp_app")
    val v = IndexStore.versions(root, "exp_app").last
    def ids(df: org.apache.spark.sql.DataFrame) = df.select("id").collect().map(_.getString(0)).sorted.toSeq
    for (version <- Seq(None, Some(v))) {
      val zipPath = s"$root/exp_app_${version.isDefined}.zip"
      IndexStore.export(root, "exp_app", zipPath, version)
      val root2 = Files.createTempDirectory("graft-exp2").toString
      IndexStore.extractArchive(zipPath, s"$root2/exp_app")
      val shipped = version.fold(IndexStore.load(spark, root2, "exp_app"))(
        IndexStore.loadResolved(spark, root2, "exp_app", _))
      assert(ids(shipped) == ids(vectors), s"$version")
      assert(IndexStore.loadCentroids(spark, root2, "exp_app", version).length == 4)
    }
    assert(IndexStore.load(spark, root, "exp_app", Some(v)).count() == 20)
  }

  test("versionMeta and versionArtifacts serve the versions API") {
    val root = Files.createTempDirectory("graft-exp").toString
    IndexStore.build(vectors, root, "exp_meta", "flat")
    val v = IndexStore.versions(root, "exp_meta").head
    val meta = IndexStore.versionMeta(root, "exp_meta", v)
    assert(meta.isDefined && meta.get.contains(s""""version": "$v""""))
    assert(IndexStore.versionMeta(root, "exp_meta", "nope").isEmpty)

    val arts = IndexStore.versionArtifacts(root, "exp_meta", v)
    assert(arts.map(_._1).contains("manifest.json"))
    assert(arts.map(_._1).contains("meta.json"))
    assert(arts.exists(a => a._1.startsWith("vectors/") && a._2 > 0))
    assert(IndexStore.versionArtifacts(root, "exp_meta", "nope").isEmpty)
  }

  test("export of a missing index fails fast") {
    val root = Files.createTempDirectory("graft-exp").toString
    intercept[IllegalArgumentException] {
      IndexStore.export(root, "nope", s"$root/nope.zip")
    }
  }
}
