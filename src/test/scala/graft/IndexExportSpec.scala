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
    val dest = s"$root2/exp_flat/latest"
    val extracted = IndexStore.extractArchive(zipPath, dest)
    assert(extracted.toSet === entries.map(_.stripPrefix("exp_flat_latest/")).toSet)
    val loaded = IndexStore.load(spark, root2, "exp_flat")
    assert(loaded.count() === 60)
    assert(IndexStore.manifestJson(root2, "exp_flat").contains("\"dim\": 8"))
    // the chunk text passed beside the vectors ships inside the rows
    val docs = IndexStore.loadDocs(spark, root2, "exp_flat")
    assert(docs.isDefined)
    assert(docs.get.collect().map(r => (r.getString(0), r.getString(1))).toSet ===
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
    IndexStore.extractArchive(zipPath, s"$root2/exp_v/versions/$v")
    val loaded = IndexStore.load(spark, root2, "exp_v", Some(v))
    assert(loaded.count() === 60)
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
