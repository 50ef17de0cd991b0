package graft

import java.nio.file.{Files, Path => JPath, Paths}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.IndexStore

/** graft's local writes set file modes in-process ([[NioLocalFileSystem]]):
  * no `chmod` process per file, `.crc` sidecar or directory, the modes and
  * sidecars of the stock `LocalFileSystem`, and the writer's own session's
  * Hadoop settings on any thread.
  */
class NioLocalFileSystemSpec extends SparkSpec {
  /** Rows `from until until` of a fixed 8-d `(id, vec)` frame, in `s`. */
  private def vectors(s: SparkSession, from: Long, until: Long): DataFrame = {
    import s.implicits._
    (from until until).map(i =>
      (i, Array.tabulate(8)(d => (math.sin(i * 31 + d) * 10).toFloat))).toDF("id", "vec")
  }

  /** The commands of the `chmod` processes the JVM started while `f` ran,
    * from an in-process JFR recording.
    */
  private def chmods(f: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try f finally rec.stop()
    val file = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.dump(file)
      val cmds = RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
      cmds.filter(_.split("\\s+").headOption.exists(_.split('/').last == "chmod"))
    } finally { rec.close(); Files.delete(file) }
  }

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Every path under `root`, relative, with write-unique names (part-file
    * UUIDs, version ids) made stable, mapped to whether it is a dir and its
    * mode.
    */
  private def modes(root: JPath): Map[String, (Boolean, Int)] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_ != root).map { p =>
      root.relativize(p).toString
        .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "U")
        .replaceAll("\\d{8}-\\d{6}(-\\d+)?", "V") -> (Files.isDirectory(p), mode(p))
    }.toMap finally s.close()
  }

  test("an ivf, an ivfpq and a flat build, an append and a parquet materialize start no chmod process") {
    val root = Files.createTempDirectory("graft-nofork").toString
    val a = vectors(spark, 0, 200)
    val b = vectors(spark, 200, 220)
    val scratch = spark.newSession()
    scratch.conf.set(Artifacts.MaterializeKey, "parquet")
    scratch.conf.set(Artifacts.ScratchDirKey, s"$root/scratch")
    val forks = chmods {
      IndexStore.build(a, root, "ivf", "ivf", IndexStore.Params(nlist = 4, nprobe = 2))
      IndexStore.build(a, root, "pq", "ivfpq", IndexStore.Params(nlist = 4, nprobe = 2))
      IndexStore.build(a, root, "flat", "flat")
      IndexStore.append(b, root, "ivf")
      assert(Artifacts.materialize(scratch, scratch.range(50).toDF(), "nofork").count() == 50)
    }
    val n = forks.length
    assert(n == 0, forks.take(3).mkString("chmod forks, first: ", "; ", ""))
    assert(IndexStore.load(spark, root, "ivf").count() == 220)
    // the override rides on the writes only: the shared conf never sees it
    assert(spark.sparkContext.hadoopConfiguration.get("fs.file.impl") == null)
  }

  test("a write through it leaves the modes, .crc sidecars and dirs of the stock LocalFileSystem") {
    val stock = Files.createTempDirectory("graft-modes-stock")
    val nio = Files.createTempDirectory("graft-modes-nio")
    val df = vectors(spark, 0, 100).withColumn("cell", col("id") % 3)
    df.write.partitionBy("cell").parquet(s"$stock/t")
    df.write.options(NioLocalFileSystem.WriteOptions).partitionBy("cell").parquet(s"$nio/t")
    val want = modes(stock)
    assert(want.keys.exists(_.endsWith(".parquet.crc")) && want.keys.exists(_.startsWith("t/cell=")))
    assert(modes(nio) == want)

    // a build's files and dirs: the stock modes, every data file and
    // manifest with its .crc sidecar
    val root = Files.createTempDirectory("graft-modes-build")
    IndexStore.build(vectors(spark, 0, 300), root.toString, "idx", "ivf",
      IndexStore.Params(nlist = 4, nprobe = 2))
    val built = modes(root)
    def modesOf(m: Map[String, (Boolean, Int)], isDir: Boolean) =
      m.values.collect { case (d, md) if d == isDir => md }.toSet
    assert(modesOf(built, isDir = false).subsetOf(modesOf(want, isDir = false)), built)
    assert(modesOf(built, isDir = true).subsetOf(modesOf(want, isDir = true)), built)
    val data = built.keys.filter(f => f.endsWith(".parquet") || f.endsWith(".json")).toSeq
    assert(data.exists(_.startsWith("idx/versions/V/vectors/cell=")))
    assert(data.exists(_.startsWith("idx/versions/V/centroids/")))
    assert(data.contains("idx/latest/manifest.json"))
    data.foreach { f =>
      val p = Paths.get(f)
      val crc = p.resolveSibling(s".${p.getFileName}.crc").toString
      assert(built.contains(crc), s"$f has no .crc sidecar")
    }
  }

  test("setPermission: a missing path throws FileNotFoundException, a sticky mode goes to Hadoop's own") {
    val fs = new NioLocalFileSystem
    fs.initialize(new java.net.URI("file:///"), new Configuration(false))
    val tmp = Files.createTempDirectory("graft-setperm")
    intercept[java.io.FileNotFoundException] {
      fs.setPermission(new HPath(tmp.resolve("missing").toUri), new FsPermission("644"))
    }
    val f = tmp.resolve("f")
    Files.write(f, Array[Byte](1))
    fs.setPermission(new HPath(f.toUri), new FsPermission("640"))
    assert(mode(f) == Integer.parseInt("640", 8))
    val d = Files.createDirectory(tmp.resolve("d"))
    val forks = chmods(fs.setPermission(new HPath(d.toUri), new FsPermission("1750")))
    assert(mode(d) == Integer.parseInt("1750", 8))
    assert(forks.exists(_.contains("1750")) || org.apache.hadoop.io.nativeio.NativeIO.isAvailable)
    // the same as the stock file system's, which it is for such a mode
    val stock = new LocalFileSystem
    stock.initialize(new java.net.URI("file:///"), new Configuration(false))
    val e = Files.createDirectory(tmp.resolve("e"))
    stock.setPermission(new HPath(e.toUri), new FsPermission("1750"))
    assert(mode(e) == mode(d))
  }

  test("an append from a thread with no active session writes with its own session's Hadoop settings") {
    val root = Files.createTempDirectory("graft-umask").toString
    IndexStore.build(vectors(spark, 0, 200), root, "idx", "ivf",
      IndexStore.Params(nlist = 4, nprobe = 2))
    val s2 = spark.newSession()
    s2.conf.set("fs.permissions.umask-mode", "077")
    val delta = vectors(s2, 200, 220)
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    val m = try pool.submit(new java.util.concurrent.Callable[IndexStore.Manifest] {
      def call(): IndexStore.Manifest = {
        SparkSession.clearActiveSession()
        IndexStore.append(delta, root, "idx")
      }
    }).get() finally pool.shutdown()
    assert(m.count == 220)
    val v = IndexStore.versions(root, "idx").last
    def octal(p: String) = Integer.toOctalString(mode(Paths.get(p)))
    assert(octal(s"$root/idx/latest/manifest.json") == "600")
    assert(octal(s"$root/idx/versions/$v/manifest.json") == "600")
    val run = Files.list(Paths.get(s"$root/idx/versions/$v/vectors")).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).map(_.toString).toSeq
    assert(run.nonEmpty && run.map(octal).toSet == Set("600"))
  }
}
