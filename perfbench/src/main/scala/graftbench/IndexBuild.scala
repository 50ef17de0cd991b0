package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.Row

import graft.index.IndexStore
import graft.pipeline.IndexPipeline

/** `index_build`: a corpus file goes through `IndexPipeline.buildFromFile`
  * (backend ivf, adaptive nlist), then one `IndexPipeline.search` right
  * after that write, for the first chunk of a corpus doc whose chunk text
  * is unique, then `Deltas` deltas of about 1 % new docs each go through
  * `IndexPipeline.vectorize` + `IndexStore.append`. A cycle is the build,
  * its search and its deltas; the window runs whole cycles, at least
  * [[MinCycles]], each into a fresh root built from a fresh copy of the
  * corpus file.
  *
  * Known defect: search drops appended chunks (append writes no
  * docs-sidecar rows and search joins its hits to that sidecar), so a
  * search after an append returns fewer than k rows whenever an appended
  * chunk ranks in its top k. The timed flow therefore searches after the
  * build, not after an append; [[check]] searches each delta's own first
  * chunk on the last cycle's index, untimed, and reports the share it
  * finds as `appended_found_share`.
  */
final class IndexBuild(ctx: Ctx) extends Workload {
  val name = "index_build"
  val Docs = 2000
  val DeltaDocs = 20
  val Deltas = 2
  /** Three builds a run: one build's time alone spread too widely between
    * runs, and with a time-bounded count runs of two and of three cycles
    * mixed; three cycles take longer than the run's 16 s, so every run
    * times the same three.
    */
  val MinCycles = 3

  private val spark = ctx.spark
  private var corpus: Vector[Gen.Doc] = Vector.empty
  private var deltas: Vector[Vector[Gen.Doc]] = Vector.empty
  private var probes: Vector[Gen.Doc] = Vector.empty
  private var corpusFile: Path = _
  private var cycle = 0
  private var lastRoot = ""
  /** Appended first chunks searched after the window, and how many came back. */
  private var appendedSearched = 0
  private var appendedFound = 0

  private def deltaDocs(seed: Long, n: Int, base: Long): Vector[Vector[Gen.Doc]] =
    Vector.tabulate(Deltas)(k =>
      // fresh documents only: an appended chunk's text is unique in the index
      Gen.docs(seed * 7919L + k, n, base + k.toLong * n, Gen.Fresh))

  /** Seeded corpus docs, searched by cycle in turn, whose first chunk occurs once among
    * all chunk texts of the corpus, so its own chunk is the only exact hit.
    */
  private def probeDocs(seed: Long, ds: Vector[Gen.Doc]): Vector[Gen.Doc] = {
    val counts = ds.flatMap(d => Gen.chunks(d.text)).groupBy(identity).map {
      case (t, xs) => t -> xs.length
    }
    val pool = ds.filter(d => d.kind == "orig" && counts(Gen.firstChunk(d.text)) == 1)
    val r = new Gen.Rng(seed ^ 0x1B0BEL)
    Vector.fill(MinCycles)(r.pick(pool))
  }

  private def probe(cycle: Int): Gen.Doc = probes(cycle % probes.length)

  def setup(rep: Int): Unit = {
    val dir = ctx.dir(s"ib_setup$rep")
    corpus = Gen.docs(ctx.seed, Docs, 0L)
    deltas = deltaDocs(ctx.seed, DeltaDocs, 10000000L)
    probes = probeDocs(ctx.seed, corpus)
    corpusFile = dir.resolve("corpus.jsonl")
    Gen.writeJsonl(corpus, corpusFile)
  }

  def fingerprint: Map[String, Any] = Gen.fingerprint(corpus) ++ Map(
    "deltas" -> deltas.length, "delta_docs" -> DeltaDocs,
    "delta_chunks" -> deltas.map(_.map(d => Gen.chunkCount(d.text).toLong).sum),
    "nlist" -> nlist, "probe_ids" -> probes.map(_.id))

  private def chunks(ds: Seq[Gen.Doc]): Long = ds.map(d => Gen.chunkCount(d.text).toLong).sum
  private def nlist: Int = Families.adaptiveNlist(chunks(corpus))

  /** Cycles on a half-size corpus of another seed. With a single
    * eighth-size cycle every op kind still got 20-30 % faster over the
    * timed cycles, so the window measured the warm-up curve.
    */
  val WarmupCycles = 2
  def warmup(): Unit = {
    val docs = Gen.docs(ctx.seed + 1000003L, Docs / 2, 0L)
    val ds = deltaDocs(ctx.seed + 1000003L, DeltaDocs, 10000000L)
    for (w <- 0 until WarmupCycles) {
      val dir = ctx.dir(s"ib_warm$w")
      val f = dir.resolve("corpus.jsonl")
      Gen.writeJsonl(docs, f)
      val root = dir.resolve("index").toString
      IndexPipeline.buildFromFile(spark, f.toString, "json", root,
        Families.cfg("ib", "ivf", Families.adaptiveNlist(chunks(docs))))
      IndexPipeline.search(spark, root, "ib", Gen.firstChunk(docs.head.text), Families.K)
        .collect()
      ds.foreach { d =>
        IndexStore.append(IndexPipeline.vectorize(Families.docsFrame(spark, d),
          IndexPipeline.Config("ib")), root, "ib")
      }
    }
  }

  /** Fresh root and a fresh copy of the corpus file for the next cycle. */
  private def nextRoot(): (String, String) = {
    val dir = ctx.dir(s"ib_cycle$cycle")
    cycle += 1
    val f = dir.resolve("corpus.jsonl")
    Files.copy(corpusFile, f, StandardCopyOption.REPLACE_EXISTING)
    (dir.resolve("index").toString, f.toString)
  }

  def window(deadline: Long, maxOps: Int): Seq[Op] = {
    val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
    val perCycle = 2 + Deltas
    while (ops.length < MinCycles * perCycle ||
           (System.nanoTime() < deadline && ops.length + perCycle <= maxOps)) {
      val c = cycle
      val (root, file) = nextRoot()
      lastRoot = root
      ops += run(s"c$c.build", "build", chunks(corpus)) {
        IndexPipeline.buildFromFile(spark, file, "json", root, Families.cfg("ib", "ivf", nlist))
      }
      ops += run(s"c$c.search", "fresh_search", 1L) {
        IndexPipeline.search(spark, root, "ib", Gen.firstChunk(probe(c).text), Families.K)
          .collect()
      }
      deltas.zipWithIndex.foreach { case (d, k) =>
        ops += run(s"c$c.append$k", "append", chunks(d)) {
          IndexStore.append(IndexPipeline.vectorize(Families.docsFrame(spark, d),
            IndexPipeline.Config("ib")), root, "ib")
        }
      }
    }
    ops.toSeq
  }

  private def run(id: String, kind: String, items: Long)(f: => Any): Op = {
    val t0 = System.nanoTime()
    val (out, err) = try (f, "") catch { case e: Throwable => (null, s"threw: $e") }
    val op = new Op(id, kind, (System.nanoTime() - t0) / 1e6, items, out)
    if (err.nonEmpty) op.fail(err)
    op
  }

  def check(ops: Seq[Op]): Unit = {
    checkOps(ops)
    appendedSearched = deltas.length
    appendedFound = deltas.count { d =>
      val want = s"${d.head.id}#0"
      IndexPipeline.search(spark, lastRoot, "ib", Gen.firstChunk(d.head.text), Families.K)
        .collect().exists(_.getAs[String]("id") == want)
    }
    if (appendedFound < appendedSearched)
      System.err.println(s"[perfbench] known defect: search after IndexStore.append " +
        s"returns $appendedFound of $appendedSearched appended chunks searched by their own text")
  }

  private def checkOps(ops: Seq[Op]): Unit = {
    var expected = 0L
    ops.foreach { op =>
      val k = op.id.split("\\.").last
      op.kind match {
        case "build" =>
          expected = chunks(corpus)
          op.out match {
            case m: IndexStore.Manifest if m.count == expected => ()
            case m: IndexStore.Manifest =>
              op.fail(s"manifest count ${m.count} != $expected chunks")
            case _ => ()
          }
        case "append" =>
          expected += chunks(deltas(k.stripPrefix("append").toInt))
          op.out match {
            case m: IndexStore.Manifest if m.count == expected => ()
            case m: IndexStore.Manifest =>
              op.fail(s"manifest count ${m.count} != $expected after append")
            case _ => ()
          }
        case "fresh_search" =>
          val want = s"${probe(op.id.takeWhile(_ != '.').stripPrefix("c").toInt).id}#0"
          op.out match {
            case rows: Array[Row] =>
              val ids = rows.map(_.getAs[String]("id"))
              if (rows.length != Families.K || !ids.headOption.contains(want))
                op.fail(s"search after build: chunk $want not at rank 1 " +
                  s"(${rows.length} rows, rank 1 = ${ids.headOption.getOrElse("none")}, " +
                  s"present = ${ids.contains(want)})")
            case _ => ()
          }
      }
    }
  }

  def kindWeights: Map[String, Double] = Map(
    "build" -> 1.0, "append" -> Deltas.toDouble, "fresh_search" -> 1.0)

  def itemsPerS(ops: Seq[Op], wallS: Double): Double = {
    val writes = ops.filter(o => o.kind == "build" || o.kind == "append")
    writes.map(_.items).sum / (writes.map(_.ms).sum / 1e3)
  }

  def figures(ops: Seq[Op], wallS: Double): Seq[Figure] = {
    def ms(kind: String) = ops.filter(_.kind == kind).map(_.ms)
    val builds = ops.filter(_.kind == "build")
    Figure("build_chunks_per_s", Stats.median(builds.map(o => o.items / (o.ms / 1e3))),
      "1/s", builds.length, "higher") +:
      (Stats.latency("append", ms("append")) ++ Stats.latency("fresh_search", ms("fresh_search")) :+
        Figure("appended_found_share", appendedFound.toDouble / appendedSearched, "ratio",
          appendedSearched, "higher"))
  }

  def tracedOps: Int = MinCycles * (2 + Deltas)

  /** Root of the staged pass's flat artifact, searched by [[aux]]. */
  private var stagedRoot = ""

  /** Each untraced cycle staged once more: a staged build, then a search
    * on the ivf artifact that cycle built, whose serving caches the
    * cycle's last append left cold, then the deltas (new ids) on it.
    */
  def staged(tr: Tracer, ops: Seq[Op]): Unit =
    for (c <- 0 until MinCycles) {
      val (root, file) = nextRoot()
      Families.stagedBuild(tr, spark, file, "json", root, "ib_flat", nlist, s"c$c.build",
        own = true)
      stagedRoot = root
      val ivfRoot = ctx.work.resolve(s"ib_cycle$c").resolve("index").toString
      Families.stagedSearch(tr, spark, ivfRoot, "ib", Gen.firstChunk(probe(c).text),
        cold = true, s"c$c.search", own = true)
      deltaDocs(ctx.seed + 17L + c, DeltaDocs, 20000000L + c * 1000000L).zipWithIndex
        .foreach { case (d, k) =>
          Families.stagedAppend(tr, spark, d, ivfRoot, "ib", s"c$c.append$k", own = true)
        }
    }

  def aux(tr: Tracer): Unit = {
    val ivfRoot = ctx.work.resolve("ib_cycle0").resolve("index").toString
    Families.warmLoads(tr, spark, ivfRoot, "ib", "aux.loads", own = false)
    val dir = ctx.dir("ib_corpus")
    Families.writeCorpusDir(spark, corpus, dir, ctx.seed)
    Families.auxSearches(tr, spark, (ivfRoot, "ib"), (stagedRoot, "ib_flat"), dir.toString,
      Gen.queries(ctx.seed, 6, corpus))
    Families.stagedCurateLayers(tr, spark, dir.toString, "aux.curate_layers")
    Families.stagedCurate(tr, spark, dir.toString, "aux.curate", own = false)
  }
}
