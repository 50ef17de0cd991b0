package graftbench

import org.apache.spark.sql.Row

import graft.functions.Encoders
import graft.index.IndexStore
import graft.operators.Search
import graft.pipeline.IndexPipeline

/** `serve_topk`: one client in a closed loop against one long-lived
  * session. Set-up builds an ivf and a flat artifact from one corpus plus
  * a corpus dir with `documents`/`embeddings` parquet; the loop then runs
  * a fixed seeded sequence: 50 % `IndexPipeline.search` on ivf, 25 % on
  * flat, 25 % `Search.hybridRrfFor`.
  */
final class ServeTopk(ctx: Ctx) extends Workload {
  val name = "serve_topk"
  val Docs = 2000
  val Pool = 48
  override def setupReps: Int = 2

  private val spark = ctx.spark
  private var corpus: Vector[Gen.Doc] = Vector.empty
  private var pool: Vector[Gen.Query] = Vector.empty
  private var root = ""
  private var corpusDir = ""
  private var next = 0

  private def chunks: Long = corpus.map(d => Gen.chunkCount(d.text).toLong).sum
  private def nlist: Int = Families.adaptiveNlist(chunks)

  /** The op sequence of `seed`: kind and query of op i. Every block of
    * four ops holds two ivf, one flat and one hybrid search in a seeded
    * order, so any window keeps the 50/25/25 mix.
    */
  private def opAt(seed: Long, qs: IndexedSeq[Gen.Query], i: Int): (String, Gen.Query) = {
    val r = new Gen.Rng(seed * 31L + i / 4)
    val block = Vector("ivf", "ivf", "flat", "hybrid").sortBy(_ => r.nextLong())
    (block(i % 4), qs(new Gen.Rng(seed * 37L + i).nextInt(qs.length)))
  }

  private def runOp(kind: String, q: Gen.Query): Array[Row] = kind match {
    case "hybrid" => Families.hybrid(spark, corpusDir, q).collect()
    case k => IndexPipeline.search(spark, root, k, q.text, Families.K).collect()
  }

  private def build(docs: Seq[Gen.Doc], dir: java.nio.file.Path, seed: Long): (String, String) = {
    Families.writeCorpusDir(spark, docs, dir.resolve("corpus"), seed)
    val df = spark.read.parquet(dir.resolve("corpus/documents.parquet").toString)
      .select("doc_id", "text")
    val r = dir.resolve("index").toString
    val n = Families.adaptiveNlist(docs.map(d => Gen.chunkCount(d.text).toLong).sum)
    IndexPipeline.build(df, r, Families.cfg("ivf", "ivf", n))
    IndexPipeline.build(df, r, Families.cfg("flat", "flat", n))
    (r, dir.resolve("corpus").toString)
  }

  def setup(rep: Int): Unit = {
    corpus = Gen.docs(ctx.seed, Docs, 0L)
    pool = Gen.queries(ctx.seed, Pool, corpus)
    val (r, c) = build(corpus, ctx.dir(s"st_setup$rep"), ctx.seed)
    root = r; corpusDir = c
  }

  def fingerprint: Map[String, Any] = Gen.fingerprint(corpus) ++ Map(
    "nlist" -> nlist, "queries" -> pool.length,
    "off_corpus_queries" -> pool.count(!_.onCorpus),
    "query_checksum" -> Gen.checksum(pool.zipWithIndex.map { case (q, i) =>
      Gen.Doc(i.toLong, q.text + "|" + q.vecId, "", "") }))

  /** Ops of another seed's sequence and queries against the measured
    * artifacts: a serving session's first searches plan, compile and JIT
    * the query path, and its first bm25 call builds the lexical
    * statistics, once per session.
    */
  val WarmupOps = 16
  def warmup(): Unit = {
    Search.prewarm(spark, corpusDir)
    val s = ctx.seed + 1000003L
    val qs = Gen.queries(s, Pool, corpus)
    (0 until WarmupOps).foreach { i => val (k, q) = opAt(s, qs, i); runOp(k, q) }
  }

  def window(deadline: Long, maxOps: Int): Seq[Op] = {
    val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
    while (ops.isEmpty || (System.nanoTime() < deadline && ops.length < maxOps)) {
      val i = next; next += 1
      val (kind, q) = opAt(ctx.seed, pool, i)
      val t0 = System.nanoTime()
      val (out, err) = try (runOp(kind, q), "")
        catch { case e: Throwable => (null, s"threw: $e") }
      val op = new Op(s"q$i", kind, (System.nanoTime() - t0) / 1e6, 1L, (q, out))
      if (err.nonEmpty) op.fail(err)
      ops += op
    }
    ops.toSeq
  }

  // ---- checks ------------------------------------------------------------

  private def round6(d: Double): Double =
    java.math.BigDecimal.valueOf(d).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue

  private def dot(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  /** Exact top-k by 6-dp rounded inner product, id tie-break. */
  private def exactTop(qv: Array[Float], vs: Seq[(String, Array[Float])]): Seq[(String, Double)] =
    vs.map { case (id, v) => (id, round6(dot(qv, v))) }
      .sortBy { case (id, s) => (-s, id) }.take(Families.K)

  private lazy val flatVecs: Seq[(String, Array[Float])] =
    IndexStore.load(spark, root, "flat").select("id", "vec").collect()
      .map(r => (r.getString(0), r.getSeq[Float](1).toArray)).toSeq
  private lazy val ivfVecs: Map[Int, Seq[(String, Array[Float])]] =
    IndexStore.load(spark, root, "ivf").select("id", "vec", "cell").collect()
      .map(r => (r.getInt(2), (r.getString(0), r.getSeq[Float](1).toArray))).toSeq
      .groupMap(_._1)(_._2)
  private lazy val encode: String => Array[Float] = {
    val c = IndexPipeline.Config("q")
    Encoders.get(c.model).openPartition(c.dim, c.normalize)
  }

  /** The cells an ivf search probes: the manifest's serving dial of
    * nearest centroids by squared L2, ties by cell order.
    */
  private def probed(qv: Array[Float]): Seq[Int] = {
    val cents = IndexStore.loadCentroids(spark, root, "ivf")
    val np = IndexStore.manifest(root, "ivf").servingProbes
    cents.indices.map(c => (c, cents(c).indices.map { d =>
      val diff = qv(d) - cents(c)(d); diff * diff }.sum))
      .sortBy(_._2).take(math.min(np, cents.length)).map(_._1)
  }

  /** ivf recall@10 over the whole query pool: the share of the exact
    * top-10 that the top-10 within the probed cells keeps. The checks
    * above pin that form to the program's ivf output on every ivf op, so
    * the figure is deterministic for a seed, whatever ops a window ran.
    */
  private def poolRecall: Double = Stats.mean(pool.map { q =>
    val qv = encode(q.text)
    val exact = exactTop(qv, flatVecs).map(_._1).toSet
    val probedTop = exactTop(qv, probed(qv).flatMap(c => ivfVecs.getOrElse(c, Nil)))
    probedTop.count(h => exact.contains(h._1)).toDouble / exact.size
  })
  private var recall = Double.NaN

  private def hits(rows: Array[Row]): Seq[(String, Double)] =
    rows.toSeq.map(r => (r.getAs[String]("id"), r.getAs[Double]("score")))

  def check(ops: Seq[Op]): Unit = {
    val hybridWant = scala.collection.mutable.Map.empty[Gen.Query, Seq[(Long, Double)]]
    ops.filter(_.ok).foreach { op =>
      val (q, out) = op.out.asInstanceOf[(Gen.Query, Array[Row])]
      op.kind match {
        case "flat" =>
          val want = exactTop(encode(q.text), flatVecs)
          val got = hits(out)
          if (got != want) op.fail(s"flat top-${Families.K} differs from exact: got " +
            s"${got.take(3)} want ${want.take(3)}")
        case "ivf" =>
          val qv = encode(q.text)
          val want = exactTop(qv, probed(qv).flatMap(c => ivfVecs.getOrElse(c, Nil)))
          val got = hits(out)
          if (got != want) op.fail(s"ivf top-${Families.K} differs from exact top-k " +
            s"within probed cells: got ${got.take(3)} want ${want.take(3)}")
        case "hybrid" =>
          val want = hybridWant.getOrElseUpdate(q, rrf(q))
          val got = out.toSeq.map(r => (r.getAs[Long]("id"), r.getAs[Double]("rrf_score")))
          if (got != want) op.fail(s"hybrid differs from RRF of its component lists: " +
            s"got ${got.take(3)} want ${want.take(3)}")
      }
    }
    val ivf = ops.filter(_.kind == "ivf")
    if (ivf.nonEmpty && ivf.forall(_.ok)) recall = poolRecall
  }

  /** The cosine list `hybridRrfFor` fuses, computed here from the
    * generated embeddings: every other vector by 6-dp rounded cosine
    * (`dot / (‖q‖ · ‖v‖)`), id tie-break, top `RrfListLen`.
    */
  private lazy val embeddings: Seq[(Long, Array[Float], Double)] = corpus.map { d =>
    val v = Gen.embedding(ctx.seed, d.id); (d.id, v, math.sqrt(dot(v, v)))
  }
  private def cosineTop(vecId: Long): Seq[Long] = {
    val (_, qv, qn) = embeddings.find(_._1 == vecId).get
    embeddings.filter(_._1 != vecId)
      .map { case (id, v, n) => (id, round6(dot(qv, v) / (qn * n))) }
      .sortBy { case (id, s) => (-s, id) }.take(Search.RrfListLen).map(_._1)
  }

  /** RRF recomputed from the two lists `hybridRrfFor` fuses: sum of
    * 1/(60 + rank) per id, top 10 by score then id, 6-dp rounded.
    */
  private def rrf(q: Gen.Query): Seq[(Long, Double)] = {
    val cos = cosineTop(q.vecId).zipWithIndex.map { case (id, i) => (id, i + 1L) }
    val bm = Search.bm25TopFor(spark, corpusDir, q.text, Search.RrfListLen).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rk")))
    (cos ++ bm).groupMapReduce(_._1)(p => 1.0 / (Search.RrfK + p._2))(_ + _)
      .toSeq.sortBy { case (id, s) => (-s, id) }.take(Search.RrfOut)
      .map { case (id, s) => (id, round6(s)) }
  }

  def kindWeights: Map[String, Double] = Map("ivf" -> 0.5, "flat" -> 0.25, "hybrid" -> 0.25)

  def itemsPerS(ops: Seq[Op], wallS: Double): Double = ops.length / (ops.map(_.ms).sum / 1e3)

  def figures(ops: Seq[Op], wallS: Double): Seq[Figure] = {
    def ms(kind: String) = ops.filter(_.kind == kind).map(_.ms)
    val all = ops.map(_.ms)
    Seq(Figure("serve_qps", ops.length / wallS, "1/s", ops.length, "higher")) ++
      Stats.latency("ivf", ms("ivf")) ++ Stats.latency("flat", ms("flat")) ++
      Stats.latency("hybrid", ms("hybrid")) ++
      (if (all.length >= 100)
         Seq(Figure("search_p90_ms", Stats.pct(all, Stats.tailPct(all.length).get), "ms",
           all.length, "lower", Map("pct" -> Stats.tailPct(all.length).get)))
       else Nil) :+
      Figure("ivf_recall_at_10", recall, "ratio", pool.length, "higher")
  }

  def tracedOps: Int = 24

  def staged(tr: Tracer, ops: Seq[Op]): Unit =
    ops.foreach { op =>
      val (q, _) = op.out.asInstanceOf[(Gen.Query, Any)]
      op.kind match {
        case "hybrid" => Families.stagedHybrid(tr, spark, corpusDir, q, op.id, own = true)
        case k => Families.stagedSearch(tr, spark, root, k, q.text, cold = false, op.id, own = true)
      }
    }

  def aux(tr: Tracer): Unit = {
    val dir = ctx.dir("st_aux")
    val f = dir.resolve("corpus.jsonl")
    Gen.writeJsonl(corpus, f)
    Families.stagedBuild(tr, spark, f.toString, "json", dir.resolve("index").toString,
      "flat_aux", nlist, "aux.build", own = false)
    Families.auxAppendSearch(tr, spark, root, "ivf",
      Gen.docs(ctx.seed * 7919L, Docs / 100, 10000000L, Gen.Fresh))
    Families.stagedCurateLayers(tr, spark, corpusDir, "aux.curate_layers")
    Families.stagedCurate(tr, spark, corpusDir, "aux.curate", own = false)
  }
}
