package graftbench

/** Seeded input generator for every workload.
  *
  * Text is built from the vocabulary of the sf0.1 `documents` table (its 28
  * content words; its two English stopwords "the" and "a" join the
  * per-language stopword lists below) plus the stopword profiles the
  * library's language identifier scores. The generator controls the
  * language mix, the length distribution, the share of low-quality (short)
  * documents and the shares of exact and near duplicates, so that quality,
  * langid and dedup each reject a real fraction of a corpus. The same seed
  * always yields byte-identical documents.
  */
object Gen {

  /** SplitMix64: tiny, fast and fully specified, so a seed means the same
    * inputs on every JVM.
    */
  final class Rng(seed: Long) {
    private var s = seed * 0x9E3779B97F4A7C15L + 0x632BE59BD9B4E019L
    def nextLong(): Long = {
      s += 0x9E3779B97F4A7C15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def nextDouble(): Double = (nextLong() >>> 11).toDouble / (1L << 53).toDouble
    def nextInt(n: Int): Int = ((nextLong() >>> 33) % n).toInt
    def between(lo: Int, hi: Int): Int = lo + nextInt(hi - lo + 1)
    def pick[A](xs: IndexedSeq[A]): A = xs(nextInt(xs.length))
  }

  val Words: Vector[String] = Vector(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "agg", "key",
    "query", "scan", "batch")

  val Stopwords: Map[String, Vector[String]] = Map(
    "en" -> Vector("the", "a", "of", "and", "is", "to", "in"),
    "de" -> Vector("der", "die", "das", "und", "ist", "ein"),
    "es" -> Vector("el", "la", "los", "y", "un"),
    "fr" -> Vector("le", "les", "et", "est", "une"),
    // no profile in the identifier: these documents come out "unknown"
    "zh" -> Vector.empty)

  /** Corpus shape. Shares are of the whole corpus; token counts are
    * uniform in the given range (about 6 chars per token).
    */
  final case class Mix(
      langs: Seq[(String, Double)] = Seq(
        "en" -> 0.55, "de" -> 0.12, "es" -> 0.11, "fr" -> 0.11, "zh" -> 0.11),
      exactDupShare: Double = 0.08,
      nearDupShare: Double = 0.10,
      lowQualityShare: Double = 0.12,
      tokens: (Int, Int) = (34, 66),
      lowQualityTokens: (Int, Int) = (6, 18),
      stopRate: Double = 0.18,
      nearDupEditRate: Double = 0.08)

  /** Fresh documents only: no duplicates, no short docs. */
  val Fresh: Mix = Mix(exactDupShare = 0, nearDupShare = 0, lowQualityShare = 0)

  final case class Doc(id: Long, text: String, lang: String, kind: String)

  private def lang(r: Rng, mix: Mix): String = {
    val u = r.nextDouble()
    var acc = 0.0
    mix.langs.find { case (_, p) => acc += p; u < acc }.map(_._1)
      .getOrElse(mix.langs.last._1)
  }

  private def tokens(r: Rng, lang: String, n: Int, stopRate: Double): Vector[String] = {
    val stops = Stopwords(lang)
    Vector.tabulate(n) { i =>
      val w = if (stops.nonEmpty && r.nextDouble() < stopRate) r.pick(stops)
              else r.pick(Words)
      // sentence punctuation on content words only, about every 12 tokens
      if (i > 0 && i % 12 == 11 && !stops.contains(w)) w + "." else w
    }
  }

  /** `n` documents with ids `firstId until firstId + n`. Duplicates copy
    * (exact) or lightly edit (near) an earlier original of the same call.
    */
  def docs(seed: Long, n: Int, firstId: Long, mix: Mix = Mix()): Vector[Doc] = {
    val r = new Rng(seed)
    val out = new scala.collection.mutable.ArrayBuffer[Doc](n)
    val originals = new scala.collection.mutable.ArrayBuffer[Doc]()
    for (i <- 0 until n) {
      val id = firstId + i
      val u = r.nextDouble()
      val d =
        if (originals.nonEmpty && u < mix.exactDupShare) {
          val src = r.pick(originals.toIndexedSeq)
          Doc(id, src.text, src.lang, "exact")
        } else if (originals.nonEmpty && u < mix.exactDupShare + mix.nearDupShare) {
          val src = r.pick(originals.toIndexedSeq)
          val edited = src.text.split(" ").map(w =>
            if (r.nextDouble() < mix.nearDupEditRate) r.pick(Words) else w)
          Doc(id, edited.mkString(" "), src.lang, "near")
        } else {
          val l = lang(r, mix)
          val low = u < mix.exactDupShare + mix.nearDupShare + mix.lowQualityShare
          val (lo, hi) = if (low) mix.lowQualityTokens else mix.tokens
          val doc = Doc(id, tokens(r, l, r.between(lo, hi), mix.stopRate).mkString(" "),
            l, if (low) "low" else "orig")
          if (!low) originals += doc
          doc
        }
      out += d
    }
    out.toVector
  }

  /** Fixed-size chunking as the index build applies it (`chunk_fixed`:
    * 100-char windows, 20-char overlap): one chunk up to 100 chars, else
    * `1 + ceil((n - 100) / 80)`. The harness derives expected counts and
    * query texts from this, independently of the library.
    */
  val ChunkSize = 100
  val ChunkStep = 80
  def chunkCount(text: String): Int = {
    val n = text.length
    if (n == 0) 0
    else if (n <= ChunkSize) 1
    else 1 + (n - ChunkSize + ChunkStep - 1) / ChunkStep
  }
  def firstChunk(text: String): String = text.substring(0, math.min(ChunkSize, text.length))
  def chunks(text: String): Seq[String] =
    (0 until chunkCount(text)).map(i =>
      text.substring(i * ChunkStep, math.min(i * ChunkStep + ChunkSize, text.length)))

  /** Content checksum: FNV-1a 64 over ids and texts in id order. */
  def checksum(ds: Seq[Doc]): String = {
    var h = 0xcbf29ce484222325L
    def mixIn(s: String): Unit = s.foreach { c =>
      h ^= c.toLong; h *= 0x100000001b3L
    }
    ds.foreach { d => mixIn(d.id.toString); mixIn("\u0000"); mixIn(d.text); mixIn("\n") }
    f"$h%016x"
  }

  /** The input fingerprint each result line carries. */
  def fingerprint(ds: Seq[Doc]): Map[String, Any] = {
    val n = ds.length.max(1).toDouble
    Map(
      "rows" -> ds.length,
      "chunks" -> ds.map(d => chunkCount(d.text).toLong).sum,
      "exact_dup_share" -> ds.count(_.kind == "exact") / n,
      "near_dup_share" -> ds.count(_.kind == "near") / n,
      "low_quality_share" -> ds.count(_.kind == "low") / n,
      "checksum" -> checksum(ds))
  }

  /** Serving queries: 6-word windows of corpus documents, plus about 20 %
    * off-corpus word mixes. Each carries the id of a document whose
    * embedding row serves as the hybrid query vector.
    */
  final case class Query(text: String, vecId: Long, onCorpus: Boolean)

  def queries(seed: Long, n: Int, corpus: IndexedSeq[Doc]): Vector[Query] = {
    val r = new Rng(seed ^ 0x5157L)
    val pool = corpus.filter(_.kind == "orig")
    Vector.fill(n) {
      val d = r.pick(pool)
      if (r.nextDouble() < 0.2) {
        val l = r.pick(Stopwords.keys.toVector.sorted)
        Query(tokens(r, l, 6, 0.3).map(_.stripSuffix(".")).mkString(" "), d.id, onCorpus = false)
      } else {
        val toks = d.text.split(" ")
        val start = r.nextInt(math.max(1, toks.length - 6))
        Query(toks.slice(start, start + 6).mkString(" "), d.id, onCorpus = true)
      }
    }
  }

  /** The seeded 64-d embedding row of document `id`. */
  def embedding(seed: Long, id: Long): Array[Float] = {
    val r = new Rng(seed * 1000003L + id)
    Array.fill(64)((r.nextDouble() * 2 - 1).toFloat)
  }

  /** Write documents as JSON lines (`doc_id`, `text`, `lang`). */
  def writeJsonl(ds: Seq[Doc], path: java.nio.file.Path): Unit = {
    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString
    }
    val w = java.nio.file.Files.newBufferedWriter(path)
    try ds.foreach(d => w.write(
      s"""{"doc_id":${d.id},"text":"${esc(d.text)}","lang":"${d.lang}"}""" + "\n"))
    finally w.close()
  }
}
