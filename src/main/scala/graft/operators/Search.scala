package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Lexical + hybrid search and retrieval evaluation:
  * BM25 (reference `app/ingest/hybrid.py:4-12` — BM25Okapi over
  * `lower().split()` tokens), RRF fusion (`hybrid.py:14-21` —
  * `1/(60+rank)` summed over both lists), and the eval metrics
  * (`app/api/eval_api.py:206-263` — recall@k, MRR, binary-relevance NDCG).
  *
  * Scale design (SURVEY §4): corpus statistics (per-doc term maps, the
  * vocabulary with df, avgdl) are built once per session and documents
  * snapshot and held in [[graft.Artifacts]]; a query reads its ≤ |q| idf
  * values to the driver and scores every document in one narrow
  * projection over the per-doc maps, so the corpus is never shuffled or
  * joined — a scan, a projection and a TakeOrdered.
  */
object Search {

  // BM25Okapi defaults (rank_bm25): k1=1.5, b=0.75, epsilon=0.25.
  val K1 = 1.5
  val B = 0.75
  val Epsilon = 0.25
  val QueryText = "table hash value merge spark"
  val BmK = 10

  /** SURVEY §2 `bm25_topk`: top-10 of the ranking. */
  def bm25TopK(spark: SparkSession, dir: String): DataFrame =
    bm25Top(spark, dir, BmK)

  /** Top-k of the fixed query's BM25 ranking ([[bm25TopFor]]). */
  def bm25Top(spark: SparkSession, dir: String, k: Int): DataFrame =
    bm25TopFor(spark, dir, QueryText, k)

  // The per-doc term-count maps feed four downstream branches (corpus
  // stats, df, idf, tf), so they are materialized once per documents
  // snapshot in the session's artifact store. `source` rides along for
  // free (same scan, tiny column) so corpus_stats can aggregate per-source
  // from the cached maps instead of re-running the tokenizer kernel over
  // the corpus (r15 batch 3); bm25/tfidf consumers project it away.
  private[operators] def perDocTerms(spark: SparkSession, dir: String): DataFrame =
    graft.Artifacts.table(spark, "perdoc", dir, "documents")(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"),
          graft.functions.TermCounts.column(col("text")).as("tc"))
        .withColumn("dl", aggregate(map_values(col("tc")), lit(0L), (a, v) => a + v))
        .filter(col("dl") > 0))

  /** Materialize the shared per-doc term stats for `dir` ahead of timing —
    * bm25_topk and hybrid_rrf share the checkpoint, so whichever runs
    * first would otherwise pay the build and skew per-query attribution
    * (Bench calls this between warmup and the timed passes).
    */
  def prewarm(spark: SparkSession, dir: String): Unit = {
    perDocTerms(spark, dir)
    // the vocabulary table, the BM25 constants and the served vectors (if
    // the corpus has any) are shared the same way — warm them with the stats
    // so per-query attribution stays build-free (vocabTable feeds text_vocab
    // / text_surprisal / text_tfidf and every query's idf values)
    vocabTable(spark, dir)
    bm25Consts(spark, dir)
    val vectors = new org.apache.hadoop.fs.Path(dir, "embeddings.parquet")
    if (vectors.getFileSystem(spark.sessionState.newHadoopConf()).exists(vectors))
      VectorOps.embWithNorm(spark, dir)
  }

  /** Ranked BM25 top-k `(rk, doc_id, score)` for ANY query text — the
    * reference's search box as a library call, ranked by
    * [[graft.functions.Ranking.topK]] on the (6dp-rounded score, doc_id)
    * order. The query's idf job runs here; the frame is lazy, and collected
    * it ranks in one more job of one stage, with no exchange.
    */
  def bm25TopFor(spark: SparkSession, dir: String, query: String, k: Int): DataFrame =
    graft.functions.Ranking.topK(
        bm25ScoredFor(spark, dir, query), k, col("score").desc, col("doc_id"))
      .select(col("rk"), col("doc_id"), col("score"))

  /** Per-doc BM25 scores `(doc_id, score)` of the docs with ≥ 1 query
    * term. The query's idf values are read to the driver here (one job over
    * the cached vocabulary); the plan is one narrow projection over the
    * cached per-doc term maps that folds each doc's query-term entries in
    * map order (the summation order of an explode → per-doc sum). A term
    * repeated in the query counts per occurrence, as in BM25Okapi.
    */
  def bm25ScoredFor(spark: SparkSession, dir: String, queryText: String): DataFrame = {
    val avgdl = bm25Consts(spark, dir).avgdl
    val qTerms = queryTerms(queryText)
    val idfs = queryIdf(spark, dir, qTerms.distinct).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val idf = typedLit(idfs)
    val occurrences = typedLit(qTerms.groupMapReduce(identity)(_ => 1.0)(_ + _))
    def termScore(e: Column): Column = {
      val f = e("value").cast("double")
      idf(e("key")) * (f * lit(K1 + 1.0)) /
        (f + lit(K1) * (lit(1.0 - B) + lit(B) * (col("dl").cast("double") / lit(avgdl)))) *
        occurrences(e("key"))
    }
    perDocTerms(spark, dir)
      .filter(arrays_overlap(map_keys(col("tc")), typedLit(idfs.keys.toSeq)))
      .select(col("doc_id"), round(aggregate(map_entries(col("tc")), lit(0.0), (s, e) =>
        when(map_contains_key(idf, e("key")), s + termScore(e)).otherwise(s)), 6).as("score"))
  }

  /** BM25Okapi's query tokens: `lower().split()`. */
  private def queryTerms(queryText: String): Seq[String] =
    queryText.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq

  /** The corpus vocabulary table `(term, tf, df)` — session-cached (r15
    * batch 3): text_vocab, text_surprisal (cf = tf), text_tfidf (df) and
    * the bm25 idf each re-aggregated the whole exploded per-doc
    * maps per call; at 100 TB the vocabulary is the same persisted
    * index-build artifact as the df table (one Σ|per-doc vocab|-sized agg
    * per corpus snapshot, then vocabulary-sized reads).
    */
  private[operators] def vocabTable(spark: SparkSession, dir: String): DataFrame =
    graft.Artifacts.table(spark, "vocab", dir, "documents")(
      perDocTerms(spark, dir).select(explode(col("tc")).as(Seq("term", "f")))
        .groupBy(col("term"))
        .agg(sum(col("f")).as("tf"), count(lit(1)).as("df")))

  /** BM25Okapi's idf of a term in `df` of `nDocs` documents (may be < 0). */
  private def rawIdf(nDocs: Column, df: Column): Column =
    log((nDocs - df.cast("double") + 0.5) / (df.cast("double") + 0.5))

  /** The corpus-level BM25 constants of a dir: document count, mean
    * document length, and the vocabulary-mean idf behind BM25Okapi's
    * epsilon floor (a negative idf becomes `epsilon · mean idf`).
    */
  private[operators] case class Bm25Consts(nDocs: Long, avgdl: Double, avgIdf: Double)

  /** [[Bm25Consts]] of `dir`: one per-doc and one vocabulary-wide
    * aggregation per session and documents snapshot, kept on the driver,
    * so a query plan carries them as literals.
    */
  private[operators] def bm25Consts(spark: SparkSession, dir: String): Bm25Consts =
    graft.Artifacts.table(spark, "bm25", dir, "documents") {
      val d = perDocTerms(spark, dir)
        .agg(count(lit(1)), sum(col("dl")).cast("double") / count(lit(1)).cast("double"))
        .head()
      val nDocs = d.getLong(0)
      val avgIdf = vocabTable(spark, dir)
        .agg(sum(rawIdf(lit(nDocs.toDouble), col("df"))) / count(lit(1)).cast("double"))
        .head()
      // an empty corpus has no vocabulary, so no query term ever reads these
      def num(r: Row, i: Int): Double = if (r.isNullAt(i)) 0.0 else r.getDouble(i)
      Bm25Consts(nDocs, num(d, 1), num(avgIdf, 0))
    }

  /** The per-query idf table `(term, idf)` of the distinct in-vocabulary
    * `terms` — ≤ |terms| rows, derived on every call from the cached
    * [[vocabTable]] and [[bm25Consts]]. Nothing is cached per query, so a
    * serving session's stats map and checkpoint blocks stay the same size
    * however many distinct queries it answers.
    */
  private def queryIdf(spark: SparkSession, dir: String, terms: Seq[String]): DataFrame = {
    val c = bm25Consts(spark, dir)
    val raw = rawIdf(lit(c.nDocs.toDouble), col("df"))
    vocabTable(spark, dir).filter(col("term").isInCollection(terms))
      .select(col("term"),
        when(raw < 0, lit(Epsilon) * lit(c.avgIdf)).otherwise(raw).as("idf"))
  }

  val PreviewLen = 220
  val MaxHitsPerTerm = 8

  /** BM25 top-k joined back to documents with the reference's preview
    * slice — the shared base of search_preview and search_highlights.
    */
  private def previewBase(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val preview = when(length(col("text")) > PreviewLen,
        concat(substring(col("text"), 1, PreviewLen), lit("…")))
      .otherwise(col("text"))
    bm25TopK(spark, dir)
      .join(docs, Seq("doc_id"))
      .withColumn("preview", preview)
  }

  /** `search_preview` (reference `api/answerless_search.py:139-163`):
    * the BM25 top-k joined back to documents with the reference's preview
    * slice (first 220 chars + '…' when longer) and per-query-term
    * word-boundary highlight hit counts inside the preview, capped at 8
    * per term. Narrow join of the tiny top-k against the docs scan.
    */
  def searchPreview(spark: SparkSession, dir: String): DataFrame = {
    val qTerms = QueryText.toLowerCase.split("\\s+").toSeq
    // counts = size of the span kernel's output, so the (SQL-expressible)
    // hit-count oracle also validates the span finder
    val hitCols = qTerms.map(t =>
      size(graft.functions.HighlightSpans.column(col("preview"), t, MaxHitsPerTerm))
        .cast("long").as(s"hits_$t"))
    previewBase(spark, dir)
      .select(Seq(col("rk"), col("doc_id"), col("score"), col("preview")) ++ hitCols: _*)
  }

  /** `search_highlights` (reference `answerless_search.py:144-159
    * _find_spans`, used by search at :263 and /chunk at :200-207): per-term
    * case-insensitive word-boundary highlight spans inside each top-k
    * preview — one row per (rk, doc_id, term, span), char offsets 0-based
    * end-exclusive, capped at [[MaxHitsPerTerm]] per term. Narrow explode
    * over the tiny top-k frame.
    */
  def searchHighlights(spark: SparkSession, dir: String): DataFrame = {
    val qTerms = QueryText.toLowerCase.split("\\s+").toSeq
    val perTerm = qTerms.map(t => struct(lit(t).as("term"),
      graft.functions.HighlightSpans.column(col("preview"), t, MaxHitsPerTerm).as("spans")))
    previewBase(spark, dir)
      .select(col("rk"), col("doc_id"), explode(array(perTerm: _*)).as("ts"))
      .select(col("rk"), col("doc_id"), col("ts.term").as("term"),
        posexplode(col("ts.spans")).as(Seq("i", "sp")))
      .select(col("rk"), col("doc_id"), col("term"),
        (col("i") + 1).cast("long").as("span_idx"),
        col("sp.start").as("span_start"), col("sp.end").as("span_end"))
  }

  /** DuckDB oracle for search_preview, generated from the same constants. */
  def searchPreviewOracleSql(bm25Ctes: String): String = {
    val hitExprs = QueryText.toLowerCase.split("\\s+").map(t =>
      s"least(8, len(regexp_extract_all(preview, '\\b$t\\b', 0, 'i'))) AS hits_$t")
      .mkString(",\n  ")
    s"""WITH $bm25Ctes,
       |topd AS (SELECT rk, bmr.doc_id, score, text
       |         FROM bmr JOIN documents d ON bmr.doc_id = d.doc_id WHERE rk <= 10),
       |pv AS (SELECT rk, doc_id, score,
       |         CASE WHEN length(text) > 220 THEN substr(text, 1, 220) || '…'
       |              ELSE text END AS preview
       |       FROM topd)
       |SELECT rk, doc_id, score, preview,
       |  $hitExprs
       |FROM pv""".stripMargin
  }

  /** DuckDB oracle for search_highlights: replays the word-boundary scan as
    * a position comprehension — a candidate start p matches iff the
    * term-length slice at p equals the term case-insensitively and the
    * chars before/after are not ASCII word chars. Non-overlap falls out for
    * free because the query terms are all-word-char. Generated from the
    * same constants as the Spark side.
    */
  def searchHighlightsOracleSql(bm25Ctes: String): String = {
    val terms = QueryText.toLowerCase.split("\\s+")
      .map(t => s"('$t')").mkString(", ")
    s"""WITH $bm25Ctes,
       |topd AS (SELECT rk, bmr.doc_id, text
       |         FROM bmr JOIN documents d ON bmr.doc_id = d.doc_id WHERE rk <= $BmK),
       |pv AS (SELECT rk, doc_id,
       |         CASE WHEN length(text) > $PreviewLen THEN substr(text, 1, $PreviewLen) || '…'
       |              ELSE text END AS preview
       |       FROM topd),
       |terms(term) AS (VALUES $terms),
       |pos AS (
       |  SELECT pv.rk, pv.doc_id, t.term, p.p AS p
       |  FROM pv CROSS JOIN terms t,
       |       UNNEST(range(1, length(pv.preview) - length(t.term) + 2)) AS p(p)
       |  WHERE lower(substr(pv.preview, CAST(p.p AS INT), length(t.term))) = t.term
       |    AND (p.p = 1 OR NOT regexp_matches(substr(pv.preview, CAST(p.p - 1 AS INT), 1), '[A-Za-z0-9_]'))
       |    AND (p.p + length(t.term) > length(pv.preview)
       |         OR NOT regexp_matches(substr(pv.preview, CAST(p.p + length(t.term) AS INT), 1), '[A-Za-z0-9_]'))),
       |sp AS (SELECT rk, doc_id, term, p,
       |         row_number() OVER (PARTITION BY rk, doc_id, term ORDER BY p) AS span_idx
       |       FROM pos)
       |SELECT rk, doc_id, term, span_idx,
       |  p - 1 AS span_start, p - 1 + length(term) AS span_end
       |FROM sp WHERE span_idx <= $MaxHitsPerTerm""".stripMargin
  }

  val RrfK = 60
  val RrfListLen = 20
  val RrfOut = 10
  val RrfQueryVec = 0

  /** SURVEY §2 `hybrid_rrf`: fuse the cosine ranking of query vector 0
    * with the BM25 ranking of the fixed text query via reciprocal-rank
    * fusion `Σ 1/(60+rank)` (hybrid.py:14-21; rank 1-based here = the
    * reference's 0-based r with +1). Both input lists are tiny (k=20), so
    * fusion runs on the driver ([[hybridRrfFor]]); ids unify the doc/vec
    * id spaces.
    */
  def hybridRrf(spark: SparkSession, dir: String): DataFrame =
    hybridRrfFor(spark, dir, QueryText, RrfQueryVec)

  val CompareK = 10

  /** SURVEY §2 `search_compare` (reference `answerless_search.py:281-315`
    * compare_api: one query against two indexes, side-by-side hits + the
    * id overlap): left = cosine retriever, right = inner-product retriever,
    * top-[[CompareK]] each for query vector [[RrfQueryVec]], aligned by
    * rank, plus the shared-id count. Both lists are tiny local frames; the
    * corpus is scanned once per retriever and never shuffled.
    */
  def searchCompare(spark: SparkSession, dir: String): DataFrame = {
    val e = VectorOps.embWithNorm(spark, dir)
    val l = VectorOps.topKOf(e, RrfQueryVec, CompareK, "cos")
      .select(col("rk"), col("neighbor_id").as("left_id"), col("score").as("left_score"))
    val r = VectorOps.topKOf(e, RrfQueryVec, CompareK, "dot")
      .select(col("rk"), col("neighbor_id").as("right_id"), col("score").as("right_score"))
    val overlap = l.select(col("left_id").as("id"))
      .intersect(r.select(col("right_id").as("id")))
      .agg(count(lit(1)).as("overlap"))
    l.join(r, Seq("rk"))
      .crossJoin(broadcast(overlap))
      .select(col("rk"), col("left_id"), col("left_score"),
        col("right_id"), col("right_score"), col("overlap"))
  }

  /** General hybrid retrieval: RRF-fuse the cosine ranking of ANY query
    * vector with the BM25 ranking of ANY query text (the reference's
    * hybrid search box; the fixed-input `hybrid_rrf` is the oracle-checked
    * form of this). Either list may be empty. Both are ranked over the
    * session's cached corpus state in four jobs with no shuffle and fused
    * on the driver (score desc, then id; 6 dp HALF_UP), so the jobs run
    * when this is called and the `(rk, id, rrf_score)` frame is local.
    *
    * The two lists are independent, so they run at once: the cosine list
    * on a common fork-join pool thread under the caller's Spark local
    * properties and session (its jobs join the caller's job group, and
    * cancelling that group cancels both lists), the bm25 list on the
    * caller's thread. A failure of either list is thrown from here, after
    * both have ended.
    */
  def hybridRrfFor(spark: SparkSession, dir: String, queryText: String,
                   queryVecId: Long, listLen: Int = RrfListLen,
                   out: Int = RrfOut): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    val vec = Bridge.fork(spark) {
      VectorOps.topKOf(VectorOps.embWithNorm(spark, dir), queryVecId, listLen, "cos")
        .select(col("neighbor_id"), col("rk")).collect()
    }
    val bm = try bm25TopFor(spark, dir, queryText, listLen).select(col("doc_id"), col("rk"))
      .collect()
    catch { case scala.util.control.NonFatal(e) =>
      scala.util.Try(Bridge.await(vec)).failed.foreach(e.addSuppressed)
      throw e
    }
    val fused = (Bridge.await(vec) ++ bm)
      .groupMapReduce(_.getLong(0))(r => 1.0 / (RrfK.toDouble + r.getLong(1).toDouble))(_ + _)
      .toSeq.sortBy { case (id, s) => (-s, id) }.take(out)
    val rows = fused.zipWithIndex.map { case ((id, s), i) =>
      Row(i + 1L, id, BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      org.apache.spark.sql.types.StructType.fromDDL("rk BIGINT NOT NULL, id BIGINT, rrf_score DOUBLE"))
  }

  val EvalK = 5
  val NGold = 50

  /** Gold set: for each query vector (vec_id 0..49), expected_id = the
    * smallest other vec_id with the same label — a deterministic,
    * SQL-expressible stand-in for the reference's (question, expected_id)
    * upload (eval_api.py:206-263).
    */
  // session-cached (r15): the gold set is an eval FIXTURE (the stand-in
  // for the reference's uploaded gold file) consumed by four eval
  // operators × both retriever arms — [[NGold]] rows, rebuilt via a
  // corpus self-join per call before. Inputs are cached, never
  // retrieval results.
  private def gold(spark: SparkSession, dir: String): DataFrame =
    graft.Artifacts.table(spark, "gold", dir, "embeddings") {
      val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("label"))
      e.filter(col("vec_id").between(0, NGold - 1)).as("q")
        .join(e.as("o"),
          col("o.label") === col("q.label") && col("o.vec_id") =!= col("q.vec_id"))
        .groupBy(col("q.vec_id").as("q_id"))
        .agg(min(col("o.vec_id")).as("expected_id"))
    }

  /** Rank of each gold question's expected id inside a retriever's result
    * list. General library surface: `gold` is any (q_id, expected_id)
    * frame (the reference's uploaded gold set), `retrieved` any
    * (q_id, neighbor_id, rk) frame. Broadcast-friendly left join — gold is
    * tiny by construction.
    */
  def goldRanksFor(gold: DataFrame, retrieved: DataFrame): DataFrame =
    gold.as("g")
      .join(retrieved.as("h"),
        col("h.q_id") === col("g.q_id") && col("h.neighbor_id") === col("g.expected_id"),
        "left")
      .select(col("g.q_id").as("q_id"), col("g.expected_id").as("expected_id"),
        col("h.rk").as("rank"))

  /** Gold-set file ingest (reference `eval_api.py:291` `_load_gold`: gold
    * sets arrive as uploaded CSV/JSON/XLSX files): any Readers-supported
    * format with `q_id` and `expected_id` columns; extra columns are
    * ignored, ids coerced to long. Feeds [[goldRanksFor]]/[[evalMetrics]].
    */
  def goldFromFile(spark: SparkSession, path: String, format: String): DataFrame =
    graft.sources.Readers.read(spark, path, format)
      .select(col("q_id").cast("long").as("q_id"),
        col("expected_id").cast("long").as("expected_id"))

  /** Full file-driven eval: uploaded gold vs any (q_id, neighbor_id, rk)
    * retrieval frame — the reference's eval-upload endpoint as one call.
    */
  def evalFromFile(spark: SparkSession, path: String, format: String,
                   retrieved: DataFrame, k: Int = EvalK): DataFrame =
    evalMetrics(goldRanksFor(goldFromFile(spark, path, format), retrieved), k)

  /** Per-question eval detail (reference `eval_api.py:211-263 _eval_once`
    * with `include_hits`): each gold question's found/rank verdict joined
    * with its top-`show` hits, enriched with a 180-char preview from a
    * `(neighbor_id, text)` docs frame — the reference's
    * `_preview_from_docs` slice. One row per (question, hit); questions
    * whose retriever returned nothing still emit one row (null hit).
    * Gold and the hit lists are tiny; the docs join broadcasts them.
    */
  def evalHits(gold: DataFrame, retrieved: DataFrame, docs: DataFrame,
               k: Int = EvalK, show: Int = 3): DataFrame = {
    val ranks = goldRanksFor(gold, retrieved.filter(col("rk") <= k))
      .select(col("q_id"), col("expected_id"),
        col("rank").isNotNull.as("found"), col("rank"))
    val preview = when(length(col("text")) > 180,
        concat(substring(col("text"), 1, 180), lit("…")))
      .otherwise(col("text"))
    val hits = retrieved.filter(col("rk") <= math.min(show, k))
      .select(col("q_id"), col("rk"), col("neighbor_id"), col("score"))
    val withPreview = docs
      .select(col("neighbor_id"), preview.as("preview"))
      .join(broadcast(hits), Seq("neighbor_id"))
    ranks.join(withPreview, Seq("q_id"), "left")
      .select(col("q_id"), col("expected_id"), col("found"), col("rank"),
        col("rk"), col("neighbor_id"), col("score"), col("preview"))
  }

  /** recall@k / MRR / binary NDCG over a (q_id, expected_id, rank|null)
    * frame — the reference's metric block (eval_api.py:206-263) as one
    * aggregation.
    */
  def evalMetrics(ranks: DataFrame, k: Int): DataFrame =
    ranks.agg(
        count(lit(1)).as("total"),
        round(sum(when(col("rank").isNotNull, 1).otherwise(0)).cast("double") /
          count(lit(1)).cast("double"), 6).as("recall_at_k"),
        round(sum(when(col("rank").isNotNull,
            lit(1.0) / col("rank").cast("double")).otherwise(0.0)) /
          count(lit(1)).cast("double"), 6).as("mrr"),
        round(sum(when(col("rank").isNotNull,
            lit(1.0) / log2(col("rank").cast("double") + 1.0)).otherwise(0.0)) /
          count(lit(1)).cast("double"), 6).as("ndcg"))
      .withColumn("k", lit(k.toLong))
      .select(col("k"), col("total"), col("recall_at_k"), col("mrr"), col("ndcg"))

  private def goldRanks(spark: SparkSession, dir: String, metric: String): DataFrame = {
    val e = VectorOps.embWithNorm(spark, dir)
    val hits = VectorOps.topK(e, e.filter(col("vec_id").between(0, NGold - 1)), EvalK, metric)
    goldRanksFor(gold(spark, dir), hits)
  }

  /** SURVEY §2 `eval_recall`: recall@k + MRR + binary-relevance NDCG of the
    * cosine retriever vs the gold set. With a single relevant id per query
    * the per-query NDCG reduces to 1/log2(rank+1) (ideal DCG = 1), matching
    * sklearn's binary ndcg_score as the reference uses it.
    */
  def evalRecall(spark: SparkSession, dir: String): DataFrame =
    evalMetrics(goldRanks(spark, dir, "cos"), EvalK)

  /** SURVEY §2 `eval_compare`: left (cosine) vs right (inner-product)
    * retriever on the same gold set; per-question rank delta with the
    * reference's ±999 hit/miss sentinels (eval_api.py:297-375), rolled up
    * to regression/improvement/changed counts.
    */
  def evalCompare(spark: SparkSession, dir: String): DataFrame = {
    val l = goldRanks(spark, dir, "cos")
      .select(col("q_id"), col("rank").as("left_rank"))
    val r = goldRanks(spark, dir, "dot")
      .select(col("q_id"), col("rank").as("right_rank"))
    val joined = l.join(r, Seq("q_id"))
      .withColumn("delta",
        when(col("left_rank").isNull && col("right_rank").isNull, lit(null).cast("long"))
          .when(col("left_rank").isNull, lit(-999L))
          .when(col("right_rank").isNull, lit(999L))
          .otherwise((col("right_rank") - col("left_rank")).cast("long")))
    joined.agg(
      count(lit(1)).as("total"),
      sum(when(col("left_rank").isNotNull, 1).otherwise(0)).cast("long").as("left_found"),
      sum(when(col("right_rank").isNotNull, 1).otherwise(0)).cast("long").as("right_found"),
      sum(when(col("delta") > 0, 1).otherwise(0)).cast("long").as("regressions_count"),
      sum(when(col("delta") < 0, 1).otherwise(0)).cast("long").as("improvements_count"),
      sum(when(col("delta").isNotNull && col("delta") =!= 0, 1).otherwise(0)).cast("long")
        .as("changed_count"))
      .withColumn("k", lit(EvalK.toLong))
      .select(col("k"), col("total"), col("left_found"), col("right_found"),
        col("regressions_count"), col("improvements_count"), col("changed_count"))
  }
}
