package graftbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Embedder, Encoders}
import graft.index.IndexStore
import graft.operators.{Dedup, IvfModel, Search, TextOps, VectorOps}
import graft.pipeline.{CurationPipeline, IndexPipeline}
import graft.sources.{Readers, Tables}

/** The public calls each workload makes, in both forms: as one user op
  * (timed from outside) and staged layer by layer under a [[Tracer]], each
  * layer's call timed with its input materialized first.
  */
object Families {

  val K = 10

  def adaptiveNlist(chunks: Long): Int =
    math.max(VectorOps.NumCells, math.min(VectorOps.MaxCells,
      ((chunks + VectorOps.TargetCellSize - 1) / VectorOps.TargetCellSize).toInt))

  def cfg(name: String, backend: String, nlist: Int): IndexPipeline.Config =
    IndexPipeline.Config(name, backend = backend, nlist = nlist)

  def checkpoint(df: DataFrame): DataFrame = df.localCheckpoint(true)

  def docsFrame(spark: SparkSession, ds: Seq[Gen.Doc]): DataFrame = {
    import spark.implicits._
    ds.map(d => (d.id, d.text)).toDF("doc_id", "text")
  }

  /** A corpus dir the lexical and hybrid search calls read:
    * `documents.parquet` plus `embeddings.parquet` (`vec_id` = `doc_id`,
    * a seeded 64-d vector, `label` = language index).
    */
  def writeCorpusDir(spark: SparkSession, ds: Seq[Gen.Doc], dir: Path, seed: Long): Unit = {
    import spark.implicits._
    Main.writeDocsParquet(spark, ds, dir.resolve("documents.parquet"))
    val langs = Gen.Stopwords.keys.toVector.sorted
    ds.map(d => (d.id, Gen.embedding(seed, d.id), langs.indexOf(d.lang)))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(dir.resolve("embeddings.parquet").toString)
  }

  // ---- index family ------------------------------------------------------

  /** Staged build: read → chunk → embed → fit → assign, then the store
    * write of the pre-embedded vectors as a flat artifact `name`.
    */
  def stagedBuild(tr: Tracer, spark: SparkSession, path: String, format: String,
                  root: String, name: String, nlist: Int, opId: String,
                  own: Boolean): Unit = {
    val c = cfg(name, "flat", nlist)
    val (docs, chunks, vecs, cents) = tr.op(opId, own) {
      tr.span("op.build") {
        tr.span("sources.read") { Main.noop(Readers.read(spark, path, format)) }
        val docs = tr.span("materialize") {
          checkpoint(Readers.read(spark, path, format).select(col("doc_id"), col("text")))
        }
        val chunks = tr.span("chunking.chunk") { checkpoint(IndexPipeline.chunked(docs, c)) }
        val vecs = tr.span("embedder.embed") {
          checkpoint(Embedder.embed(chunks, c.dim, c.normalize, Encoders.get(c.model))
            .toDF().select(col("id"), col("vec")))
        }
        val cents = tr.span("ivf_model.fit") { IvfModel.fitFromDf(vecs, "id", "vec", nlist) }
        tr.span("vector_ops.assign") {
          checkpoint(VectorOps.assignCells(vecs.select(col("id"), col("vec").as("embedding")), cents))
        }
        tr.span("index_store.write") {
          IndexStore.build(vecs, root, name, "flat", params = c.params,
            model = c.model, normalize = c.normalize, docs = Some(chunks))
        }
        (docs, chunks, vecs, cents)
      }
    }
    tr.gauge("sources.rows", docs.count().toDouble, own)
    tr.gauge("chunking.chunks", chunks.count().toDouble, own)
    tr.gauge("embedder.vectors", vecs.count().toDouble, own)
    tr.gauge("ivf_model.nlist", cents.length.toDouble, own)
    val files = listFiles(java.nio.file.Paths.get(root, name))
    tr.gauge("index_store.files_written", files.length.toDouble, own)
    tr.gauge("index_store.bytes_written", files.map(java.nio.file.Files.size(_)).sum.toDouble, own)
  }

  def listFiles(p: Path): Seq[Path] = {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.walk(p)
    try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).toVector
    finally s.close()
  }

  /** Staged append: embed the delta, then append the pre-embedded vectors. */
  def stagedAppend(tr: Tracer, spark: SparkSession, delta: Seq[Gen.Doc], root: String,
                   name: String, opId: String, own: Boolean): Unit = tr.op(opId, own) {
    tr.span("op.append") {
      val docs = tr.span("materialize") { checkpoint(docsFrame(spark, delta)) }
      val vecs = tr.span("embedder.embed") {
        checkpoint(IndexPipeline.vectorize(docs, IndexPipeline.Config(name)))
      }
      tr.span("index_store.append") { IndexStore.append(vecs, root, name) }
    }
  }

  /** Staged search: manifest, serving loads (cold right after a write,
    * warm otherwise), then `IndexPipeline.search` planning and execution.
    */
  def stagedSearch(tr: Tracer, spark: SparkSession, root: String, name: String,
                   query: String, cold: Boolean, opId: String, own: Boolean): Unit =
    tr.op(opId, own) {
      tr.span("op.search") {
        val tag = if (cold) "cold" else "warm"
        val mj = tr.span("index_store.manifest") { IndexStore.manifestJson(root, name) }
        tr.span(s"index_store.load_serving_$tag") {
          IndexStore.loadServing(spark, root, name, None, Some(mj))
        }
        if (!mj.contains("\"flat\"")) tr.span(s"index_store.load_centroids_$tag") {
          IndexStore.loadCentroids(spark, root, name, None, Some(mj))
        }
        val df = tr.span("index_pipeline.search_plan") {
          IndexPipeline.search(spark, root, name, query, K)
        }
        tr.span("index_pipeline.search_exec") { df.collect() }
        tr.searched(opId, IndexStore.manifest(root, name).count)
      }
    }

  /** An auxiliary append of `delta`, then a search right after the write. */
  def auxAppendSearch(tr: Tracer, spark: SparkSession, root: String, name: String,
                      delta: Seq[Gen.Doc]): Unit = {
    stagedAppend(tr, spark, delta, root, name, "aux.append", own = false)
    stagedSearch(tr, spark, root, name, Gen.firstChunk(delta.head.text), cold = true,
      "aux.fresh_search", own = false)
  }

  /** Repeat serving loads of an artifact whose caches are filled. */
  def warmLoads(tr: Tracer, spark: SparkSession, root: String, name: String,
                opId: String, own: Boolean, times: Int = 3): Unit = tr.op(opId, own) {
    tr.span("op.loads") {
      for (_ <- 0 until times) {
        val mj = tr.span("index_store.manifest") { IndexStore.manifestJson(root, name) }
        tr.span("index_store.load_serving_warm") {
          IndexStore.loadServing(spark, root, name, None, Some(mj))
        }
        tr.span("index_store.load_centroids_warm") {
          IndexStore.loadCentroids(spark, root, name, None, Some(mj))
        }
      }
    }
  }

  // ---- serving family ----------------------------------------------------

  /** The exact cosine top-k list [[Search.hybridRrfFor]] fuses. */
  def cosineList(spark: SparkSession, dir: String, vecId: Long): DataFrame = {
    val e = VectorOps.embWithNorm(spark, dir)
    VectorOps.topK(e, e.filter(col("vec_id") === vecId), Search.RrfListLen, "cos")
  }

  def hybrid(spark: SparkSession, dir: String, q: Gen.Query): DataFrame =
    Search.hybridRrfFor(spark, dir, q.text, q.vecId)

  /** Staged hybrid op, then its two component lists as an auxiliary op.
    * The corpus's lexical statistics are built first, untimed, as a
    * serving session's set-up does.
    */
  def stagedHybrid(tr: Tracer, spark: SparkSession, dir: String, q: Gen.Query,
                   opId: String, own: Boolean): Unit = {
    Search.prewarm(spark, dir)
    tr.op(opId, own) { tr.span("search.hybrid") { hybrid(spark, dir, q).collect() } }
    tr.op(opId + ".parts", ownFlow = false) {
      tr.span("op.hybrid_parts") {
        tr.span("search.bm25") {
          Search.bm25TopFor(spark, dir, q.text, Search.RrfListLen).collect()
        }
        tr.span("search.cosine_topk") { cosineList(spark, dir, q.vecId).collect() }
      }
    }
  }

  /** Warm ivf, flat and hybrid searches in turn, as auxiliary ops. */
  def auxSearches(tr: Tracer, spark: SparkSession, ivf: (String, String),
                  flat: (String, String), corpusDir: String, qs: Seq[Gen.Query]): Unit =
    qs.zipWithIndex.foreach { case (q, i) =>
      i % 3 match {
        case 0 => stagedSearch(tr, spark, ivf._1, ivf._2, q.text, cold = false,
          s"aux.ivf$i", own = false)
        case 1 => stagedSearch(tr, spark, flat._1, flat._2, q.text, cold = false,
          s"aux.flat$i", own = false)
        case _ => stagedHybrid(tr, spark, corpusDir, q, s"aux.hybrid$i", own = false)
      }
    }

  // ---- curation family ---------------------------------------------------

  val CurateCfg: CurationPipeline.Config = CurationPipeline.Config(applyPacking = true)

  /** One curation job as a user runs it: the report, then the packed output. */
  def curate(spark: SparkSession, dir: String): (CurationPipeline.Report, DataFrame, DataFrame) = {
    val (curated, decisions, report) = CurationPipeline.run(Tables.documents(spark, dir), CurateCfg)
    Main.noop(curated)
    (report, curated, decisions)
  }

  def stagedCurate(tr: Tracer, spark: SparkSession, dir: String, opId: String,
                   own: Boolean): Unit = tr.op(opId, own) {
    tr.span("op.curate") {
      val (curated, _, _) = tr.span("curation.report") {
        CurationPipeline.run(Tables.documents(spark, dir), CurateCfg)
      }
      tr.span("curation.pack") { Main.noop(curated) }
    }
  }

  /** The curation stages one by one on a materialized corpus. */
  def stagedCurateLayers(tr: Tracer, spark: SparkSession, dir: String,
                         opId: String): Unit = {
    val edges = tr.op(opId, ownFlow = false) {
      tr.span("op.curate_layers") {
        val docs = tr.span("materialize") {
          checkpoint(Tables.documents(spark, dir).select(col("doc_id"), col("text")))
        }
        tr.span("text_ops.quality") { checkpoint(TextOps.withQuality(docs)) }
        tr.span("text_ops.langid") { checkpoint(TextOps.withLangid(docs)) }
        val edges = tr.span("dedup.edges") { checkpoint(Dedup.verifiedComponentEdgesDf(docs)) }
        tr.span("dedup.clusters") { checkpoint(Dedup.clustersFromPairs(edges)) }
        edges
      }
    }
    tr.gauge("dedup.edges", edges.count().toDouble, ownFlow = false)
  }
}
