package graftbench

/** Per-layer figures of a traced run, named `<module>.<metric>`. Each is
  * taken from the workload's own flow when that flow reaches the layer,
  * else from the auxiliary calls on the same inputs.
  */
object Layers {

  /** Span name → (metric, how spans combine): "sum" gives total self time
    * in seconds, "median" the median self time of one call in ms.
    */
  val Timed: Seq[(String, String, String)] = Seq(
    ("sources.read", "sources.read_s", "sum"),
    ("chunking.chunk", "chunking.chunk_s", "sum"),
    ("embedder.embed", "embedder.embed_s", "sum"),
    ("ivf_model.fit", "ivf_model.fit_s", "sum"),
    ("vector_ops.assign", "vector_ops.assign_s", "sum"),
    ("index_store.write", "index_store.write_s", "sum"),
    ("index_store.append", "index_store.append_s", "sum"),
    ("index_store.manifest", "index_store.manifest_ms", "median"),
    ("index_store.load_serving_cold", "index_store.load_serving_cold_ms", "median"),
    ("index_store.load_serving_warm", "index_store.load_serving_warm_ms", "median"),
    ("index_store.load_centroids_cold", "index_store.load_centroids_cold_ms", "median"),
    ("index_store.load_centroids_warm", "index_store.load_centroids_warm_ms", "median"),
    ("index_pipeline.search_plan", "index_pipeline.search_plan_ms", "median"),
    ("index_pipeline.search_exec", "index_pipeline.search_exec_ms", "median"),
    ("search.bm25", "search.bm25_ms", "median"),
    ("search.cosine_topk", "search.cosine_topk_ms", "median"),
    ("text_ops.quality", "text_ops.quality_s", "sum"),
    ("text_ops.langid", "text_ops.langid_s", "sum"),
    ("dedup.edges", "dedup.edges_s", "sum"),
    ("dedup.clusters", "dedup.clusters_s", "sum"),
    ("curation.pack", "curation.pack_s", "sum"),
    ("curation.report", "curation.report_s", "sum"))

  val Counts: Seq[(String, String)] = Seq(
    "sources.rows" -> "count", "chunking.chunks" -> "count",
    "embedder.vectors" -> "count", "ivf_model.nlist" -> "count",
    "index_store.bytes_written" -> "bytes", "index_store.files_written" -> "count",
    "dedup.edges" -> "count")

  /** Spans that are not a layer's call: op roots and input materialization. */
  def isLayer(name: String): Boolean = !name.startsWith("op.") && name != "materialize"

  def metrics(tr: Tracer, untracedS: Double, tracedS: Double, gcS: Double)
      : Map[String, Map[String, Any]] = {
    val spans = tr.all
    val self = tr.selfMs
    def pick(name: String): Seq[Span] = {
      val mine = spans.filter(s => s.name == name && s.own)
      if (mine.nonEmpty) mine else spans.filter(_.name == name)
    }
    def v(x: Double, unit: String) = Map[String, Any]("value" -> x, "unit" -> unit)
    val timed = Timed.map { case (span, metric, how) =>
      val xs = pick(span).map(s => self(s.id))
      metric -> (if (how == "sum") v(xs.sum / 1e3, "s") else v(Stats.median(xs), "ms"))
    }
    // the fusion remainder of each hybrid call: total minus its two lists
    val hybrid = pick("search.hybrid")
    val fuse = hybrid.flatMap { h =>
      val parts = spans.filter(p => p.op == h.op + ".parts").map(p => p.name -> self(p.id)).toMap
      for (b <- parts.get("search.bm25"); c <- parts.get("search.cosine_topk"))
        yield self(h.id) - b - c
    }
    val counts = Counts.map { case (name, unit) =>
      name -> v(tr.gauges.getOrElse((name, true),
        tr.gauges.getOrElse((name, false), Double.NaN)), unit)
    }

    val ownOps = spans.filter(_.own).map(_.op).distinct
    val cs = ownOps.flatMap(o => Option(tr.counters.get(o)))
    val n = ownOps.length.max(1).toDouble
    val searchOps = {
      val mine = tr.artifactRows.keys.filter(ownOps.contains).toSeq
      if (mine.nonEmpty) mine else tr.artifactRows.keys.toSeq
    }
    val scanned = searchOps.flatMap(o => Option(tr.counters.get(o))).map(_.rowsRead).sum
    val artifact = searchOps.map(tr.artifactRows).sum
    val skew = cs.flatMap(_.stageTaskMs.values).filter(_.length >= 2).map { ts =>
      ts.max.toDouble / math.max(1.0, Stats.median(ts.map(_.toDouble).toSeq))
    }
    val selfLayers = spans.filter(s => s.own && isLayer(s.name)).map(s => self(s.id)).sum / 1e3
    val spark = Seq(
      "spark.jobs_per_op" -> v(cs.map(_.jobs).sum / n, "count"),
      "spark.tasks_per_op" -> v(cs.map(_.tasks).sum / n, "count"),
      "spark.rows_scanned_per_op" -> v(cs.map(_.rowsRead).sum / n, "rows"),
      "spark.scan_fraction" -> v(if (artifact == 0) Double.NaN else scanned.toDouble / artifact,
        "ratio"),
      "spark.shuffle_write_bytes" -> v(cs.map(_.shuffleWriteBytes).sum.toDouble, "bytes"),
      "spark.spill_bytes" -> v(cs.map(_.spillBytes).sum.toDouble, "bytes"),
      "spark.task_skew" -> v(if (skew.isEmpty) 1.0 else skew.max, "ratio"),
      "spark.cpu_util" -> v(cs.map(_.taskTimeMs).sum / (tracedS * 1e3 * Main.Cpus), "ratio"),
      "jvm.gc_s" -> v(gcS, "s"),
      "trace.coverage" -> v(selfLayers / untracedS, "ratio"),
      "trace.overhead_s" -> v(tracedS - untracedS, "s"))
    (timed ++ Seq("search.rrf_fuse_ms" -> v(Stats.median(fuse), "ms")) ++ counts ++ spark).toMap
  }

  /** Every span with its parent, op, start offset, duration and self time. */
  def spanTree(tr: Tracer): Seq[Map[String, Any]] = {
    val spans = tr.all
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val self = tr.selfMs
    spans.map(s => Map[String, Any]("id" -> s.id, "name" -> s.name, "op" -> s.op,
      "parent" -> s.parent, "own" -> s.own, "start_ms" -> (s.startNs - t0) / 1e6,
      "ms" -> s.ms, "self_ms" -> self(s.id)))
  }
}
