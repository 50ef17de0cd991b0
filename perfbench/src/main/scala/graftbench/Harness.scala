package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed user operation. Checks run after the timed window and mark
  * the op failed with a reason; an op that threw is failed at once.
  */
final class Op(val id: String, val kind: String, val ms: Double, val items: Long,
               val out: Any) {
  var error: String = ""
  def ok: Boolean = error.isEmpty
  def fail(reason: String): Unit = if (error.isEmpty) error = reason
}

/** A named figure for the detail report: value, unit and sample count. */
final case class Figure(name: String, value: Double, unit: String, samples: Int,
                        better: String, extra: Map[String, Any] = Map.empty)

final class Ctx(val spark: SparkSession, val work: Path, val seed: Long) {
  def dir(name: String): Path = {
    val p = work.resolve(name); Files.createDirectories(p); p
  }
}

/** A workload: fixtures, a timed closed loop with one client, output
  * checks, and a staged (traced) form of its own flow.
  */
trait Workload {
  def name: String
  /** How many times set-up runs; setup_s reports the median. */
  def setupReps: Int = 3
  /** Build inputs and fixtures. Rep `rep` writes under its own directory;
    * the last rep's fixtures are the ones measured.
    */
  def setup(rep: Int): Unit
  /** Untimed warm-up on inputs of a different seed, same shape. */
  def warmup(): Unit
  /** Run ops until `deadline` (nanoTime) or `maxOps`; whole op groups only. */
  def window(deadline: Long, maxOps: Int): Seq[Op]
  /** Check every op's output outside the timed window. */
  def check(ops: Seq[Op]): Unit
  /** Weight of each op kind in the typical op latency: its share of ops. */
  def kindWeights: Map[String, Double]
  /** Items of work per second of the window: the throughput figure. */
  def itemsPerS(ops: Seq[Op], wallS: Double): Double
  def figures(ops: Seq[Op], wallS: Double): Seq[Figure]
  def fingerprint: Map[String, Any]
  /** Ops of one untraced pass in trace mode, staged below one-to-one. */
  def tracedOps: Int
  /** The staged form of the ops `window(_, tracedOps)` ran, under `tr`. */
  def staged(tr: Tracer, ops: Seq[Op]): Unit
  /** Staged calls of the layers this workload's own flow does not reach,
    * on this workload's inputs, so every per-layer figure is measured.
    */
  def aux(tr: Tracer): Unit
}

object Stats {
  def mean(xs: Seq[Double]): Double = xs.sum / xs.length
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.length
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else s(math.min(s.length - 1, math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1)))
  }
  /** Typical op latency: the weighted geometric mean of each op kind's
    * median, so a change to any kind moves it in proportion to its weight.
    */
  def typical(ops: Seq[Op], weights: Map[String, Double]): Double = {
    val byKind = weights.toSeq.flatMap { case (k, w) =>
      val xs = ops.filter(_.kind == k).map(_.ms)
      if (xs.isEmpty) None else Some((w, median(xs)))
    }
    math.exp(byKind.map { case (w, m) => w * math.log(m) }.sum / byKind.map(_._1).sum)
  }

  /** The highest whole percentile with at least ten samples beyond it. */
  def tailPct(n: Int): Option[Int] =
    (99 to 50 by -1).find(p => n - math.ceil(p / 100.0 * n).toInt >= 10)

  def latency(name: String, xs: Seq[Double]): Seq[Figure] = {
    val p50 = Figure(s"${name}_p50_ms", median(xs), "ms", xs.length, "lower")
    p50 +: tailPct(xs.length).toSeq.map(p =>
      Figure(s"${name}_tail_ms", pct(xs, p), "ms", xs.length, "lower", Map("pct" -> p)))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case m: Map[_, _] => m.toSeq.map { case (k, x) => str(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(apply).mkString("[", ",", "]")
    case o: Option[_] => o.fold("null")(apply)
    case other => str(other.toString)
  }
}

object Main {

  val Cpus: Int = Runtime.getRuntime.availableProcessors()

  /** The session configuration graft.Bench uses. */
  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "2m")
      .config("spark.sql.files.openCostInBytes", "64k")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def timedMs[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e6)
  }

  /** Peak resident set of this JVM (VmHWM), MB. */
  def peakRssMb: Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def host(spark: SparkSession): Map[String, Any] = {
    import scala.jdk.CollectionConverters._
    val mem = scala.util.Try(Files.readAllLines(Paths.get("/proc/meminfo")).asScala
      .find(_.startsWith("MemTotal:")).map(_.replaceAll("[^0-9]", "").toLong / 1024)
      .getOrElse(-1L)).getOrElse(-1L)
    val session = Seq("spark.master", "spark.sql.shuffle.partitions",
      "spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes",
      "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.session.timeZone",
      "spark.ui.enabled").map(k => k -> spark.conf.get(k, "")).toMap
    Map("nproc" -> Cpus, "mem_total_mb" -> mem,
      "jdk" -> System.getProperty("java.vm.version"),
      "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
      "session" -> session)
  }

  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** Spark-written parquet of `docs` (`doc_id`, `text`, `lang`, `source`,
    * `n_chars`: the documents schema of the test corpora).
    */
  def writeDocsParquet(spark: SparkSession, ds: Seq[Gen.Doc], path: Path): Unit = {
    import spark.implicits._
    ds.map(d => (d.id, d.text, d.lang, s"src${d.id % 20}", d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(Cpus).sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(path.toString)
  }

  def main(args: Array[String]): Unit = {
    def arg(k: String): String = {
      val i = args.indexOf(k)
      require(i >= 0 && i + 1 < args.length, s"missing $k")
      args(i + 1)
    }
    val workload = arg("--workload")
    val seed = arg("--seed").toLong
    val seconds = arg("--seconds").toDouble
    val trace = arg("--trace") == "1"
    val work = Paths.get(arg("--work")).toAbsolutePath
    val out = Paths.get(arg("--out"))
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = session(work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val ctx = new Ctx(spark, work, seed)
    val w: Workload = workload match {
      case "index_build" => new IndexBuild(ctx)
      case "serve_topk" => new ServeTopk(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }

    val reps = (0 until w.setupReps).map(r => timedMs(w.setup(r))._2 / 1e3)
    val warmS = timedMs(w.warmup())._2 / 1e3
    val setupS = sessionS + Stats.median(reps) + warmS
    System.err.println(f"[perfbench] $workload seed=$seed session=$sessionS%.2fs " +
      s"setup reps=${reps.map(r => f"$r%.2f").mkString(",")}s " + f"warmup=$warmS%.2fs")

    val result: Map[String, Any] =
      if (!trace) untraced(w, seconds, setupS)
      else traced(ctx, w)
    val body = Json(result ++ Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "fingerprint" -> w.fingerprint, "host" -> host(spark),
      "setup" -> Map("session_s" -> sessionS, "reps_s" -> reps, "warmup_s" -> warmS)))
    Files.write(out, body.getBytes("UTF-8"))
    spark.stop()
  }

  private def untraced(w: Workload, seconds: Double, setupS: Double): Map[String, Any] = {
    val gc0 = Gc.seconds
    val t0 = System.nanoTime()
    val ops = w.window(t0 + (seconds * 1e9).toLong, Int.MaxValue)
    val wallS = (System.nanoTime() - t0) / 1e9
    val gcS = Gc.seconds - gc0
    val rss = peakRssMb
    val (_, checkMs) = timedMs(w.check(ops))
    System.err.println(f"[perfbench] window ${wallS}%.2fs (${ops.length} ops), checks ${checkMs / 1e3}%.2fs")
    val failed = ops.filterNot(_.ok)
    val figures = Seq(
      Figure("setup_s", setupS, "s", 1, "lower"),
      Figure("peak_rss_mb", rss, "MB", 1, "lower"),
      Figure("ok_share", ops.count(_.ok).toDouble / ops.length, "ratio", ops.length, "higher"),
      Figure("error_share", failed.length.toDouble / ops.length, "ratio", ops.length, "lower"),
      Figure("items_per_s", w.itemsPerS(ops, wallS), "1/s", ops.length, "higher"),
      Figure("op_latency_ms", Stats.typical(ops, w.kindWeights), "ms", ops.length, "lower"),
      Figure("window_gc_s", gcS, "s", 1, "lower")
    ) ++ w.figures(ops, wallS)
    Map("attempted" -> ops.length, "failed" -> failed.length, "window_s" -> wallS,
      "figures" -> figures.map(fig),
      "ops" -> ops.map(o => Map("id" -> o.id, "kind" -> o.kind, "ms" -> o.ms, "ok" -> o.ok)),
      "failures" -> failed.map(o => Map("op" -> o.id, "kind" -> o.kind, "reason" -> o.error)))
  }

  def fig(f: Figure): Map[String, Any] =
    Map("name" -> f.name, "value" -> f.value, "unit" -> f.unit, "samples" -> f.samples,
      "better" -> f.better) ++ f.extra

  /** Trace mode: one untraced pass of `tracedOps` ops, then the same ops
    * staged layer by layer under the tracer, then the auxiliary layers.
    */
  private def traced(ctx: Ctx, w: Workload): Map[String, Any] = {
    val t0 = System.nanoTime()
    val ops = w.window(Long.MaxValue, w.tracedOps)
    val untracedS = (System.nanoTime() - t0) / 1e9
    w.check(ops)
    val tr = new Tracer(ctx.spark)
    val gc0 = Gc.seconds
    val t1 = System.nanoTime()
    w.staged(tr, ops)
    val tracedS = (System.nanoTime() - t1) / 1e9
    val gcS = Gc.seconds - gc0
    w.aux(tr)
    tr.drain()
    tr.close()
    val layers = Layers.metrics(tr, untracedS, tracedS, gcS)
    val failed = ops.filterNot(_.ok)
    Map("attempted" -> ops.length, "failed" -> failed.length,
      "untraced_s" -> untracedS, "traced_s" -> tracedS,
      "per_layer" -> layers,
      "spans" -> Layers.spanTree(tr),
      "failures" -> failed.map(o => Map("op" -> o.id, "kind" -> o.kind, "reason" -> o.error)))
  }
}
