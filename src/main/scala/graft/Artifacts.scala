package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}

/** The session artifact store: every per-snapshot artifact a session
  * reuses across queries — checkpointed derived frames (verbatim groups,
  * shingle, pair and cluster tables, IVF assignments, BM25 statistics,
  * served vectors), driver-side fits and constants, and the serving scans
  * and model sidecars of built indexes.
  *
  * An entry is keyed by (session, kind, name) and remembers the snapshot
  * VERSION it was built from. A lookup whose current version differs
  * rebuilds and replaces the entry, so a table rewritten in place is never
  * served from its old snapshot. Both come from what the caller already
  * has, so a warm lookup starts no Spark job:
  *  - [[frame]]: name = SHA-256 of the input's canonicalized analyzed plan
  *    plus its leaves (file roots, literal rows, RDD ids — the plan string
  *    alone prints neither paths nor rows); version = (path, size, mtime)
  *    of the files its file index has already listed;
  *  - [[files]]: name = a qualified path (a corpus table
  *    `dir/<table>.parquet` through [[table]], an index model sidecar);
  *    version = one FileSystem listing of it (never `spark.read`, which
  *    would run a schema-inference job);
  *  - [[manifested]]: name = an index artifact path; version = the
  *    manifest text.
  * A miss re-reads the version after the build and caches nothing if the
  * snapshot changed meanwhile.
  *
  * Bounds: a session keeps at most `cap` entries of a kind, least recently
  * used dropped first, and driver values (fits, sidecars, constants) share
  * [[MaxDriverBytes]] across sessions. A dropped frame is only
  * dereferenced — a consumer may still read it, and the ContextCleaner
  * reclaims its blocks once none does. [[invalidate]] is the one explicit
  * hook: it drops a session's entries, unpersists their checkpoint blocks
  * and deletes the session's scratch root; the context's application end
  * drops them too.
  *
  * Builds run outside the lock, so one build may look up another (the
  * vocabulary reads the per-doc maps); two concurrent misses of one key
  * both build and the later insert wins.
  */
object Artifacts {

  /** How cached frames are materialized: `local` (default) =
    * `localCheckpoint(true)` — fastest, but the blocks live in executor
    * memory with truncated lineage, so on a real cluster they die with
    * their executor. `parquet` = write and re-read a scratch table under
    * the session's root in [[ScratchDirKey]] (default: java tmpdir) —
    * survives executor loss; the 100 TB setting.
    */
  val MaterializeKey = "spark.graft.search.materialize"
  val ScratchDirKey = "spark.graft.search.scratchDir"

  /** Default per-session entry cap of a frame kind: a pipeline runs a
    * family over one corpus snapshot at a time, and 4 leaves headroom for
    * filtered views without letting a snapshot-per-query caller grow.
    */
  val MaxPerSession = 4

  /** Byte ceiling of the driver values held across all sessions. At
    * MaxCells = 65536 and a 768-dim embedding one centroid array is
    * ~400 MB, so an entry count alone could pin GBs of driver heap.
    */
  val MaxDriverBytes: Long = 256L << 20

  private type Key = (SparkSession, String, String)
  private final case class Entry(version: String, value: Any, bytes: Long)

  // access-ordered: iteration runs least recently used first
  private val entries = new java.util.LinkedHashMap[Key, Entry](16, 0.75f, true)
  private var heldBytes = 0L
  // per session: its scratch id and the roots its parquet entries went to
  private val scratch = scala.collection.mutable.Map.empty[SparkSession, (String, Set[String])]
  private val listening = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkContext, java.lang.Boolean]())

  /** The materialized `build` for `input`'s snapshot (see the object doc). */
  private[graft] def frame(kind: String, input: DataFrame, cap: Int = MaxPerSession)(
      build: => DataFrame): DataFrame = {
    val (name, version) = frameIdentity(input)
    cached(input.sparkSession, kind, name, version, cap, _ => true)(
      materialize(input.sparkSession, build, kind))
  }

  /** The `build` derived from the table `dir/<name>.parquet` (a frame is
    * materialized); `variant` tells apart artifacts of one table and kind,
    * such as fits with different k.
    */
  private[graft] def table[A](spark: SparkSession, kind: String, dir: String,
      name: String, variant: String = "")(build: => A): A =
    files(spark, kind, s"$dir/$name.parquet", variant)(build)

  /** The `build` derived from the files at `path` (a file, or a directory
    * listed one level deep), at most `cap` entries of `kind` per session.
    */
  private[graft] def files[A](spark: SparkSession, kind: String, path: String,
      variant: String = "", cap: Int = Int.MaxValue)(build: => A): A = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualified = fs.makeQualified(p)
    def listing(): String =
      try listed(fs.listStatus(qualified).toSeq)
      catch { case _: java.io.FileNotFoundException => "" } // the build reports it
    cached(spark, kind, s"$qualified\u0000$variant", listing(), cap, _ == listing()) {
      build match {
        case df: Dataset[_] => materialize(spark, df.toDF(), kind).asInstanceOf[A]
        case v => v
      }
    }
  }

  /** The `build` of the index artifact at `path` as of manifest text
    * `manifest`; `current` re-reads the manifest. Not materialized: the
    * artifact is already durable files.
    */
  private[graft] def manifested[A](spark: SparkSession, kind: String, path: String,
      manifest: String, cap: Int, current: => Option[String])(build: => A): A =
    cached(spark, kind, path, manifest, cap, v => current.contains(v))(build)

  private def cached[A](spark: SparkSession, kind: String, name: String,
      version: String, cap: Int, unchanged: String => Boolean)(build: => A): A = {
    val key = (spark, kind, name)
    synchronized(Option(entries.get(key))) match {
      case Some(e) if e.version == version => e.value.asInstanceOf[A]
      case _ =>
        val value = build
        if (unchanged(version)) {
          track(spark.sparkContext)
          put(key, Entry(version, value, driverBytes(value)), cap)
        }
        value
    }
  }

  private def put(key: Key, e: Entry, cap: Int): Unit = synchronized {
    Option(entries.put(key, e)).foreach(old => heldBytes -= old.bytes)
    heldBytes += e.bytes
    val sameKind = entries.keySet.iterator.asScala
      .filter(k => (k._1 eq key._1) && k._2 == key._2).toVector
    sameKind.take(sameKind.size - cap).foreach(k => heldBytes -= entries.remove(k).bytes)
    // never the entry just inserted: one over-budget value stays alone
    val it = entries.entrySet.iterator
    while (heldBytes > MaxDriverBytes && it.hasNext) {
      val x = it.next()
      if (x.getValue.bytes > 0 && x.getKey != key) { heldBytes -= x.getValue.bytes; it.remove() }
    }
  }

  /** Driver-heap cost of a cached value; frames hold executor blocks only. */
  private[graft] def driverBytes(v: Any): Long = v match {
    case _: Dataset[_] => 0L
    case a: Array[Double] => 16L + 8L * a.length
    case a: Array[AnyRef] => 16L + a.iterator.map(x => 8L + driverBytes(x)).sum
    case p: Product => p.productIterator.map(driverBytes).sum
    case _ => 16L
  }

  /** Drop every entry of `spark`, eagerly unpersist their checkpoint
    * blocks and delete the session's scratch root, evicted entries' data
    * included. Only call when no consumer still holds a lazy frame derived
    * from them: a local checkpoint cannot be recomputed after unpersist.
    */
  def invalidate(spark: SparkSession): Unit = drop(spark, unpersist = true)

  /** Entries held for `spark`, of `kinds` or of every kind (spec hook). */
  private[graft] def entryCount(spark: SparkSession, kinds: String*): Int = synchronized {
    entries.keySet.iterator.asScala.count(k =>
      (k._1 eq spark) && (kinds.isEmpty || kinds.contains(k._2)))
  }

  private def drop(spark: SparkSession, unpersist: Boolean): Unit = {
    val (values, roots) = synchronized {
      val mine = entries.keySet.iterator.asScala.filter(_._1 eq spark).toVector
      val values = mine.map { k => val e = entries.remove(k); heldBytes -= e.bytes; e.value }
      (values, scratch.remove(spark).fold(Set.empty[String])(_._2))
    }
    if (unpersist) values.foreach {
      case df: Dataset[_] => df.queryExecution.analyzed.collectLeaves().foreach {
        case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
        case _ => ()
      }
      case _ => ()
    }
    roots.foreach { r =>
      val p = new Path(r)
      scala.util.Try(p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true))
    }
  }

  /** The one app-end listener per context: a stopped context's sessions
    * keep no entries and no scratch data. Registered outside the lock: a
    * stopping context holds its bus while the listener waits for the lock.
    */
  private def track(sc: SparkContext): Unit =
    if (synchronized(listening.add(sc))) sc.addSparkListener(new SparkListener {
      override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
        Artifacts.synchronized {
          (entries.keySet.iterator.asScala.map(_._1) ++ scratch.keysIterator)
            .filter(_.sparkContext eq sc).toSet
        }.foreach(drop(_, unpersist = false))
    })

  /** `df` materialized by the session's [[MaterializeKey]] policy; a
    * parquet table goes to a fresh dir under the session's scratch root.
    */
  private[graft] def materialize(spark: SparkSession, df: DataFrame, name: String): DataFrame =
    spark.conf.getOption(MaterializeKey).getOrElse("local") match {
      case "parquet" =>
        val path = s"${scratchRoot(spark)}/$name-${java.util.UUID.randomUUID()}"
        df.write.options(NioLocalFileSystem.WriteOptions).parquet(path)
        spark.read.parquet(path)
      case _ => df.localCheckpoint(true)
    }

  private def scratchRoot(spark: SparkSession): String = {
    track(spark.sparkContext)
    val base = spark.conf.getOption(ScratchDirKey)
      .getOrElse(sys.props("java.io.tmpdir") + "/graft-scratch")
    synchronized {
      val (id, roots) =
        scratch.getOrElse(spark, (java.util.UUID.randomUUID().toString, Set.empty[String]))
      val root = s"$base/${spark.sparkContext.applicationId}/$id"
      scratch(spark) = (id, roots + root)
      root
    }
  }

  /** Digest of the (path, size, mtime) of `files`. */
  private def listed(files: Seq[FileStatus]): String = {
    val d = MessageDigest.getInstance("SHA-256")
    files.map(s => s"${s.getPath}\u0000${s.getLen}\u0000${s.getModificationTime}").sorted
      .foreach { s => d.update(s.getBytes(UTF_8)); d.update(0.toByte) }
    hex(d)
  }

  private def hex(d: MessageDigest): String = d.digest().map(b => f"$b%02x").mkString

  private def putInt(d: MessageDigest, i: Int): Unit =
    d.update(java.nio.ByteBuffer.allocate(4).putInt(i).array())

  /** (name, version) of a frame input. The name digests the FULL
    * canonicalized plan, not the 32-bit `semanticHash`: a corpus and a
    * filtered view of it must never share an entry. Canonicalization
    * normalizes expression ids and aliases, so two reads of one dir share.
    */
  private def frameIdentity(df: DataFrame): (String, String) = {
    val plan = df.queryExecution.analyzed.canonicalized
    val name = MessageDigest.getInstance("SHA-256")
    val files = Seq.newBuilder[FileStatus]
    name.update(plan.toString.getBytes(UTF_8))
    plan.collectLeaves().foreach {
      // a file leaf prints `Relation [cols] parquet`, no path: fold the
      // roots, and the listed files into the version
      case rel: LogicalRelation => rel.relation match {
        case fs: HadoopFsRelation =>
          name.update(fs.location.rootPaths.mkString(",").getBytes(UTF_8))
          fs.location match {
            case idx: PartitioningAwareFileIndex => files ++= idx.allFiles()
            case _ => ()
          }
        case other => name.update(other.toString.getBytes(UTF_8))
      }
      // a literal leaf prints its schema, not its rows: fold the full row
      // content (UnsafeRow bytes, else field-wise with null markers and
      // length prefixes, so no two row sets alias)
      case lr: LocalRelation =>
        val types = lr.output.map(_.dataType)
        putInt(name, lr.data.length)
        lr.data.foreach {
          case ur: UnsafeRow =>
            val bytes = ur.getBytes
            putInt(name, bytes.length)
            name.update(bytes)
          case other =>
            types.indices.foreach(i => foldValue(name, types(i), other.get(i, types(i))))
        }
      case lrd: LogicalRDD => putInt(name, lrd.rdd.id)
      case _ => ()
    }
    (hex(name), listed(files.result()))
  }

  /** Injective fold of one field value: a null marker byte, then a
    * length-prefixed payload; collections recurse with element counts.
    * Scalars go through String.valueOf, injective per concrete type.
    */
  private def foldValue(digest: MessageDigest,
      dt: org.apache.spark.sql.types.DataType, v: Any): Unit = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    if (v == null) { digest.update(0.toByte); return }
    digest.update(1.toByte)
    dt match {
      case st: StructType =>
        val r = v.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
        st.indices.foreach(i => foldValue(digest, st(i).dataType, r.get(i, st(i).dataType)))
      case at: ArrayType =>
        val a = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        putInt(digest, a.numElements())
        (0 until a.numElements()).foreach(i =>
          foldValue(digest, at.elementType, a.get(i, at.elementType)))
      case mt: MapType =>
        val m = v.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
        putInt(digest, m.numElements())
        foldValue(digest, ArrayType(mt.keyType), m.keyArray())
        foldValue(digest, ArrayType(mt.valueType), m.valueArray())
      case _ =>
        val bytes = v match {
          case b: Array[Byte] => b // BinaryType: valueOf would print identity
          case other => String.valueOf(other).getBytes(UTF_8)
        }
        putInt(digest, bytes.length)
        digest.update(bytes)
    }
  }
}
