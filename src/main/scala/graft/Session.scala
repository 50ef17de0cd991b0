package graft

import org.apache.spark.sql.SparkSession

/** The one local session config: every main (Bench, Verify, VerifyApprox,
  * GenScale, Plans) and the spec fixture build their session here, so the
  * contracts a spec pins run at the scan parallelism the bench times.
  */
object Session {

  /** `SPARK_GRAFT_CPUS` when set, else every core of this host. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(cpus: Int = Session.cpus): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // The testdata is one smallish file per table; the 128 MB default
      // would scan each on a single core. At cluster scale this is sized
      // to executor memory instead (SURVEY §4). Note the floor this can't
      // move: every testdata file has ONE parquet row group, so the
      // columnar decode of a table (e.g. lineitem, 10.8 MB) is a single
      // task no matter the split size — real 100 TB inputs split by row
      // group / file and don't have this ceiling.
      .config("spark.sql.files.maxPartitionBytes", "2m")
      .config("spark.sql.files.openCostInBytes", "64k")
      // events.parquet is INT64 TIMESTAMP(NANOS); see Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // A sweep's localCheckpoint blocks are reclaimed by the
      // ContextCleaner only after a GC notices the RDDs are unreachable;
      // the default periodic-GC interval (30 min) never fires inside a
      // sweep run, so blocks pile up until a 512 MB page allocation OOMs
      // the heap (r10: the skewed-sf1 Verify died exactly this way). A
      // core conf: it only takes effect before the context starts.
      .config("spark.cleaner.periodicGC.interval", "2min")
      .getOrCreate()
}
