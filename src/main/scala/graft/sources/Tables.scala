package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Typed readers for the testdata star schema (TESTDATA.md).
  *
  * All readers are plain parquet scans: Catalyst sees the scan directly, so
  * filter pushdown / column pruning / partition pruning all apply. At cluster
  * scale the same call reads a partitioned directory; nothing here assumes
  * local mode.
  */
object Tables {
  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = read(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = read(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = read(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = read(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = read(s, d, "lineitem")

  /** events.ts normalizes to TimestampType whatever physical shape the
    * generator wrote — the driver has shipped two so far:
    *
    *  - INT64 TIMESTAMP(NANOS), which Spark rejects by default: read nanos
    *    as long and floor-convert to microseconds (DuckDB epoch_us
    *    semantics). `ts - pmod(ts, 1000)` makes the division exact, i.e.
    *    true floor — a bare `div` truncates toward zero and would round
    *    pre-1970 nanos the wrong way.
    *  - tz-naive timestamp[us], which Spark 4 infers as TIMESTAMP_NTZ:
    *    cast to TimestampType. [[graft.Session]] pins
    *    spark.sql.session.timeZone=UTC, so the naive wall clock maps to
    *    the same instants DuckDB sees reading the same file.
    *
    * The nanosAsLong conf is also set by [[graft.Session.local]]; it is
    * re-asserted here (idempotently) because callers — the driver's
    * smoke check, notebooks — read through sessions we don't build, and the
    * flag must hold at action time for the lazy scan to resolve.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    if (s.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true")
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = read(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("(ts - pmod(ts, 1000)) div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts")
            .cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = read(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")
}
