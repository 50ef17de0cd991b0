package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Optional trailing query names restrict the dump to just those (dev
  * resume / shard for the big-SF sweeps — same convention as
  * scripts/selfcheck.py); the driver's two-arg call is unchanged.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val only = args.drop(2).toSet
    val spark = Session.local()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Oracle SQL for the dir we just verified — the IVF centroid literals
    // come from the same cached fit the queries above ran with (explicit
    // threading; no global ordering assumptions).
    val json = SparkEntry.oracleSqlFor(spark, sfDir)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // The approx lane's measured error bounds (the 4 rowsOnlyQueries have
    // no DuckDB oracle): sketch twin vs exact twin, pass/fail per spec
    // threshold, landed next to the hash-gate dump so the driver sees the
    // approx lane as data, not as `err: no_oracle`.
    try Files.writeString(Paths.get(s"$outDir/approx_bounds.json"),
      VerifyApprox.reportJson(spark, sfDir) + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[verify] approx_bounds failed: ${e.getMessage}")
    }
    spark.stop()
  }
}
