package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A query that
  * throws is listed in failures.json and makes the run exit 1. */
object Verify {
  def main(args: Array[String]): Unit = {
    // extra args = dev-loop query-name filter (driver always passes two)
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    val spark = Session.local(Session.cpus)
    spark.sparkContext.setLogLevel("WARN")
    val failures = run(spark, sfDir, outDir,
      SparkEntry.queries.toSeq.filter { case (name, _) => only.isEmpty || only(name) })
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(s"[verify] ${failures.size} queries failed: " +
        failures.map(_._1).mkString(", "))
      sys.exit(1)
    }
  }

  /** Dumps every query's result under `outDir`, then writes
    * failures.json (query name -> error of each query that threw),
    * oracle_sql.json and verify_env.json. Returns the failures. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          queries: Seq[(String, (SparkSession, String) => DataFrame)]): Seq[(String, String)] = {
    new java.io.File(outDir).mkdirs()
    val failures = queries.flatMap { case (name, fn) =>
      val failure =
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name -> e.toString)
        }
      // per-query caches (LSH signature tables etc.) don't accumulate
      // across the 30+ queries of a verify run
      spark.catalog.clearCache()
      failure
    }
    def obj(kv: Seq[(String, String)]) =
      kv.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/failures.json"), obj(failures))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), obj(SparkEntry.oracleSql.toSeq))
    // environment fingerprint (VERDICT r12 #1: the r12 driver-only hash
    // mismatches took a round to localize because the artifact carried
    // nothing about the session that produced it) — the DuckDB side's
    // version is printed by scripts/oracle_check.py / the driver
    val env =
      s"""{"spark_version": ${q(spark.version)},
         | "java_version": ${q(System.getProperty("java.version"))},
         | "session_tz": ${q(spark.conf.get("spark.sql.session.timeZone"))},
         | "jvm_tz": ${q(java.util.TimeZone.getDefault.getID)},
         | "ansi": ${
        // RuntimeConfig.get(key, default) type-checks the FALLBACK string
        // against the conf's boolean type, so a non-boolean sentinel
        // throws whenever the key is unset — wrap instead
        q(scala.util.Try(spark.conf.get("spark.sql.ansi.enabled"))
          .getOrElse("default"))}}"""
        .stripMargin
    Files.writeString(Paths.get(s"$outDir/verify_env.json"), env)
    failures
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
