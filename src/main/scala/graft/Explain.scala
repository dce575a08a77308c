package graft

import org.apache.spark.sql.SparkSession

/** Dev-loop plan auditor: print `.explain("formatted")` for named queries
  * (all queries when none named) — the per-operator check the build rules
  * prescribe (pushed filters, broadcast vs shuffle joins, WholeStageCodegen
  * spans) without writing any output.
  *
  * Usage: runMain graft.Explain <sfDir> [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val only = args.drop(1).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.sources.Scratch.tuneLocalFs(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // let AQE coalesce INSIDE cached plans (off by default): without it a
      // cached tiny table materializes all 32 configured shuffle partitions
      // and every downstream stage pays 32-64 per-task fixed costs -- measured
      // 2.3x of dedup_clusters' warm process CPU. Values are unchanged; at
      // scale AQE still targets its normal partition sizes.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // same local-shuffle tuning as Bench (see Bench.scala): one spill file
      // per map task instead of `shuffle.partitions` files, and hash-based
      // object aggregation up to 256k groups instead of the 128-key default
      .config("spark.shuffle.sort.bypassMergeThreshold", "2")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "262144")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
        println(s"\n========== $name ==========")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable =>
          println(s"[explain] $name failed: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
