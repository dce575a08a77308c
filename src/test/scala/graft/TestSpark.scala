package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (Spark startup ~5 s; suites
  * must not stop() it). Mirrors the Verify/Bench session config. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = graft.sources.Scratch.tuneLocalFs(SparkSession.builder())
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      // let AQE coalesce INSIDE cached plans (off by default): without it a
      // cached tiny table materializes every configured shuffle partition
      // and each downstream stage pays per-task fixed costs for all of
      // them (measured 2.3x of dedup_clusters' warm process CPU at 32
      // partitions). Values are unchanged.
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
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
