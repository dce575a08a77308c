package graft.tools

import org.apache.spark.sql.functions._

/** Scratch micro-benchmark of per-action driver overhead under the
  * [[graft.Session]] config. Dev tooling only. */
object Overhead {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local(graft.Session.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    sys.env.get("GRAFT_SET").foreach(_.split(";").filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
      })
    def timeIt(tag: String, n: Int)(f: => Unit): Unit = {
      f; f
      val t0 = System.nanoTime
      (1 to n).foreach(_ => f)
      println(f"[ovh] $tag: ${(System.nanoTime - t0) / 1e6 / n}%.1f ms/action")
    }
    if (args.contains("codegen")) {
      val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
      def force(df: org.apache.spark.sql.DataFrame): Unit = {
        val h = org.apache.spark.sql.functions.xxhash64(
          df.columns.map(col).toIndexedSeq: _*)
        df.select(h.cast("double").as("h")).agg(sum(col("h"))).collect(); ()
      }
      import org.apache.spark.metrics.source.CodegenMetrics._
      args.filter(graft.SparkEntry.queries.contains).foreach { name =>
        val fn = graft.SparkEntry.queries(name)
        (1 to 3).foreach { i =>
          val c0 = METRIC_SOURCE_CODE_SIZE.getCount
          val t0 = METRIC_COMPILATION_TIME.getCount
          val j0 = graft.Bench.jitMs()
          val w0 = System.nanoTime()
          force(fn(spark, sfDir))
          println(f"[ovh] $name run$i wall=${(System.nanoTime - w0) / 1e9}%.2f " +
            f"srcBytes=${METRIC_SOURCE_CODE_SIZE.getCount - c0} " +
            f"janinoMs=${METRIC_COMPILATION_TIME.getCount - t0} " +
            f"jitMs=${graft.Bench.jitMs() - j0}")
          spark.catalog.clearCache()
          graft.operators.Caching.memoDropNewerThan(Set.empty)
        }
      }
      spark.stop(); return
    }
    if (args.contains("kernels")) {
      import graft.operators.PairPlan
      val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
      def force(df: org.apache.spark.sql.DataFrame): Unit = {
        val h = org.apache.spark.sql.functions.xxhash64(
          df.columns.map(col).toIndexedSeq: _*)
        df.select(h.cast("double").as("h")).agg(sum(col("h"))).collect(); ()
      }
      graft.queries.MatrixQueries.modalKernelsBig.toSeq.sortBy(_._1)
        .foreach { case (name, fn) =>
          force(fn(spark, sfDir, PairPlan.Blocked))
          force(fn(spark, sfDir, PairPlan.Broadcast))
          val runs = (1 to 5).map { _ =>
            val t0 = System.nanoTime()
            force(fn(spark, sfDir, PairPlan.Blocked))
            val bl = (System.nanoTime() - t0) / 1e9
            val t1 = System.nanoTime()
            force(fn(spark, sfDir, PairPlan.Broadcast))
            val br = (System.nanoTime() - t1) / 1e9
            spark.catalog.clearCache()
            (bl, br)
          }
          val rs = runs.map(r => r._1 / math.max(r._2, 1e-9)).sorted
          println(f"[ovh] kernel $name blocked=${runs.map(_._1).sorted.apply(2)}%.3f " +
            f"broadcast=${runs.map(_._2).sorted.apply(2)}%.3f ratio_med=${rs(2)}%.3f")
        }
      spark.stop(); return
    }
    val df = spark.range(100000).select(col("id"), (col("id") % 1000).as("k"))
    if (args.contains("spin")) {
      val d2 = spark.range(1)
      d2.collect()
      val t0 = System.nanoTime
      var i = 0
      while (System.nanoTime - t0 < 60e9) { d2.collect(); i += 1 }
      println(s"[ovh] spin: $i collects in 60s = ${60000.0 / i} ms each")
      spark.stop(); return
    }
    timeIt("noop-collect", 30) { spark.range(1).collect(); () }
    val pre = spark.range(1); pre.collect()
    timeIt("noop-precreated", 30) { pre.collect(); () }
    timeIt("noop-plan-only", 30) {
      spark.range(1).queryExecution.executedPlan; ()
    }
    timeIt("agg-plan-only", 30) {
      df.groupBy("k").agg(sum("id")).agg(sum("sum(id)"))
        .queryExecution.executedPlan; ()
    }
    timeIt("agg-1shuffle", 30) {
      df.groupBy("k").agg(sum("id")).agg(sum("sum(id)")).collect(); ()
    }
    val dfj = df.join(
      spark.range(1000).select(col("id").as("k"), lit(1).as("v")), "k")
    timeIt("join-bcast", 30) { dfj.agg(sum("v")).collect(); () }
    timeIt("localCheckpoint", 30) {
      df.limit(10).localCheckpoint(true); ()
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    timeIt("agg-1shuffle-noAQE", 30) {
      df.groupBy("k").agg(sum("id")).agg(sum("sum(id)")).collect(); ()
    }
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.constraintPropagation.enabled", "false")
    timeIt("agg-1shuffle-noConstraint", 30) {
      df.groupBy("k").agg(sum("id")).agg(sum("sum(id)")).collect(); ()
    }
    spark.stop()
  }
}
