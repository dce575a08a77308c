package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-loop A/B of the co-membership EDGE BUILDS (the memoized passes the
  * parts family reads): array form (r16 — one exchange into a per-group
  * collect + map-side pair generator) vs the r15 per-group self-join, at
  * any SF dir, timed with the noop sink (guide §1.4) so the build is
  * measured, not the memo or the sink. Prints 3 runs each and a one-time
  * count cross-check that both forms produce the identical edge set.
  * Usage: runMain graft.tools.PairBuildAb SF_DIR */
object PairBuildAb {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val spark = graft.Session.local(graft.Session.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    sys.env.get("GRAFT_SET").foreach(_.split(";").filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
      })

    val li = graft.sources.Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("g"), col("l_partkey").as("p"))

    // strong-tie build (support >= 2, collect_list multiplicity)
    def strongArray: DataFrame = li
      .groupBy(col("g"))
      .agg(sort_array(collect_list(col("p"))).as("ps"))
      .select(explode(graft.operators.Triangles.sortedPairs(col("ps"))).as("e"))
      .groupBy(col("e.a").as("a"), col("e.b").as("b"))
      .agg(count(lit(1)).as("c")).filter(col("c") >= 2)
      .select(col("a"), col("b"))
    def strongJoin: DataFrame = li.as("x").join(li.as("y"),
        col("x.g") === col("y.g") && col("x.p") < col("y.p"))
      .groupBy(col("x.p").as("a"), col("y.p").as("b"))
      .agg(count(lit(1)).as("c")).filter(col("c") >= 2)
      .select(col("a"), col("b"))

    // distinct co-membership build (support >= 1)
    def coArray: DataFrame =
      graft.operators.Triangles.coEdges(
        graft.sources.Tables.lineitem(spark, sfDir), "l_orderkey", "l_partkey")
    def coJoin: DataFrame = li.select(col("g"), col("p").as("a"))
      .join(li.select(col("g"), col("p").as("b")), "g")
      .where(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()

    def time(label: String)(df: => DataFrame): Unit = {
      spark.sparkContext.setJobDescription(s"pair-build A/B: $label")
      for (i <- 1 to 3) {
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        println(f"[pair-ab] $label run$i ${(System.nanoTime() - t0) / 1e9}%6.2f s")
      }
      spark.sparkContext.setJobDescription(null)
    }

    // assoc shape: pair counts over the eager-cached, hash(ok)-partitioned
    // basket table (both arms read the same cached input, so the trade is
    // pure pair-generation cost — no exchange differs)
    val baskets = graft.operators.Caching.eager(
      li.select(col("g").as("ok"), col("p").as("pk"))
        .repartition(col("ok")).distinct())
    def assocArray: DataFrame = baskets.groupBy(col("ok"))
      .agg(sort_array(collect_set(col("pk"))).as("ps"))
      .select(explode(graft.operators.Triangles.sortedPairs(col("ps"))).as("e"))
      .groupBy(col("e.a").as("part_a"), col("e.b").as("part_b"))
      .agg(count(lit(1)).as("pair_n")).filter(col("pair_n") >= 2)
    def assocJoin: DataFrame = baskets.select(col("ok"), col("pk").as("a"))
      .join(baskets.select(col("ok"), col("pk").as("b")), "ok")
      .where(col("a") < col("b"))
      .groupBy(col("a").as("part_a"), col("b").as("part_b"))
      .agg(count(lit(1)).as("pair_n")).filter(col("pair_n") >= 2)

    val Seq(sa, sj, ca, cj, aa, aj) =
      Seq(strongArray, strongJoin, coArray, coJoin, assocArray, assocJoin)
        .map(_.count())
    println(s"[pair-ab] strong: array=$sa join=$sj  co: array=$ca join=$cj" +
      s"  assoc: array=$aa join=$aj" +
      (if (sa == sj && ca == cj && aa == aj) "  (counts agree)"
       else "  MISMATCH"))
    if (sys.env.contains("GRAFT_EXPLAIN")) {
      for ((l, df) <- Seq("strong_array" -> strongArray,
          "strong_join" -> strongJoin, "co_array" -> coArray,
          "co_join" -> coJoin)) {
        println(s"\n========== edge build: $l ==========")
        df.explain("formatted")
      }
    }
    for (_ <- 1 to 2) { // interleave arms so JIT/page-cache drift cancels
      time("strong_array")(strongArray)
      time("strong_join")(strongJoin)
      time("co_array")(coArray)
      time("co_join")(coJoin)
      time("assoc_array")(assocArray)
      time("assoc_join")(assocJoin)
    }
    spark.stop()
  }
}
