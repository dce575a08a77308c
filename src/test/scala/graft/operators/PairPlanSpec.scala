package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RoundRobinPartitioning}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The Auto distribution switch picks broadcast for a small query side and
  * the blocked 2-D grid when broadcasting is off/oversized — and both
  * plans compute identical results (VERDICT r2 next-steps #6).
  */
class PairPlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private val spark = TestSpark.spark
  import spark.implicits._

  private def q = (0L until 8L).map(i => (i, Array.fill(4)(i * 0.5 + 1.0)))
    .toDF("q_id", "qvec")
  private def kv = (0L until 64L)
    .map(i => (i, Array.fill(4)(1.0 / (i + 1)), Array.fill(2)(i * 1.0)))
    .toDF("k_id", "kvec", "vvec")

  /** A random (id, value) row; ids repeat, so sides carry duplicates. */
  private val row = for {
    id <- Gen.choose(-3L, 40L)
    v <- Gen.choose(-2, 2).map(_ * 0.5)
  } yield (id, v)

  private def planOf(mode: PairPlan.Mode): String =
    Attention.attention(q, kv, scale = false, mode)
      .queryExecution.executedPlan.toString

  test("auto broadcasts a dims-sized query side") {
    val p = planOf(PairPlan.Auto)
    assert(p.contains("BroadcastExchange"), s"expected broadcast in:\n$p")
    assert(!p.contains("ShuffledHashJoin"))
  }

  test("broadcast arm fan-out is proportionate to the pair volume " +
      "(VERDICT r8 #2 + r9 #2)") {
    // a one-split streaming side with a LARGE estimated pair grid must not
    // run the whole pair stream (and its partial agg) in a single task...
    val big = spark.range(5000000L).toDF("k_id").coalesce(1)
    val small = spark.range(20L).toDF("q_id")
    val fanned = PairPlan.cross(big, small, PairPlan.Broadcast)
      .rdd.getNumPartitions
    assert(fanned >= math.min(spark.sparkContext.defaultParallelism, 4),
      s"broadcast arm left a ~1e8-pair grid at $fanned partition(s)")
    // ...but a TINY grid (64×8 pairs here) must stay serial: the r9
    // unconditional fan-out taxed every small kernel ~0.2 CPU-s per task
    // of pure shuffle-file + aggregation fixed cost
    val tiny = PairPlan.cross(kv.coalesce(1), q, PairPlan.Broadcast)
      .rdd.getNumPartitions
    assert(tiny == 1,
      s"broadcast arm fanned a 512-pair grid out to $tiny partitions")
  }

  test("auto tiles when broadcasting is disabled, same results") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val p = planOf(PairPlan.Auto)
      // the tile grid is a tile-keyed ShuffledHashJoin since r13 (stays
      // inside whole-stage codegen, unlike CartesianProductExec)
      assert(p.contains("ShuffledHashJoin"), s"expected tile grid in:\n$p")
      assert(!p.contains("BroadcastExchange"))
      val blocked = Attention.attention(q, kv, scale = false, PairPlan.Auto)
        .select($"q_id", $"z").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      spark.conf.set(key, old)
      val bcast = Attention.attention(q, kv, scale = false, PairPlan.Auto)
        .select($"q_id", $"z").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(blocked.keySet == bcast.keySet)
      for ((k, v) <- blocked) assert(math.abs(v - bcast(k)) < 1e-9)
    } finally spark.conf.set(key, old)
  }

  // ---- PairPlan.tiles: cross's pairs, packed one big-side chunk a row ----

  private val modes = Seq(PairPlan.Broadcast, PairPlan.Blocked, PairPlan.Auto)

  private def multiset(rows: Array[Row]): Map[Seq[Any], Int] =
    rows.map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap

  private def crossPairs(big: DataFrame, small: DataFrame, mode: PairPlan.Mode) =
    multiset(PairPlan.cross(big, small, mode)
      .select((small.columns ++ big.columns).map(col): _*).collect())

  /** The pairs inside `tiles`' output, its row count, and whether every
    * tile is non-empty and every tile id names one tile within its task. */
  private def tilePairs(big: DataFrame, small: DataFrame, mode: PairPlan.Mode) = {
    val t = PairPlan.tiles(big, small, mode)
    val pairs = multiset(t.select(small.columns.map(col) :+ explode(col("__tile")).as("b"): _*)
      .select(small.columns.map(col) :+ col("b.*"): _*).collect())
    val rows = t.select(spark_partition_id(), col("__tid"), col("__tile")).collect()
    val perTask = rows.groupBy(r => (r.getInt(0), r.getLong(1))).values
    (pairs, rows.length, rows.forall(_.getSeq[Row](2).nonEmpty) &&
      perTask.forall(_.map(_.getSeq[Row](2)).distinct.length == 1))
  }

  test("tiles holds cross's pair multiset under all three modes, on random " +
      "sides with duplicates and empty sides, at 1 and 7 partitions; a tile " +
      "id never names two tiles within a task") {
    val prop = Prop.forAll(Gen.listOf(row), Gen.listOf(row)) { (bs, ss) =>
      val small = ss.take(12).toDF("q_id", "qv")
      (Seq(1, 7).forall { n =>
        val big = bs.toDF("k_id", "kv").repartition(n)
        val want = crossPairs(big, small, PairPlan.Broadcast)
        modes.forall { m =>
          val (got, tileRows, wellFormed) = tilePairs(big, small, m)
          got == want && wellFormed &&
            (!(bs.isEmpty || ss.isEmpty) || tileRows == 0)
        }
      })
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status)
  }

  test("cross: the Broadcast and Blocked arms give one pair multiset on " +
      "random sides, 1 to 7 partitions each, empty sides included") {
    val parts = Gen.choose(1, 7)
    val prop = Prop.forAll(Gen.listOf(row), Gen.listOf(row), parts, parts) {
      (bs, ss, nb, ns) =>
        val big = bs.toDF("k_id", "kv").repartition(nb)
        val small = ss.take(12).toDF("q_id", "qv").repartition(ns)
        val bc = crossPairs(big, small, PairPlan.Broadcast)
        bc == crossPairs(big, small, PairPlan.Blocked) &&
          bc.values.sum == bs.size * ss.take(12).size
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status)
  }

  test("fanOut keeps the row multiset; fewer input partitions than the " +
      "target fan out to at least the target, otherwise the input is returned") {
    def multiset(df: DataFrame): Map[(Long, Double), Int] =
      df.collect().toSeq.map(r => (r.getLong(0), r.getDouble(1)))
        .groupBy(identity).map { case (k, v) => k -> v.size }
    val prop = Prop.forAll(Gen.listOf(row), Gen.choose(1, 7), Gen.choose(1, 8)) {
      (rs, n, t) =>
        val df = rs.toDF("k_id", "kv").repartition(n)
        val in = df.rdd.getNumPartitions
        val out = PairPlan.fanOut(df, t)
        multiset(out) == multiset(df) &&
          (if (in < t) out.rdd.getNumPartitions >= t else out eq df)
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status)
  }

  // 30 real rows behind a 1e6-row plan-time estimate (a filtered range):
  // the pair budget fans the broadcast arm out and splits the blocked
  // arm's big side into one tile per core
  private def multiTileBig = spark.range(0L, 3000000L, 1L, 1)
    .filter(col("id") % 100000 === 0)
    .select(col("id").as("k_id"), (col("id") / 1e5).as("kv"))
  private def multiTileSmall = (0L until 20L).map(i => (i, i * 0.25)).toDF("q_id", "qv")

  test("tiles over multi-tile grids: a broadcast fan-out into chunks and a " +
      "blocked grid of several packed big-side tiles") {
    val (big, small) = (multiTileBig, multiTileSmall)
    val want = crossPairs(big, small, PairPlan.Blocked)
    assert(want.values.sum == 600)
    for (m <- modes) {
      val (got, _, wellFormed) = tilePairs(big, small, m)
      assert(got == want, s"$m")
      assert(wellFormed, s"$m: an empty tile, or a tile id naming two tiles in one task")
      val ids = PairPlan.tiles(big, small, m).select("__tid").distinct().count()
      assert(ids > 1, s"$m: expected several tiles, got $ids")
    }
  }

  test("blocked arms over a single-split stream side: each join side reaches " +
      "the grid through one pinned __tk exchange, with no round-robin, and " +
      "every join partition still holds one tile") {
    val parts = spark.sessionState.conf.numShufflePartitions
    // one split on each side: each arm's stream side is one task's input
    val (big, small) = (multiTileBig.coalesce(1), multiTileSmall.coalesce(1))
    def pinned(e: ShuffleExchangeExec) =
      e.shuffleOrigin == REPARTITION_BY_NUM && (e.outputPartitioning match {
        case HashPartitioning(Seq(a: Attribute), n) => a.name == "__tk" && n == parts
        case _ => false
      })
    def checkPlan(plan: SparkPlan, what: String): Unit = {
      val roundRobin = collect(plan) {
        case e: ShuffleExchangeExec
            if e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => e
      }
      assert(roundRobin.isEmpty, s"$what: round-robin exchange in\n$plan")
      val joins = collect(plan) { case j: ShuffledHashJoinExec => j }
      assert(joins.size == 1, s"$what: expected one tile join in\n$plan")
      for (side <- joins.head.children) {
        val shuffles = collect(side) { case e: ShuffleExchangeExec => e }
        assert(shuffles.size == 1 && shuffles.forall(pinned),
          s"$what: a join side without exactly one hashpartitioning(__tk, " +
            s"$parts) REPARTITION_BY_NUM exchange:\n$side")
      }
    }

    val t = PairPlan.tiles(big, small, PairPlan.Blocked)
      .select(spark_partition_id(), col("__tid"))
    val rows = t.collect()
    checkPlan(t.queryExecution.executedPlan, "tiles")
    val perPartition = rows.groupBy(_.getInt(0)).values.map(_.map(_.getLong(1)).distinct.toSeq)
    assert(perPartition.size > 1, s"tiles: expected several tiles, got $perPartition")
    assert(perPartition.forall(_.length == 1),
      s"tiles: a join partition holds several tiles: $perPartition")

    val c = PairPlan.cross(big, small, PairPlan.Blocked)
    assert(c.collect().length == 600)
    checkPlan(c.queryExecution.executedPlan, "cross")
  }
}
