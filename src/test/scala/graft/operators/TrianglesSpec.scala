package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Degree-oriented triangle counting on graphs with known answers, plus
  * the plan property the operator exists for: the wedge fan-out feeds a
  * BROADCAST closing join (one codegen pipeline), never an exchange. */
class TrianglesSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  import spark.implicits._

  private def count(edges: Seq[(Long, Long)]): (Long, Long) = {
    val df = Triangles.triangleCount(edges.toDF("a", "b"))
    val r = df.collect().head
    (r.getLong(0), r.getLong(1))
  }

  test("known graphs: triangle, square, K4, K5, disjoint union") {
    assert(count(Seq((1L, 2L), (2L, 3L), (1L, 3L))) == (3L, 1L))
    // square: 4 edges, no triangle
    assert(count(Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))) == (4L, 0L))
    def kn(n: Int, off: Long = 0) =
      for { i <- 0 until n; j <- i + 1 until n }
        yield (off + i.toLong, off + j.toLong)
    assert(count(kn(4)) == (6L, 4L))   // K4: C(4,3) = 4 triangles
    assert(count(kn(5)) == (10L, 10L)) // K5: C(5,3) = 10
    // disjoint K4 ⊎ triangle: counts add
    assert(count(kn(4) ++ Seq((100L, 101L), (101L, 102L), (100L, 102L))) ==
      (9L, 5L))
  }

  // the reference every pair build is held to: the a < b self-join of
  // the rows sharing a group key, as a multiset
  private def selfJoinPairs(items: DataFrame): Map[(Long, Long), Int] =
    multiset(items.as("x").join(items.as("y"),
        col("x.g") === col("y.g") && col("x.item") < col("y.item"))
      .select(col("x.item"), col("y.item")))

  private def multiset(pairs: DataFrame): Map[(Long, Long), Int] =
    pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(identity).view.mapValues(_.length).toMap

  test("sortedPairs reproduces the self-join's pair MULTISET, duplicate " +
       "members included (the strongEdges support-count contract, r16)") {
    // group [10, 10, 20, 30]: the a < b self-join yields (10,20)×2,
    // (10,30)×2, (20,30)×1 — equal-value pairs (10,10) never emit
    val items = Seq((1L, 10L), (1L, 10L), (1L, 20L), (1L, 30L))
      .toDF("g", "item")
    val viaGen = multiset(Triangles.groupPairs(items, "g", "item"))
    assert(viaGen == selfJoinPairs(items))
    assert(viaGen == Map((10L, 20L) -> 2, (10L, 30L) -> 2, (20L, 30L) -> 1))
  }

  test("groupPairs equals the self-join multiset on random groups with " +
       "duplicates, singletons, negative ids and null keys, at 1 and 7 " +
       "partitions") {
    val row = for {
      g <- Gen.frequency(1 -> Gen.const(Option.empty[Long]),
        8 -> Gen.choose(-3L, 5L).map(Option(_)))
      item <- Gen.frequency(1 -> Gen.const(Option.empty[Long]),
        10 -> Gen.choose(-4L, 6L).map(Option(_)))
    } yield (g, item)
    val prop = Prop.forAll(Gen.listOf(row)) { rows =>
      val items = rows.toDF("g", "item")
      val want = selfJoinPairs(items)
      Seq(1, 7).forall(n =>
        multiset(Triangles.groupPairs(items.repartition(n), "g", "item")) == want)
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status)
  }

  test("null group keys pair nothing: coEdges and strongEdges match the " +
       "self-join") {
    // (null,30) and (null,40) share no group — a groupBy would pair them,
    // twice over, making (30,40) a strong edge too
    val items = Seq[(Option[Long], Long)]((None, 30L), (None, 40L),
      (None, 30L), (Some(1L), 10L), (Some(1L), 20L), (Some(2L), 10L),
      (Some(2L), 20L), (Some(2L), 30L)).toDF("g", "item")
    val want = selfJoinPairs(items)
    assert(multiset(Triangles.coEdges(items, "g", "item")).keySet ==
      want.keySet)
    assert(multiset(Triangles.strongEdges(items, "g", "item")).keySet ==
      want.filter(_._2 >= 2).keySet)
    assert(want.keySet == Set((10L, 20L), (10L, 30L), (20L, 30L)))
  }

  test("coEdges builds distinct normalized co-membership pairs") {
    val items = Seq((1L, 10L), (1L, 20L), (1L, 30L), (2L, 10L), (2L, 20L),
      (2L, 20L)).toDF("g", "item") // duplicate membership must not dup edges
    val e = Triangles.coEdges(items, "g", "item")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(e == Set((10L, 20L), (10L, 30L), (20L, 30L)))
  }

  test("coEdges self-join arm (input above ArrayFormMaxRows) builds the " +
       "identical edge set (the r16 scale gate)") {
    val items = Seq((1L, 10L), (1L, 20L), (1L, 30L), (2L, 10L), (2L, 20L),
      (2L, 20L), (3L, 40L)).toDF("g", "item")
    val e = multiset(Triangles.coEdges(items, "g", "item"))
    assert(e.values.forall(_ == 1), s"coEdges emitted a duplicate edge: $e")
    assert(e.keySet == selfJoinPairs(items).keySet)
    assert(e.keySet == Set((10L, 20L), (10L, 30L), (20L, 30L)))
  }

  test("the closing join is broadcast: no exchange above the wedge join") {
    val df = Triangles.triangleCount(
      (for { i <- 0 until 20; j <- i + 1 until 20 }
        yield (i.toLong, j.toLong)).toDF("a", "b"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.toLowerCase
    // the closing probe of the wedge stream must be a broadcast join
    assert(plan.contains("broadcasthashjoin"), plan.take(1500))
  }

  test("an edge list over the gate degrades to a shuffled hash closing " +
       "join — same counts (VERDICT r8 #3)") {
    val k5 = (for { i <- 0 until 5; j <- i + 1 until 5 }
      yield (i.toLong, j.toLong)).toDF("a", "b")
    // kill Catalyst's AUTO broadcast decisions for this test: a hint still
    // forces broadcast past the threshold, so "no broadcasthashjoin in the
    // static plan" is exactly "the operator hinted no broadcast" — the
    // wedge self-join may legitimately auto-broadcast on a tiny graph, and
    // AQE may demote joins back to broadcast from MEASURED sizes at
    // runtime; neither is the unconditional-hint bug this test pins.
    val thr = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(thr)
    try {
      spark.conf.set(thr, "-1")
      val df = Triangles.triangleCount(k5, broadcastMaxEdges = 1L)
      val r = df.collect().head
      assert((r.getLong(0), r.getLong(1)) == (10L, 10L))
      // over the gate EVERY arm degrades together: the degree-annotation
      // joins (|V| ≤ 2|E|, so the same ceiling bounds them) and the
      // closing probe are all planned as shuffled hash joins
      val plan = df.queryExecution.executedPlan.toString.toLowerCase
      assert(plan.contains("shuffledhashjoin"), plan.take(1500))
      val static = df.queryExecution.sparkPlan.toString.toLowerCase
      assert(!static.contains("broadcasthashjoin"), static.take(1500))
    } finally spark.conf.set(thr, saved)
  }

  // K5 plus a tail 4-5-6-7: the tail peels off every core and pulls
  // label propagation's rounds across the clique's border
  private val k5Tail = ((for { i <- 0 until 5; j <- i + 1 until 5 }
    yield (i.toLong, j.toLong)) ++ Seq((4L, 5L), (5L, 6L), (6L, 7L)))

  test("kCore: the broadcast and the SHUFFLE_HASH arm give the same core") {
    val edges = k5Tail.toDF("a", "b")
    val bc = Triangles.kCore(edges, 3, 10).collect().toSeq
    val sh = Triangles.kCore(edges, 3, 10, broadcastMaxEdges = 1L).collect().toSeq
    assert(bc == sh)
    // the 3-core is K5: 5 nodes, 10 edges, reached in two peels
    assert(bc.map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))) ==
      Seq((5L, 10L, 2L, true)), bc.toString)
  }

  test("labelPropagation: the broadcast and the SHUFFLE_HASH arm give the " +
       "same labels") {
    val edges = k5Tail.toDF("a", "b")
    def labels(maxEdges: Long) =
      Triangles.labelPropagation(edges, 3, maxEdges).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bc = labels(Triangles.BroadcastMaxEdges)
    assert(bc.size == 8 && bc == labels(1L), bc.toString)
  }

  test("labelPropagation separates bridge-joined communities CC would merge") {
    // two triangles joined by ONE bridge edge: connected components says
    // one component; 3 synchronous LPA rounds with the (count DESC, label
    // ASC) tiebreak resolve to {1,2,3}->1 and {4,5,6}->3 (hand-traced:
    // the bridge node 4 briefly adopts 3's label in round 1, but its
    // denser side reclaims it by round 3) — the density structure CC is
    // blind to.
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("a", "b")
    val got = Triangles.labelPropagation(edges, 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L), got.toString)
    // sanity that CC merges them (the contrast the operator exists for)
    val cc = Dedup.connectedComponents(
      edges.select(col("a").as("doc_a"), col("b").as("doc_b"))).collect()
      .map(_.getLong(1)).distinct
    assert(cc.length == 1)
  }

  test("labelPropagation on disjoint cliques converges to per-clique min labels") {
    val edges = (for { i <- 0 until 3; j <- i + 1 until 3 }
      yield (i.toLong + 1, j.toLong + 1)) ++
      (for { i <- 0 until 4; j <- i + 1 until 4 }
        yield (i.toLong + 10, j.toLong + 10))
    val got = Triangles.labelPropagation(edges.toDF("a", "b"), 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 3L).forall(got(_) == 1L), got.toString)
    assert((10L to 13L).forall(got(_) == 10L), got.toString)
  }
}
