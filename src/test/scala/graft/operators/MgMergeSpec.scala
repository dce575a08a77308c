package graft.operators

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.MgMonoid

/** [[TextOps.mgMergeFlat]] — the flat K-way Misra–Gries merge. The PODS'12
  * mergeable-summaries theorem says the merged summary keeps the one-shot
  * bound (est ≤ f, f − est ≤ N/(m+1) over the union stream) even though the
  * merge step DISCARDS mass; these tests check the theorem on skewed
  * synthetic streams where truncation actually fires, the exact-passthrough
  * case where it doesn't, and the ≤ m size invariant. */
class MgMergeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def mgSummary(stream: Seq[String], m: Int): Map[String, Long] =
    new MgMonoid(m).fold(stream).counts

  private def mergeDf(shards: Seq[Map[String, Long]], m: Int): Map[String, Long] = {
    val s = spark
    import s.implicits._
    TextOps.mgMergeFlat(shards.toDF("mg"), m)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("merged summary keeps the one-shot theorem on a skewed stream") {
    val rnd = new Random(7)
    // Zipf-ish: token t_i with frequency ~ 400/i over 40 distinct tokens,
    // dealt round-robin into 8 shards so every shard sees every hot token.
    val stream = rnd.shuffle(
      (1 to 40).flatMap(i => Seq.fill(400 / i)(s"t$i")).toVector)
    val m = 4
    val shards = stream.zipWithIndex.groupBy(_._2 % 8).values.toSeq
      .map(sh => mgSummary(sh.map(_._1), m))
    val merged = mergeDf(shards, m)
    val exact = stream.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    val n = stream.size.toDouble
    assert(merged.size <= m, s"merged summary has ${merged.size} > m=$m entries")
    assert(merged.nonEmpty, "truncation case should still retain the head")
    for ((t, tf) <- exact) {
      val est = merged.getOrElse(t, 0L)
      assert(est <= tf, s"$t overcounted: est=$est tf=$tf")
      assert(tf - est <= n / (m + 1) + 1e-9,
        s"$t undercount ${tf - est} exceeds N/(m+1)=${n / (m + 1)}")
    }
    // truncation must actually have fired for this test to mean anything
    assert(merged.size < exact.size)
  }

  test("no truncation: merge of exact per-shard counts is the exact count") {
    // 3 distinct tokens, m = 8: every shard summary is exact and the flat
    // merge's delta is 0, so the merged table IS the exact frequency table.
    val stream = Seq.fill(50)("a") ++ Seq.fill(30)("b") ++ Seq.fill(20)("c")
    val shards = stream.zipWithIndex.groupBy(_._2 % 4).values.toSeq
      .map(sh => mgSummary(sh.map(_._1), 8))
    val merged = mergeDf(shards, 8)
    assert(merged == Map("a" -> 50L, "b" -> 30L, "c" -> 20L))
  }

  test("single-shard merge is the identity") {
    val summary = mgSummary(Seq("x", "x", "y", "x", "z", "x"), 8)
    assert(mergeDf(Seq(summary), 8) == summary)
  }
}
