package graft.functions

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[GraftAggs.topKRows]] against the form it replaces: `row_number()
  * over (partitionBy key orderBy score [desc], id)` filtered to rank <= k,
  * row for row. */
class TopKRowsSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  import spark.implicits._

  // scores from a small pool, so ties are common; NaN, ±0.0 and null
  // scores and null keys ride along
  private val score: Gen[Option[Double]] = Gen.frequency(
    1 -> Gen.const(None), 1 -> Gen.const(Some(Double.NaN)),
    1 -> Gen.oneOf(Some(0.0), Some(-0.0)),
    6 -> Gen.choose(-2, 2).map(v => Some(v * 0.5)))
  private val row = for {
    g <- Gen.frequency(1 -> Gen.const(Option.empty[Long]),
      6 -> Gen.choose(0L, 3L).map(Option(_)))
    s <- score
    id <- Gen.choose(-3L, 12L)
  } yield (g, s, id)

  /** Both directions, each with the numeric id and with a string id
    * (`tok` orders "t10" before "t2"), as one frame of
    * (cfg, g, s, id, rank) rows. */
  private def ranked(df: DataFrame)(
      rank: (DataFrame, Boolean, String) => DataFrame): DataFrame =
    (for (asc <- Seq(true, false); id <- Seq("id", "tok")) yield
      rank(df, asc, id).select(lit(s"$asc/$id").as("cfg"), col("g"), col("s"),
        col(id).cast("string").as("id"), col("rank").cast("long").as("rank")))
      .reduce(_ union _)

  /** Row multiset; a score prints as "NaN"/"null", and -0.0 as 0.0 (the
    * two tie in both orders, so which of them lands first is free). */
  private def multiset(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map { r: Row =>
      val s = if (r.isNullAt(2)) "null"
        else { val d = r.getDouble(2); if (d == 0.0) "0.0" else d.toString }
      Seq(r.getString(0), if (r.isNullAt(1)) None else Some(r.getLong(1)), s,
        r.getString(3), r.getLong(4))
    }.groupBy(identity).map { case (k, v) => k -> v.size }

  test("topKRows equals row_number <= k in both directions, numeric and " +
       "string ids, with ties, NaN, ±0.0, null scores and null keys, at 1 " +
       "and 7 partitions") {
    val prop = Prop.forAll(Gen.listOf(row), Gen.choose(1, 4)) { (rows, k) =>
      val base = rows.toDF("g", "s", "id")
        .withColumn("tok", concat(lit("t"), col("id").cast("string")))
      val want = multiset(ranked(base) { (d, asc, id) =>
        val w = Window.partitionBy(col("g"))
          .orderBy(if (asc) col("s").asc else col("s").desc, col(id))
        d.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      })
      Seq(1, 7).forall { n =>
        multiset(ranked(base.repartition(n)) { (d, asc, id) =>
          GraftAggs.topKRows(d, "g", k, "s", asc, id)
        }) == want
      }
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status)
  }

  test("topKRows keeps every input column and appends a long rank") {
    val df = Seq((1L, 3L, 0.5, "a"), (1L, 4L, 0.5, "b"), (2L, 5L, 0.1, "c"))
      .toDF("q", "k", "sc", "tag")
    val out = GraftAggs.topKRows(df, "q", 1, "sc", ascending = false, "k")
    assert(out.columns.toSeq == Seq("q", "k", "sc", "tag", "rank"))
    assert(out.as[(Long, Long, Double, String, Long)].collect().toSet ==
      Set((1L, 3L, 0.5, "a", 1L), (2L, 5L, 0.1, "c", 1L)))
  }
}
