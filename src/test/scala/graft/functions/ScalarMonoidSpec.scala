package graft.functions

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The two declarative scalar monoids against the forms they replace:
  * [[ArgMaxPertAgg]] against `max(struct(pert, sc, k_id))` bit for bit,
  * and [[LogSumExpDecl]] with a value against
  * `LogWeightedVecAgg(sc, array(sc))`. Each runs at 1 input partition
  * (update only) and at 7 (partial buffers merged across partitions). */
class ScalarMonoidSpec extends AnyFunSuite {

  private val spark = TestSpark.spark

  private def withParts(df: DataFrame, parts: Int): DataFrame =
    if (parts == 1) df.coalesce(1) else df.repartition(parts)

  // ---- argmax ----

  private val argRows: Seq[Row] = {
    val nan = Double.NaN
    val fixed = Seq[(Int, java.lang.Double, java.lang.Double, java.lang.Long)](
      (0, 5.0, 1.0, 1L), (0, nan, 0.0, 2L), (0, 7.0, 9.0, 3L),
      // NaN ties NaN: sc decides, then k_id
      (1, nan, 1.0, 1L), (1, nan, 2.0, 2L), (1, nan, 2.0, 3L), (1, 3.0, 8.0, 4L),
      // +0.0 and -0.0 are equal perts: sc decides, the winner keeps its sign
      (2, 0.0, 1.0, 1L), (2, -0.0, 2.0, 2L), (2, -1.0, 9.0, 3L),
      (3, -0.0, 1.0, 5L), (3, 0.0, 1.0, 4L),
      // exact pert ties broken by sc, then by k_id
      (4, 2.5, 1.0, 9L), (4, 2.5, 3.0, 1L), (4, 2.5, 3.0, 2L),
      // null rows rank lowest, and an all-null group keeps a null struct
      (5, null, null, null), (5, -3.0, 0.5, 1L), (5, null, null, null),
      (6, null, null, null), (6, null, null, null),
      // a null field ranks below any value of that field
      (7, null, 5.0, 1L), (7, 1.0, null, 2L), (7, 1.0, -2.0, null),
      (8, 1.0, null, 2L), (8, 1.0, null, 3L))
      .map { case (g, p, s, k) => Row(g, p, s, k) }
    // ties everywhere: few distinct perts and scores, distinct k_ids
    val rnd = new Random(11)
    val perts = Array(-1.0, 0.0, -0.0, 1.0, Double.NaN)
    val random = (0 until 3000).map { i =>
      Row(10 + i % 13, perts(rnd.nextInt(perts.length)),
        rnd.nextInt(3).toDouble, i.toLong)
    }
    fixed ++ random
  }

  private val argSchema = StructType(Seq(
    StructField("g", IntegerType, nullable = false),
    StructField("pert", DoubleType), StructField("sc", DoubleType),
    StructField("k_id", LongType)))

  /** g -> (pert bits, sc bits, k_id), nulls kept. */
  private def argmaxBy(parts: Int, agg: Column): Map[Int, Any] =
    withParts(spark.createDataFrame(spark.sparkContext.parallelize(argRows), argSchema), parts)
      .groupBy(col("g")).agg(agg.as("top"))
      .collect().map { r =>
        val top = r.getStruct(1)
        r.getInt(0) -> (if (top == null) null else (
          if (top.isNullAt(0)) None else Some(java.lang.Double.doubleToRawLongBits(top.getDouble(0))),
          if (top.isNullAt(1)) None else Some(java.lang.Double.doubleToRawLongBits(top.getDouble(1))),
          if (top.isNullAt(2)) None else Some(top.getLong(2))))
      }.toMap

  for (parts <- Seq(1, 7)) {
    test(s"declarative argmax equals max(struct(pert, sc, k_id)) bit for bit " +
        s"at $parts partition(s)") {
      val want = argmaxBy(parts, max(struct(col("pert"), col("sc"), col("k_id"))))
      val got = argmaxBy(parts,
        GraftAggs.argMaxPert(col("pert"), col("sc"), col("k_id")))
      assert(got == want)
      // spot checks of the orderings the fixed groups pin
      val nanBits = java.lang.Double.doubleToRawLongBits(Double.NaN)
      assert(got(0) == ((Some(nanBits), Some(0L), Some(2L))))
      assert(got(2) == ((Some(java.lang.Double.doubleToRawLongBits(-0.0)),
        Some(java.lang.Double.doubleToRawLongBits(2.0)), Some(2L))))
      assert(got(6) == ((None, None, None)))
    }
  }

  test("declarative argmax agrees under interpreted evaluation") {
    val key = "spark.sql.codegen.factoryMode"
    val want = argmaxBy(7, max(struct(col("pert"), col("sc"), col("k_id"))))
    val old = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "NO_CODEGEN")
      assert(argmaxBy(7,
        GraftAggs.argMaxPert(col("pert"), col("sc"), col("k_id"))) == want)
    } finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  // ---- softmax mean ----

  private val lseRows: Seq[Row] = {
    val rnd = new Random(5)
    val finite = (0 until 4000).map { i =>
      val g = i % 9
      // group 8 also holds nulls and -inf rows among its finite scores
      val sc: java.lang.Double =
        if (g == 8 && i % 3 == 0) null
        else if (g == 8 && i % 3 == 1) Double.NegativeInfinity
        else rnd.nextGaussian() * 12
      Row(g, sc)
    }
    // a group with no finite mass: every score is -inf or null
    val empty = Seq[java.lang.Double](Double.NegativeInfinity, null,
      Double.NegativeInfinity).map(Row(100, _))
    finite ++ empty
  }

  private val lseSchema = StructType(Seq(
    StructField("g", IntegerType, nullable = false),
    StructField("sc", DoubleType)))

  /** g -> (z, v) for the scalar form and for the one-element vector form. */
  private def zv(parts: Int): (Map[Int, (Double, Double)], Map[Int, (Double, Double)]) = {
    val df = withParts(
      spark.createDataFrame(spark.sparkContext.parallelize(lseRows), lseSchema), parts)
      .groupBy(col("g"))
      .agg(GraftAggs.logSumExpMean(col("sc"), col("sc")).as("s"),
        GraftAggs.logWeightedVec(col("sc"), array(col("sc"))).as("w"))
      .select(col("g"), col("s.z"), col("s.v"), col("w.z"),
        element_at(col("w.v"), 1))
      .collect()
    def pick(i: Int) = df.map { r =>
      r.getInt(0) -> (r.getDouble(i), if (r.isNullAt(i + 1)) Double.NaN else r.getDouble(i + 1))
    }.toMap
    (pick(1), pick(3))
  }

  private def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-12 * math.max(math.abs(a), math.abs(b))

  for (parts <- Seq(1, 7)) {
    test(s"scalar softmax form equals LogWeightedVecAgg(sc, array(sc)) " +
        s"at $parts partition(s)") {
      val (got, want) = zv(parts)
      assert(got.keySet == want.keySet && got.size == 10)
      for (g <- got.keySet if g != 100) {
        assert(close(got(g)._1, want(g)._1), s"z of group $g: ${got(g)} vs ${want(g)}")
        assert(close(got(g)._2, want(g)._2), s"v of group $g: ${got(g)} vs ${want(g)}")
      }
      // no finite mass: z is -inf in both, and entropy z - v is NaN in both
      // (the vector form keeps the first -inf row's value, the scalar form
      // has no mean to report)
      assert(got(100)._1 == Double.NegativeInfinity && want(100)._1 == Double.NegativeInfinity)
      assert(got(100)._2.isNaN)
      assert((got(100)._1 - got(100)._2).isNaN && (want(100)._1 - want(100)._2).isNaN)
    }
  }
}
