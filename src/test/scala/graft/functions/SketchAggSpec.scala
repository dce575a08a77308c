package graft.functions

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The native sketch aggregates [[KmvSketchAgg]] and [[MgSketchAgg]]
  * against their reference monoids ([[KmvMonoid]], [[MgMonoid]]): buffer
  * by buffer, and through Spark on both `ObjectHashAggregateExec` arms —
  * the hash map and the sort-based fallback, which serializes buffers —
  * at 1 and 7 partitions. */
class SketchAggSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private val spark = graft.TestSpark.spark
  import spark.implicits._

  private val rnd = new Random(5)

  test("KMV update and merge == the reference combine, bit-exactly; " +
       "buffers round-trip; a null hash is skipped") {
    val k = 4
    val agg = KmvSketchAgg(BoundReference(0, LongType, nullable = true), k)
    val ref = new KmvMonoid(k)
    def state(b: Array[Long]): Seq[Long] = b.toSeq
    def fold(hs: Seq[Long]): Array[Long] =
      hs.foldLeft(agg.createAggregationBuffer())((b, h) => agg.update(b, InternalRow(h)))
    for (_ <- 1 to 300) {
      // small universe: under-filled, full-above-max, full-insert and
      // duplicate rows all occur
      val xs = Seq.fill(rnd.nextInt(30))(rnd.nextInt(12).toLong)
      var b = agg.createAggregationBuffer()
      var r = ref.zero
      for (h <- xs) {
        b = agg.update(agg.update(b, InternalRow(h)), InternalRow(null))
        r = ref.combine(r, KmvBuf(Vector(h)))
        assert(state(b) == r.hs, s"update diverged from combine at h=$h")
      }
      val o = agg.deserialize(agg.serialize(
        fold(Seq.fill(rnd.nextInt(30))(rnd.nextInt(12).toLong))))
      val want = ref.combine(r, KmvBuf(state(o))).hs
      assert(state(agg.merge(b, o)) == want)
    }
  }

  test("MG update and merge == the reference combine, exactly; buffers " +
       "round-trip; a null token is skipped") {
    val m = 4
    val agg = MgSketchAgg(BoundReference(0, StringType, nullable = true), m)
    val ref = new MgMonoid(m)
    def row(t: String) = InternalRow(UTF8String.fromString(t))
    def counts(b: mutable.HashMap[UTF8String, Long]): Map[String, Long] =
      b.map { case (t, c) => t.toString -> c }.toMap
    def stream() = Seq.fill(rnd.nextInt(40))(
      s"t${(rnd.nextInt(10) * rnd.nextDouble()).toInt}")
    for (_ <- 1 to 300) {
      var b = agg.createAggregationBuffer()
      var r = ref.zero
      for (t <- stream()) {
        b = agg.update(agg.update(b, row(t)), InternalRow(null))
        r = ref.combine(r, MgBuf(Map(t -> 1L)))
        assert(counts(b) == r.counts, s"update diverged from combine at $t")
      }
      val ys = stream()
      val o = agg.deserialize(agg.serialize(
        ys.foldLeft(agg.createAggregationBuffer())((o, t) => agg.update(o, row(t)))))
      assert(counts(o) == ref.fold(ys).counts)
      assert(counts(agg.merge(b, o)) == ref.combine(r, ref.fold(ys)).counts)
    }
  }

  /** `read` of `q` on each `ObjectHashAggregateExec` arm: the session's
    * hash map, then the sort-based fallback (a threshold of 2 groups per
    * task), the conf restored after. Pins that the arm really ran. */
  private def arms[T](q: => DataFrame)(read: DataFrame => T): Seq[(String, T)] = {
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val prev = spark.conf.get(key)
    Seq("hash" -> prev, "sort" -> "2").map { case (arm, threshold) =>
      spark.conf.set(key, threshold)
      try {
        val df = q
        val got = read(df)
        val fellBack = collect(df.queryExecution.executedPlan) {
          case a: ObjectHashAggregateExec => a.metrics("numTasksFallBacked").value
        }
        assert(fellBack.nonEmpty && (fellBack.sum > 0) == (arm == "sort"),
          s"$arm arm: fallback tasks $fellBack")
        arm -> got
      } finally spark.conf.set(key, prev)
    }
  }

  test("KMV sketch == hs.distinct.sorted.take(k), bit for bit, at 1 and 7 " +
       "partitions on both aggregate arms; null hashes skipped") {
    val k = 8
    // even groups draw from 12 values (duplicate-heavy, under-filled),
    // odd ones from 2^20 (the sketch fills); group 0 is 4000 rows over
    // 10 values, group 30 only nulls
    val rows: Seq[(Int, java.lang.Long)] = (1 until 30).flatMap { g =>
      val universe = if (g % 2 == 0) 12 else 1 << 20
      Seq.fill(rnd.nextInt(80))(g -> (if (rnd.nextInt(10) == 0) null
        else java.lang.Long.valueOf(rnd.nextInt(universe).toLong)))
    } ++ Seq.fill(4000)(0 -> java.lang.Long.valueOf(rnd.nextInt(10).toLong)) :+
      (30 -> (null: java.lang.Long))
    val want = rows.groupBy(_._1).map { case (g, rs) =>
      g -> rs.flatMap(r => Option(r._2)).map(_.longValue).distinct.sorted.take(k)
    }
    for (parts <- Seq(1, 7)) {
      def q = rows.toDF("g", "h").repartition(parts)
        .groupBy(col("g")).agg(GraftAggs.kmvSketch(k)(col("h")))
      for ((arm, got) <- arms(q)(_.collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap))
        assert(got == want, s"$parts partitions, $arm arm")
    }
  }

  test("MG sketch over an exploded text column: the reference fold at one " +
       "ordered partition, exact counts when m covers the vocabulary, and " +
       "the N/(m+1) theorem on every arm; null tokens skipped") {
    val (m, wide) = (16, 512)
    // 8 groups of 30 lines × 12 tokens over ~3000 tokens of varying
    // length, skewed to the low ids: many distinct keys, each read off
    // the shuffle reader's reused row buffer (a key kept without a copy
    // changes under the map)
    val lines = for (g <- 0 until 8; _ <- 0 until 30) yield g ->
      Seq.fill(12)(s"w${(3000 * math.pow(rnd.nextDouble(), 3)).toInt}" +
        "x" * rnd.nextInt(4)).mkString(" ")
    val tokens = lines.groupBy(_._1).map { case (g, ls) =>
      g -> ls.flatMap(_._2.split(" ")).filter(_ != "w1")
    }
    val ref = new MgMonoid(m)
    def q(in: DataFrame, parts: Int) = in
      .select(col("g"), explode(split(col("text"), " ")).as("t"))
      .select(col("g"), when(col("t") =!= "w1", col("t")).as("t"))
      .repartition(parts).groupBy(col("g")).agg(GraftAggs.mgSketch(m)(col("t")),
        GraftAggs.mgSketch(wide)(col("t")))
    def read(df: DataFrame) = df.collect().map(r => r.getInt(0) ->
      (r.getMap[String, Long](1).toMap, r.getMap[String, Long](2).toMap)).toMap
    val frame = lines.toDF("g", "text")
    // one map task into one partition keeps the rows in order
    for ((in, parts) <- Seq(frame.coalesce(1) -> 1, frame -> 7);
         (arm, got) <- arms(q(in, parts))(read)) {
      val ctx = s"$parts partitions, $arm arm"
      for ((g, ts) <- tokens) {
        val (est, exactEst) = got(g)
        val exact = ts.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
        assert(exactEst == exact, s"$ctx, group $g: m = $wide is not exact")
        if (parts == 1 && arm == "hash")
          assert(est == ref.fold(ts).counts, s"$ctx, group $g: not the reference fold")
        val bound = ts.size.toDouble / (m + 1)
        assert(est.size <= m && est.keySet.subsetOf(exact.keySet), s"$ctx, group $g: $est")
        for ((t, tf) <- exact) {
          val e = est.getOrElse(t, 0L)
          assert(e <= tf && tf - e <= bound, s"$ctx, group $g: $t est $e of $tf")
        }
      }
    }
  }
}
