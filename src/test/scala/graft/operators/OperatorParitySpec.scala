package graft.operators

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.VecOps

/** Differential tests at the reference's bench shapes (M = N = 1024,
  * F = D = 32 — reference attention.py:97-105): every monoid operator vs a
  * naive Spark-built-ins dual (the `regular_*` oracle pattern of
  * reference attention.py:72-73, core.py:67-115), tolerance-based like the
  * reference's allclose. */
class OperatorParitySpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  import spark.implicits._

  private val M = 1024
  private val N = 1024
  private val F = 32
  private val rnd = new Random(123)

  private lazy val emb: DataFrame =
    (0 until N).map(i => (i.toLong, Array.fill(F)(rnd.nextGaussian())))
      .toDF("id", "vec").cache()

  private def qSide = emb.filter(col("id") < M)
    .select(col("id").as("q_id"), col("vec").as("qvec"))
  private def kvSide = emb
    .select(col("id").as("k_id"), col("vec").as("kvec"), col("vec").as("vvec"))

  private def approx(a: Double, b: Double, tol: Double = 1e-9): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** naive two-pass softmax attention from built-ins only. */
  private def naiveAttention: DataFrame = {
    val sc = VecOps.dot(col("qvec"), col("kvec"))
    val pairs = kvSide.crossJoin(qSide)
      .select(col("q_id"), sc.as("sc"), col("vvec"))
    val mx = pairs.groupBy("q_id").agg(max("sc").as("mx"))
    pairs.join(mx, "q_id")
      .select(col("q_id"), col("mx"), exp(col("sc") - col("mx")).as("wt"), col("vvec"))
      .select(col("q_id"), col("mx"), col("wt"), posexplode(col("vvec")))
      .groupBy("q_id", "pos")
      .agg(first("mx").as("mx"), sum("wt").as("sw"),
        (sum(col("wt") * col("col")) / sum("wt")).as("v"))
      .select(col("q_id"), col("pos").cast("long").as("d"),
        (col("mx") + log(col("sw"))).as("z"), col("v"))
  }

  private def collectAttention(df: DataFrame): Map[(Long, Long), (Double, Double)] =
    // select order: q_id(0), pos(1), col=v(2), z(3)
    df.select(col("q_id"), posexplode(col("out")), col("z"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong) -> (r.getDouble(2), r.getDouble(3)))
      .toMap

  test("attention (broadcast plan) matches the naive two-pass dual at 1024x1024x32") {
    val got = collectAttention(Attention.attention(qSide, kvSide))
    val want = naiveAttention.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(3), r.getDouble(2)))
      .toMap
    assert(got.size == M * F)
    assert(got.keySet == want.keySet)
    for ((k, (v, z)) <- got) {
      assert(approx(v, want(k)._1, 1e-8), s"$k v: $v vs ${want(k)._1}")
      assert(approx(z, want(k)._2), s"$k z: $z vs ${want(k)._2}")
    }
  }

  test("blocked (2-D tiled) attention equals the broadcast plan") {
    val a = collectAttention(Attention.attention(qSide, kvSide))
    val b = collectAttention(
      Attention.attention(qSide, kvSide, mode = PairPlan.Blocked))
    assert(a.keySet == b.keySet)
    for ((k, (v, z)) <- a) {
      assert(approx(v, b(k)._1, 1e-8))
      assert(approx(z, b(k)._2, 1e-8))
    }
  }

  test("mlp matches the explode-based naive dual") {
    val x = qSide.select(col("q_id").as("b_id"), col("qvec").as("xvec"))
    val pq = kvSide.select(col("k_id"), col("kvec").as("pvec"), col("vvec").as("qvec"))
    val got = Mlp.mlp(x, pq).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val h = greatest(VecOps.dot(col("xvec"), col("pvec")), lit(0.0))
    val want = pq.crossJoin(x)
      .select(col("b_id"), h.as("h"), col("qvec"))
      .select(col("b_id"), col("h"), posexplode(col("qvec")))
      .groupBy(col("b_id"), col("pos"))
      .agg(sum(col("h") * col("col")).as("v"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong) -> r.getDouble(2)).toMap
    assert(got.keySet == want.keySet && got.size == M * F)
    for ((k, v) <- got) assert(approx(v, want(k), 1e-8), s"$k: $v vs ${want(k)}")
  }

  test("xentropy and entropy match their closed forms") {
    val sc = VecOps.dot(col("mvec"), col("kvec"))
    val pred = qSide.select(col("q_id").as("m_id"), col("qvec").as("mvec"))
      .withColumn("label", pmod(col("m_id") * 7 + 3, lit(N.toLong)))
    val trg = kvSide.select(col("k_id"), col("kvec"))

    val pairs = trg.crossJoin(pred)
      .select(col("m_id"), col("label"), col("k_id"), sc.as("sc"))
    val mx = pairs.groupBy("m_id").agg(max("sc").as("mx"))
    val closed = pairs.join(mx, "m_id")
      .groupBy("m_id")
      .agg(
        (first("mx") + log(sum(exp(col("sc") - col("mx"))))).as("lse"),
        sum(when(col("k_id") === col("label"), col("sc")).otherwise(0.0)).as("hit"),
        (sum(exp(col("sc") - col("mx")) * col("sc")) / sum(exp(col("sc") - col("mx"))))
          .as("meanlogit"))
      .collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap

    val gotX = XEntropy.xentropy(pred, trg).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val gotH = Entropy.entropy(pred.drop("label"), trg).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(gotX.size == M && gotH.size == M)
    for ((m, (lse2, hit, meanlogit)) <- closed) {
      assert(approx(gotX(m), lse2 - hit, 1e-8), s"xentropy $m")
      assert(approx(gotH(m), lse2 - meanlogit, 1e-8), s"entropy $m")
    }
  }

  test("sampler picks the argmax of the perturbed score with a valid weight") {
    val pred = qSide.select(col("q_id").as("m_id"), col("qvec").as("mvec"))
    val trg = kvSide.select(col("k_id"), col("kvec"))
    val got = Sampler.sampler(pred, trg, seed = "spec").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.size == M)

    val sc = VecOps.dot(col("mvec"), col("kvec"))
    val noise = VecOps.pairGumbel(VecOps.seed60("spec"), col("m_id"), col("k_id"))
    val want = trg.crossJoin(pred)
      .select(col("m_id"), col("k_id"), (sc + noise).as("pert"))
      .groupBy("m_id").agg(max_by(col("k_id"), col("pert")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((m, (c, w)) <- got) {
      assert(c == want(m), s"sampler pick $m")
      assert(w > 0.0 && w <= 1.0, s"weight $w out of (0,1]")
    }
  }
}
