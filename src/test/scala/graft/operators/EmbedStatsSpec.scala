package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.spark

/** Differential tests for [[EmbedStats]]: the distributed Gram matrix and
  * power-iteration step must agree with a straightforward local
  * computation on the same quantized integers. */
class EmbedStatsSpec extends AnyFunSuite {

  import spark.implicits._

  private val dim = 4
  private val n = 50
  // deterministic small corpus, |x| < 1
  private val vecs: Seq[Array[Double]] = (0 until n).map { r =>
    Array.tabulate(dim)(d => math.sin(r * 7 + d * 3) * 0.9)
  }
  private def df = vecs.map(v => Tuple1(v)).toDF("vec")

  private def q(x: Double): Long = math.floor(x * EmbedStats.Q + 0.5).toLong

  test("gram matches the local quantized outer-product sum") {
    val got = EmbedStats.gram(df, dim).collect()
      .map { case Row(i: Long, j: Long, s: Long, cnt: Long, g: Double) =>
        ((i, j), (s, cnt, g))
      }.toMap
    assert(got.size === dim * (dim + 1) / 2)
    for (i <- 0 until dim; j <- i until dim) {
      val expS = vecs.map(v => q(v(i)) * q(v(j))).sum
      val (s, cnt, g) = got((i.toLong, j.toLong))
      assert(s === expS, s"cell ($i,$j)")
      assert(cnt === n.toLong)
      assert(g === math.floor(expS / EmbedStats.Q2 * 1e6 + 0.5) / 1e6)
    }
  }

  test("powerTrain: round 1 reproduces powerStep; Rayleigh is monotone") {
    val one = EmbedStats.powerTrain(df, 1, dim).collect()
      .map { case Row(p: Long, v: Double, l: Double) => p -> (v, l) }.toMap
    val step = EmbedStats.powerStep(df).collect()
      .map { case Row(p: Long, v: Double, l: Double) => p -> (v, l) }.toMap
    assert(one == step) // identical quantized round-0 direction -> same bits

    // Rayleigh quotient of power iteration on PSD X^T X is nondecreasing;
    // the 1e-4 re-quantization between rounds perturbs it below 1e-3
    val lams = (1 to 3).map(t =>
      EmbedStats.powerTrain(df, t, dim).collect().head.getDouble(2))
    assert(lams(1) >= lams(0) - 1e-3 && lams(2) >= lams(1) - 1e-3, lams)
    // and the trained direction is unit-norm
    val v3 = EmbedStats.powerTrain(df, 3, dim).collect()
      .map(_.getDouble(1))
    assert(math.abs(v3.map(x => x * x).sum - 1.0) < 1e-3)
  }

  test("powerTrainConverged: stops by criterion, equals the fixed-count chain") {
    // a loose grid threshold fires after round 1, and round 1's output is
    // powerTrain(1) (identical chain)
    val loose = EmbedStats.powerTrainConverged(df, 100000L, 5, dim)
    assert(loose.select(col("iters")).head().getLong(0) == 1L)
    assert(loose.drop("iters").exceptAll(EmbedStats.powerTrain(df, 1, dim))
      .count() == 0)
    // epsGrid = 0 can never fire: maxIters bounds the loop, and the
    // stopping round equals powerTrain at that depth
    val capped = EmbedStats.powerTrainConverged(df, 0L, 3, dim)
    assert(capped.select(col("iters")).head().getLong(0) == 3L)
    assert(capped.drop("iters").exceptAll(EmbedStats.powerTrain(df, 3, dim))
      .count() == 0)
  }

  test("powerDeflate: v2 is unit-norm, orthogonal to v1, with lam2 <= lam1") {
    val lam1 = EmbedStats.powerTrain(df, 3, dim).collect().head.getDouble(2)
    val rows = EmbedStats.powerDeflate(df, 3, dim).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.length == dim)
    val v2 = rows.sortBy(_._1).map(_._2)
    assert(math.abs(v2.map(x => x * x).sum - 1.0) < 1e-3)
    // deflation removed the top component: cos(v1, v2) ~ 0 on the grid
    assert(math.abs(rows.head._4) < 1e-2, s"ortho=${rows.head._4}")
    // the deflated matrix's top eigenvalue cannot exceed the original's
    // (quantization slack on the 1e-4 lambda grid)
    assert(rows.head._3 <= lam1 + 1e-3, s"lam2=${rows.head._3} lam1=$lam1")
  }

  test("powerStep output is unit-norm and matches the local fold") {
    val rows = EmbedStats.powerStep(df).collect()
      .map { case Row(pos: Long, v1n: Double, lam: Double) => (pos, v1n, lam) }
      .sortBy(_._1)
    assert(rows.length === dim)
    // local replay of the exact integer pipeline
    def u01(s: String): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.substring(0, 15), 16).toDouble + 0.5) /
        1152921504606846976.0
    }
    val v0 = Array.tabulate(dim)(d =>
      math.floor((u01(s"pi:$d") - 0.5) * EmbedStats.Q + 0.5).toLong)
    val v1raw = Array.fill(dim)(0L)
    vecs.foreach { v =>
      val xq = v.map(q)
      val s = xq.zip(v0).map { case (a, b) => a * b }.sum
      val s3 = math.floor(s.toDouble / EmbedStats.Q).toLong
      for (d <- 0 until dim) v1raw(d) += s3 * xq(d)
    }
    val nrm = math.sqrt(v1raw.map(x => x.toDouble * x.toDouble).sum) max 1e-12
    for (d <- 0 until dim) {
      val exp = math.floor(v1raw(d) / nrm * 1e6 + 0.5) / 1e6
      assert(rows(d)._2 === exp, s"v1n($d)")
    }
    // the normalized vector is unit-norm up to quantization
    val gotNorm = math.sqrt(rows.map(r => r._2 * r._2).sum)
    assert(math.abs(gotNorm - 1.0) < 1e-3)
    // Rayleigh quotient: identical across rows, sane magnitude
    assert(rows.map(_._3).distinct.length === 1)
  }

  /** The projection as one loop: both chains re-derived inline, each
    * round over a cached quantized corpus, then the two exact dots — the
    * reference [[EmbedStats.projectTop2From]] resumes from the chains. */
  private def projectTop2(vecs: org.apache.spark.sql.DataFrame,
                          iters: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{typedLit => tl}
    val xqId = Caching.eager(
      vecs.select(col("vec_id"), EmbedStats.qvec(col("vec")).as("xq")))
    def dot(v: Array[Long]) =
      aggregate(zip_with(col("xq"), tl(v.toSeq), (a, b) => a * b),
        lit(0L), (acc, x) => acc + x)
    var vq1 = EmbedStats.v0Collected(vecs, dim)
    for (_ <- 0 until iters) vq1 = EmbedStats.powerRoundQ(xqId, vq1)._2
    val d00 = vq1.map(v => v * v).sum
    val v1lit = tl(vq1.toSeq)
    val xq2 = Caching.eager(xqId.select(col("xq"), dot(vq1).as("proj"))
      .select(transform(col("xq"), (x, i) =>
        x - floor(col("proj").cast("double") *
          element_at(v1lit, i + 1).cast("double") / lit(d00.toDouble) +
          lit(0.5)).cast("long")).as("xq")))
    var vq2 = EmbedStats.v0Collected(vecs, dim)
    for (_ <- 0 until iters) vq2 = EmbedStats.powerRoundQ(xq2, vq2)._2
    val res = xqId.select(col("vec_id"), dot(vq1).as("c1"), dot(vq2).as("c2"))
      .localCheckpoint(eager = true)
    xqId.unpersist(false); xq2.unpersist(false)
    res
  }

  test("chain-resumed forms reproduce the loop forms bit-for-bit (r16)") {
    val iters = 3
    def same(a: org.apache.spark.sql.DataFrame,
             b: org.apache.spark.sql.DataFrame): Unit = {
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    }
    val (c1, c2) = EmbedStats.trainChains(df, iters, dim)
    // powerTrainFrom(round iters−1 direction) == the full iters-round loop
    same(EmbedStats.powerTrainFrom(df, c1(iters - 2)),
      EmbedStats.powerTrain(df, iters, dim))
    // powerDeflateFrom(chains) == the full two-chain deflation
    same(EmbedStats.powerDeflateFrom(df, c1(iters - 1),
        c2(iters - 2), c2(iters - 1)),
      EmbedStats.powerDeflate(df, iters, dim))
    // projectTop2From(chains) == the full projection trainer+apply
    val dfId = vecs.zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "vec")
    same(EmbedStats.projectTop2From(dfId, c1(iters - 1), c2(iters - 1)),
      projectTop2(dfId, iters))
  }
}
