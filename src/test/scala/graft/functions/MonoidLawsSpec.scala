package graft.functions

import scala.util.Random

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Property tests (fixed-seed random sampling) for the monoid laws the
  * reference ASSUMES of every `binary_reduce` (reference README.md:10-14,
  * core.py:15-64) but never verifies: associativity, commutativity,
  * identity — plus serialization round-trips for the native aggregate
  * buffers. Floating-point reassociation means laws hold to tolerance, not
  * bit-exactly (the reference's own tests use allclose, core.py:92). */
class MonoidLawsSpec extends AnyFunSuite {

  private val Iters = 300
  private val rnd = new Random(42)

  private def approx(a: Double, b: Double, tol: Double = 1e-9): Boolean =
    (a.isNegInfinity && b.isNegInfinity) ||
      math.abs(a - b) <= tol * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  // ---- logsumexp: GraftAggs.logSumExp (LogSumExpDecl) ----

  private lazy val spark = graft.TestSpark.spark

  /** Per-group logsumexp of (g, x) rows folded over `parts` round-robin
    * partitions — each partition count is a different partial/merge
    * tree over the same rows. */
  private def lseByGroup(rows: Seq[(Int, java.lang.Double)],
                         parts: Int): Map[Int, Double] = {
    import spark.implicits._
    rows.toDF("g", "x").repartition(parts)
      .groupBy(col("g")).agg(GraftAggs.logSumExp(col("x")).as("z"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
  }

  private def twoPass(xs: Seq[Double]): Double = {
    val mx = xs.max
    mx + math.log(xs.map(x => math.exp(x - mx)).sum)
  }

  test("logsumexp merge: associative, commutative, identity") {
    val r = new Random(7)
    val groups = (0 until Iters).map(g =>
      g -> Seq.fill(1 + r.nextInt(6))(r.nextGaussian() * 10))
    val rows = groups.flatMap { case (g, xs) =>
      xs.map(x => g -> java.lang.Double.valueOf(x)) }
    // identity: null rows are absent mass, and a group with no mass at
    // all folds to the identity's -inf
    val withNulls = rows ++ groups.take(50).map(_._1 -> (null: java.lang.Double)) :+
      (Iters -> (null: java.lang.Double))
    val one = lseByGroup(rows, 1)
    val seven = lseByGroup(rows, 7)
    val reversed = lseByGroup(rows.reverse, 7)
    val padded = lseByGroup(withNulls, 7)
    assert(padded(Iters).isNegInfinity, s"empty group: ${padded(Iters)}")
    for ((g, _) <- groups) {
      assert(approx(one(g), seven(g)), s"assoc $g: ${one(g)} vs ${seven(g)}")
      assert(approx(seven(g), reversed(g)), s"comm $g: ${seven(g)} vs ${reversed(g)}")
      assert(approx(one(g), padded(g)), s"identity $g: ${one(g)} vs ${padded(g)}")
    }
  }

  test("logsumexp agrees with the naive two-pass form") {
    val r = new Random(11)
    val groups = (0 until Iters).map(g =>
      g -> Seq.fill(1 + r.nextInt(40))(r.nextGaussian() * 20))
    val rows = groups.flatMap { case (g, xs) =>
      xs.map(x => g -> java.lang.Double.valueOf(x)) }
    for (parts <- Seq(1, 7)) {
      val got = lseByGroup(rows, parts)
      for ((g, xs) <- groups) {
        val want = twoPass(xs)
        assert(approx(got(g), want), s"$parts partitions, group $g: ${got(g)} vs $want")
      }
    }
  }

  // ---- LogWeightedVecAgg (mutable LWVBuf — copy before reuse) ----

  private val lwv = LogWeightedVecAgg(Literal(0.0), Literal(0.0))
  private val D = 4

  private def copyB(b: LWVBuf): LWVBuf =
    new LWVBuf(b.z, if (b.v == null) null else b.v.clone())

  private def randLwv(): LWVBuf = {
    val n = 1 + rnd.nextInt(4)
    var acc = lwv.createAggregationBuffer()
    for (_ <- 1 to n) {
      val single = new LWVBuf(rnd.nextGaussian() * 10,
        Array.fill(D)(rnd.nextGaussian()))
      acc = lwv.merge(acc, single)
    }
    acc
  }

  private def assertSame(x: LWVBuf, y: LWVBuf, ctx: String): Unit = {
    assert(approx(x.z, y.z), s"$ctx z: ${x.z} vs ${y.z}")
    for (i <- 0 until D)
      assert(approx(x.v(i), y.v(i)), s"$ctx v($i): ${x.v(i)} vs ${y.v(i)}")
  }

  test("log-weighted-vec merge: associative, commutative, identity") {
    for (_ <- 1 to Iters) {
      val (a, b, c) = (randLwv(), randLwv(), randLwv())
      val ab_c = lwv.merge(lwv.merge(copyB(a), copyB(b)), copyB(c))
      val a_bc = lwv.merge(copyB(a), lwv.merge(copyB(b), copyB(c)))
      assertSame(ab_c, a_bc, "assoc")
      assertSame(lwv.merge(copyB(a), copyB(b)), lwv.merge(copyB(b), copyB(a)), "comm")
      assertSame(lwv.merge(copyB(a), lwv.createAggregationBuffer()), a, "right id")
      assertSame(lwv.merge(lwv.createAggregationBuffer(), copyB(a)), a, "left id")
    }
  }

  test("log-weighted-vec matches the naive softmax-weighted mean") {
    for (_ <- 1 to Iters) {
      val n = 1 + rnd.nextInt(30)
      val scores = Array.fill(n)(rnd.nextGaussian() * 15)
      val vals = Array.fill(n)(Array.fill(D)(rnd.nextGaussian()))
      var acc = lwv.createAggregationBuffer()
      for (i <- 0 until n)
        acc = lwv.merge(acc, new LWVBuf(scores(i), vals(i).clone()))
      val mx = scores.max
      val ws = scores.map(s => math.exp(s - mx))
      val z = mx + math.log(ws.sum)
      val mean = (0 until D).map(d =>
        (0 until n).map(i => ws(i) * vals(i)(d)).sum / ws.sum)
      assert(approx(acc.z, z))
      for (d <- 0 until D) assert(approx(acc.v(d), mean(d), 1e-8))
    }
  }

  test("LWVBuf serialization round-trips") {
    for (_ <- 1 to 50) {
      val b = randLwv()
      val r = lwv.deserialize(lwv.serialize(b))
      assertSame(b, r, "roundtrip")
      val e = lwv.deserialize(lwv.serialize(lwv.createAggregationBuffer()))
      assert(e.v == null && e.z.isNegInfinity)
    }
  }

  // ---- VecWeightedSumAgg ----

  private val vws = VecWeightedSumAgg(Literal(0.0), Literal(0.0))

  test("vec-weighted-sum merge: associative, commutative, identity; roundtrip") {
    def randV(): VecSumBuf = new VecSumBuf(Array.fill(D)(rnd.nextGaussian()))
    def cp(b: VecSumBuf): VecSumBuf =
      new VecSumBuf(if (b.v == null) null else b.v.clone())
    for (_ <- 1 to Iters) {
      val (a, b, c) = (randV(), randV(), randV())
      val ab_c = vws.merge(vws.merge(cp(a), cp(b)), cp(c))
      val a_bc = vws.merge(cp(a), vws.merge(cp(b), cp(c)))
      for (i <- 0 until D) assert(approx(ab_c.v(i), a_bc.v(i)))
      val ab = vws.merge(cp(a), cp(b))
      val ba = vws.merge(cp(b), cp(a))
      for (i <- 0 until D) assert(approx(ab.v(i), ba.v(i)))
      val id = vws.merge(cp(a), vws.createAggregationBuffer())
      for (i <- 0 until D) assert(id.v(i) == a.v(i))
      val r = vws.deserialize(vws.serialize(a))
      for (i <- 0 until D) assert(r.v(i) == a.v(i))
    }
  }

  // ---- top-k: GraftAggs.topK (Catalyst's collect_top_k; pure
  //      comparisons, so every fold tree gives the same answer EXACTLY) ----

  test("top-k: any partial/merge tree == sort-then-take, ties on the id; " +
       "NaN ranks highest, a null value lowest") {
    import spark.implicits._
    val k = 3
    val r = new Random(11)
    // values from 4 levels (duplicates common), plus NaN and null
    val rows = (0 until Iters).flatMap { g =>
      Seq.fill(1 + r.nextInt(8)) {
        val v: java.lang.Double = r.nextInt(10) match {
          case 0 => null
          case 1 => Double.NaN
          case x => (x % 4).toDouble
        }
        (g, v, r.nextInt(100).toLong)
      }
    }
    def key(v: java.lang.Double, id: Long) =
      (v == null, !(v != null && v.isNaN),
        if (v == null || v.isNaN) 0 else -v.intValue, id)
    val want = rows.groupBy(_._1).map { case (g, rs) =>
      g -> rs.map(x => (x._2, x._3)).sortBy { case (v, id) => key(v, id) }
        .take(k).map { case (v, id) => (Option(v).map(_.doubleValue), id) }
    }
    def topK(in: Seq[(Int, java.lang.Double, Long)], parts: Int) =
      in.toDF("g", "v", "id").repartition(parts)
        .groupBy(col("g")).agg(GraftAggs.topK(k)(col("v"), col("id")).as("t"))
        .select(col("g"), col("t.value"), col("t.id")).collect()
        .map(r => r.getInt(0) -> r.getSeq[java.lang.Double](1)
          .map(v => Option(v).map(_.doubleValue)).zip(r.getSeq[Long](2)))
        .toMap
    // Option[Double] equality: NaN never equals itself, so compare printed
    def shown(m: Map[Int, Seq[(Option[Double], Long)]]) = m.map { case (g, s) =>
      g -> s.map { case (v, id) => (v.toString, id) } }
    for (parts <- Seq(1, 7); in <- Seq(rows, rows.reverse))
      assert(shown(topK(in, parts)) == shown(want), s"$parts partitions")
  }

  // ---- KmvMonoid (pure integer comparisons + dedup — bit-exact AND
  //      idempotent, the only sketch here whose fold is a semilattice) ----

  test("KMV monoid: associative, commutative, IDEMPOTENT, identity — " +
       "EXACTLY; any fold shape == bottom-k of the distinct union") {
    val k = 4
    val m = new KmvMonoid(k)
    def buf(hs: Long*): KmvBuf =
      hs.foldLeft(m.zero)((b, h) => m.combine(b, KmvBuf(Vector(h))))
    for (_ <- 1 to Iters) {
      // small hash universe (0..11) to force heavy duplication across bufs
      def rb() = buf(Seq.fill(1 + rnd.nextInt(6))(rnd.nextInt(12).toLong): _*)
      val (a, b, c) = (rb(), rb(), rb())
      assert(m.combine(m.combine(a, b), c) == m.combine(a, m.combine(b, c)))
      assert(m.combine(a, b) == m.combine(b, a))
      assert(m.combine(a, a) == a, s"not idempotent: $a")
      assert(m.combine(a, m.zero) == a && m.combine(m.zero, a) == a)
    }
    for (_ <- 1 to 50) {
      val hs = Seq.fill(1 + rnd.nextInt(40))(rnd.nextInt(1000).toLong)
      // random binary fold tree, as the MG test (Catalyst's merge orders)
      def go(ts: Seq[Long]): KmvBuf =
        if (ts.isEmpty) m.zero
        else if (ts.size == 1) KmvBuf(Vector(ts.head))
        else {
          val cut = 1 + rnd.nextInt(ts.size - 1)
          m.combine(go(ts.take(cut)), go(ts.drop(cut)))
        }
      val want = hs.distinct.sorted.take(k)
      assert(go(hs).hs == want, s"fold ${go(hs).hs} vs $want")
    }
  }

  // ---- MgMonoid (contents fold-order-sensitive; the GUARANTEE is not) ----

  test("Misra–Gries monoid: never overcounts, undercount ≤ N/(m+1) for every fold shape") {
    val m = 8
    val mg = new MgMonoid(m)
    def fold(tokens: Seq[String]): Map[String, Long] = {
      // random binary fold tree: split, recurse, combine — covers the
      // partial/merge orders Catalyst can produce
      def go(ts: Seq[String]): MgBuf =
        if (ts.isEmpty) mg.zero
        else if (ts.size == 1) MgBuf(Map(ts.head -> 1L))
        else {
          val cut = 1 + rnd.nextInt(ts.size - 1)
          mg.combine(go(ts.take(cut)), go(ts.drop(cut)))
        }
      go(tokens).counts
    }
    for (_ <- 1 to 50) {
      // zipf-ish stream over 30 symbols: low ids heavily repeated
      val n = 50 + rnd.nextInt(400)
      val tokens = Seq.fill(n)(s"t${(rnd.nextInt(30) * rnd.nextDouble()).toInt}")
      val exact = tokens.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
      val est = fold(tokens)
      val bound = n.toDouble / (m + 1)
      assert(est.size <= m, s"buffer ${est.size} exceeds m=$m")
      for ((t, e) <- est) {
        assert(e <= exact(t), s"$t overcounted: $e > ${exact(t)}")
        assert(exact(t) - e <= bound, s"$t undercount ${exact(t) - e} > $bound")
      }
      // heavy symbols (true count > bound) can never be evicted entirely
      for ((t, c) <- exact if c > bound)
        assert(est.contains(t), s"heavy $t (count $c > $bound) missing")
    }
  }

  test("Misra–Gries monoid: adversarial all-distinct stream stays bounded and sane") {
    // uniform all-distinct stream: every insert past saturation triggers a
    // flush whose threshold is 1, near-emptying the buffer — the worst
    // case for the truncation path. Size must stay ≤ m, estimates ≤ 1,
    // and the bound (n/(m+1) ≥ any true count of 1) holds trivially.
    val m = 8
    val mg = new MgMonoid(m)
    val folded = (1 to 500).foldLeft(mg.zero)((b, i) =>
      mg.combine(b, MgBuf(Map(s"u$i" -> 1L))))
    assert(folded.counts.size <= m)
    assert(folded.counts.values.forall(c => c >= 1L && c <= 1L))
  }
}
