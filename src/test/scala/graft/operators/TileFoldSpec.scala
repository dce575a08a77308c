package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.{AttentionTileFold, EntropyTileFold, GraftAggs, LWVBuf, LogWeightedVecAgg, Mix60Kernel, MlpTileFold, SamplerTileFold, TileCache, VecOps, XEntropyTileFold}

/** The tile folds behind attention, mlp, entropy, xentropy and the sampler
  * against the pair-row plan they replace: `PairPlan.cross` + the per-pair
  * aggregates, written here as the reference. Every arm, partition count
  * and a task holding several broadcast chunks must agree with it to 1e-12
  * relative; the sampler's sampled index must be the reference's exactly. */
class TileFoldSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  import spark.implicits._

  private def vec(r: scala.util.Random, n: Int, lo: Double, hi: Double) =
    Array.fill(n)(lo + (hi - lo) * r.nextDouble())

  private def qSide(m: Int, f: Int, seed: Int): DataFrame = {
    val r = new scala.util.Random(seed)
    (0 until m).map(i => (i.toLong * 3, vec(r, f, -1, 1))).toDF("q_id", "qvec")
  }

  /** k_id ascending from 0, so a causal mask keeps a prefix per q_id;
    * values positive, so the folds' relative error has no cancellation. */
  private def kvSide(n: Int, f: Int, d: Int, seed: Int): DataFrame = {
    val r = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, vec(r, f, -1, 1), vec(r, d, 0.5, 1.5)))
      .toDF("k_id", "kvec", "vvec")
  }

  private def parts(df: DataFrame, n: Int) =
    if (n == 1) df.coalesce(1) else df.repartition(n)

  private def refAttention(q: DataFrame, kv: DataFrame, scale: Boolean,
                           causal: Boolean, mode: PairPlan.Mode) = {
    val all = PairPlan.cross(kv, q, mode)
    val pairs = if (causal) all.filter(col("k_id") <= col("q_id")) else all
    val raw = VecOps.dot(col("qvec"), col("kvec"))
    val sc = if (scale) raw / sqrt(size(col("qvec")).cast("double")) else raw
    pairs.select(col("q_id"), sc.as("sc"), col("vvec"))
      .groupBy("q_id")
      .agg(GraftAggs.logWeightedVec(col("sc"), col("vvec")).as("lw"))
      .select(col("q_id"), col("lw.z").as("z"), col("lw.v").as("out"))
  }

  private def refMlp(x: DataFrame, pq: DataFrame, mode: PairPlan.Mode) =
    PairPlan.cross(pq, x, mode)
      .select(col("b_id"),
        greatest(VecOps.dot(col("xvec"), col("pvec")), lit(0.0)).as("h"),
        col("qvec"))
      .groupBy(col("b_id"))
      .agg(GraftAggs.vecWeightedSum(col("h"), col("qvec")).as("out"))
      .select(col("b_id"), posexplode(col("out")))
      .select(col("b_id"), col("pos").cast("long").as("d"), col("col").as("v"))

  private def close(a: Double, b: Double): Boolean =
    a == b || (a.isNaN && b.isNaN) ||
      math.abs(a - b) <= 1e-12 * math.max(math.abs(a), math.abs(b))

  private def attnRows(df: DataFrame): Map[Long, (Double, Seq[Double])] =
    df.collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getSeq[Double](2))).toMap

  private def assertAttn(got: DataFrame, want: DataFrame, ctx: String): Unit = {
    val (g, w) = (attnRows(got), attnRows(want))
    assert(g.nonEmpty && g.keySet == w.keySet, ctx)
    for ((k, (z, v)) <- g) {
      val (wz, wv) = w(k)
      assert(close(z, wz), s"$ctx q_id $k: z $z vs $wz")
      assert(v.length == wv.length && v.zip(wv).forall { case (a, b) => close(a, b) },
        s"$ctx q_id $k: v $v vs $wv")
    }
  }

  private def assertMlp(got: DataFrame, want: DataFrame, ctx: String): Unit = {
    def rows(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val (g, w) = (rows(got), rows(want))
    assert(g.nonEmpty && g.keySet == w.keySet, ctx)
    for ((k, v) <- g) assert(close(v, w(k)), s"$ctx $k: $v vs ${w(k)}")
  }

  private def mlpSides(kv: DataFrame, q: DataFrame) =
    (q.select(col("q_id").as("b_id"), col("qvec").as("xvec")),
      kv.select(col("k_id"), col("kvec").as("pvec"), col("vvec").as("qvec")))

  private val modes = Seq(PairPlan.Broadcast, PairPlan.Blocked, PairPlan.Auto)

  for (mode <- modes; n <- Seq(1, 7)) {
    test(s"attention plain, scaled and causal, and mlp match the pair-row " +
        s"plan: $mode, KV in $n partition(s)") {
      val q = qSide(12, 16, 1)
      val kv = parts(kvSide(300, 16, 4, 2), n)
      for (scale <- Seq(false, true)) {
        assertAttn(Attention.attention(q, kv, scale, mode),
          refAttention(q, kv, scale, causal = false, mode),
          s"attention scale=$scale $mode/$n")
        assertAttn(Attention.attentionCausal(q, kv, scale, mode),
          refAttention(q, kv, scale, causal = true, mode),
          s"causal scale=$scale $mode/$n")
      }
      val (x, pq) = mlpSides(kv, q)
      assertMlp(Mlp.mlp(x, pq, mode), refMlp(x, pq, mode), s"mlp $mode/$n")
    }
  }

  test("a 5000-row KV in one partition: one task folds several broadcast " +
      "chunks, each decoded under its own tile id") {
    val q = qSide(8, 16, 3)
    val kv = kvSide(5000, 16, 4, 4).coalesce(1)
    val tiles = PairPlan.tiles(kv, q, PairPlan.Broadcast)
    val chunks = tiles.select(spark_partition_id().as("p"), col("__tid"))
      .distinct().collect()
    assert(chunks.map(_.getInt(0)).distinct.length == 1 && chunks.length >= 3,
      s"expected one task holding >= 3 chunks, got ${chunks.toSeq}")
    // without whole-stage codegen every chunk row arrives in the one
    // reused buffer of the serializer's projection
    val key = "spark.sql.codegen.wholeStage"
    val old = spark.conf.get(key)
    try for (wholeStage <- Seq("true", "false")) {
      spark.conf.set(key, wholeStage)
      assertAttn(Attention.attention(q, kv, scale = true, PairPlan.Broadcast),
        refAttention(q, kv, scale = true, causal = false, PairPlan.Broadcast),
        s"attention, 5000-row KV, wholeStage=$wholeStage")
      val (x, pq) = mlpSides(kv, q)
      assertMlp(Mlp.mlp(x, pq, PairPlan.Broadcast),
        refMlp(x, pq, PairPlan.Broadcast), s"mlp, 5000-row KV, wholeStage=$wholeStage")
    } finally spark.conf.set(key, old)
  }

  // ---- entropy, xentropy and the sampler: scalar scores per pair ----

  private val seed = "tile-spec"

  private def refEntropy(pred: DataFrame, trg: DataFrame, mode: PairPlan.Mode) =
    PairPlan.cross(trg, pred, mode)
      .select(col("m_id"), VecOps.dot(col("mvec"), col("kvec")).as("sc"))
      .groupBy("m_id")
      .agg(GraftAggs.logSumExpMean(col("sc"), col("sc")).as("lw"))
      .select(col("m_id"), (col("lw.z") - col("lw.v")).as("h"))

  private def refXEntropy(pred: DataFrame, trg: DataFrame, mode: PairPlan.Mode) =
    PairPlan.cross(trg, pred, mode)
      .select(col("m_id"), col("label"), col("k_id"),
        VecOps.dot(col("mvec"), col("kvec")).as("sc"))
      .groupBy("m_id")
      .agg(GraftAggs.logSumExp(col("sc")).as("p"),
        sum(when(col("k_id") === col("label"), col("sc")).otherwise(0.0)).as("n"))
      .select(col("m_id"), (col("p") - col("n")).as("loss"))

  private def refSampler(pred: DataFrame, trg: DataFrame, mode: PairPlan.Mode) = {
    val noise = VecOps.pairGumbel(VecOps.seed60(seed), col("m_id"), col("k_id"))
    PairPlan.cross(trg, pred, mode)
      .select(col("m_id"), col("k_id"), VecOps.dot(col("mvec"), col("kvec")).as("sc"))
      .select(col("m_id"), col("k_id"), col("sc"), (col("sc") + noise).as("pert"))
      .groupBy("m_id")
      .agg(GraftAggs.argMaxPert(col("pert"), col("sc"), col("k_id")).as("top"),
        GraftAggs.logSumExp(col("sc")).as("tz"))
      .select(col("m_id"), col("top.k_id").as("c"),
        exp(col("top.sc") - col("tz")).as("weight"))
  }

  /** m_id -> the row's other columns. */
  private def byId(df: DataFrame): Map[Long, Seq[Any]] =
    df.collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap

  private def assertScalar(got: DataFrame, want: DataFrame, ctx: String): Unit = {
    val (g, w) = (byId(got), byId(want))
    assert(g.nonEmpty && g.keySet == w.keySet, s"$ctx: ${g.keySet} vs ${w.keySet}")
    for ((k, vs) <- g; (a, b) <- vs.zip(w(k))) {
      val same = (a, b) match {
        case (x: Double, y: Double) => close(x, y)
        case (x, y) => x == y
      }
      assert(same, s"$ctx m_id $k: $vs vs ${w(k)}")
    }
  }

  /** The three kernels and their references on one (pred, trg); pred has
    * (m_id, mvec, label), trg (k_id, kvec). */
  private def assertScalarKernels(pred: DataFrame, trg: DataFrame,
                                  mode: PairPlan.Mode, ctx: String): Unit = {
    val noLabel = pred.drop("label")
    assertScalar(Entropy.entropy(noLabel, trg, mode), refEntropy(noLabel, trg, mode),
      s"entropy $ctx")
    assertScalar(XEntropy.xentropy(pred, trg, mode), refXEntropy(pred, trg, mode),
      s"xentropy $ctx")
    assertScalar(Sampler.sampler(noLabel, trg, seed, mode),
      refSampler(noLabel, trg, mode), s"sampler $ctx")
  }

  private def predSide(m: Int, f: Int, seed: Int, labels: Int): DataFrame = {
    val r = new scala.util.Random(seed)
    (0 until m).map(i => (i.toLong, vec(r, f, -1, 1), r.nextInt(labels).toLong))
      .toDF("m_id", "mvec", "label")
  }

  private def trgSide(n: Int, f: Int, seed: Int): DataFrame =
    kvSide(n, f, 1, seed).select(col("k_id"), col("kvec"))

  for (mode <- Seq(PairPlan.Broadcast, PairPlan.Blocked); n <- Seq(1, 7)) {
    test(s"entropy, xentropy and the sampler match the pair-row plan: " +
        s"$mode, targets in $n partition(s)") {
      assertScalarKernels(predSide(12, 16, 21, 300), parts(trgSide(300, 16, 22), n),
        mode, s"$mode/$n")
    }
  }

  test("entropy, xentropy and the sampler over a 5000-row target side in " +
      "one partition: several chunks a task, with and without whole-stage codegen") {
    val pred = predSide(8, 16, 23, 5000)
    val trg = trgSide(5000, 16, 24).coalesce(1)
    val chunks = PairPlan.tiles(trg, pred, PairPlan.Broadcast)
      .select(spark_partition_id().as("p"), col("__tid")).distinct().collect()
    assert(chunks.map(_.getInt(0)).distinct.length == 1 && chunks.length >= 3,
      s"expected one task holding >= 3 chunks, got ${chunks.toSeq}")
    val key = "spark.sql.codegen.wholeStage"
    val old = spark.conf.get(key)
    try for (wholeStage <- Seq("true", "false")) {
      spark.conf.set(key, wholeStage)
      assertScalarKernels(pred, trg, PairPlan.Broadcast, s"wholeStage=$wholeStage")
    } finally spark.conf.set(key, old)
  }

  /** pairGumbel(seed, m_id, k_id) as the plan computes it. */
  private def gumbel(mId: Long, kId: Long): Double = {
    val u = (Mix60Kernel.mix60(VecOps.seed60(seed), mId, kId).toDouble + 0.5) /
      1152921504606846976.0
    -StrictMath.log(-StrictMath.log(u))
  }

  test("the sampler's tile winner is the pair plan's: tied perts break on " +
      "sc then k_id; NaN, +-0.0 and null scores; null ids") {
    // at 2^55 a double steps by 8, so sc + noise rounds onto the grid:
    // a pair with noise in (4, 12) ties in pert with the pair one step up
    // whose noise is in (-4, 4), and two equal scores with noise in
    // (-4, 4) tie in pert and sc
    val big = math.pow(2, 55)
    val ka = (1000L until 4000L).filter(k => gumbel(0L, k) > 4 && gumbel(0L, k) < 12).max
    val small = (1000L until ka).filter(k => math.abs(gumbel(0L, k)) < 4)
    val (kb, kc, kd) = (small(0), small(1), small(2))
    assert(big + gumbel(0L, ka) == (big + 8) + gumbel(0L, kb))
    assert((big + 8) + gumbel(0L, kc) == (big + 8) + gumbel(0L, kd))
    // ka ties kb..kd in pert and has the largest k_id, but the lower sc
    val ties = Seq((ka, Array(big)), (kb, Array(big + 8)), (kc, Array(big + 8)),
      (kd, Array(big + 8))).toDF("k_id", "kvec")
    val odd = Seq[(Option[Long], Array[Double])](
      (Some(1L), Array(Double.NaN)), (Some(2L), Array(Double.NaN)),
      (Some(3L), Array(0.0)), (Some(3L), Array(-0.0)), (Some(4L), null),
      (None, Array(1.0)), (Some(5L), Array(0.5)), (Some(6L), Array(-2.0)))
      .toDF("k_id", "kvec")
    val pred = Seq[(Long, Array[Double], Option[Long])](
      (0L, Array(1.0), Some(3L)), (1L, Array(-1.0), Some(4L)),
      (2L, Array(0.0), Some(1L)), (3L, null, None), (5L, Array(1e-3), Some(99L)))
      .toDF("m_id", "mvec", "label")
    val noLabel = pred.drop("label")
    for (mode <- Seq(PairPlan.Broadcast, PairPlan.Blocked); n <- Seq(1, 3)) {
      val c = Sampler.sampler(noLabel, parts(ties, n), seed, mode)
        .filter(col("m_id") === 0L).select("c").head().getLong(0)
      assert(c == kd, s"$mode/$n: tie winner $c, want $kd")
      for (t <- Seq(ties.union(odd), odd, odd.filter(!isnan(element_at(col("kvec"), 1)))
          .union(odd.filter(col("kvec").isNull))))
        assertScalar(Sampler.sampler(noLabel, parts(t, n), seed, mode),
          refSampler(noLabel, parts(t, n), mode), s"edge sampler $mode/$n")
      // entropy and xentropy on the same odd rows (NaN scores give NaN)
      assertScalarKernels(pred, parts(odd, n), mode, s"edge $mode/$n")
    }
  }

  test("xentropy: a label absent from a tile or from the targets, a null " +
      "label and a duplicated k_id") {
    val trg = trgSide(600, 8, 25).union(trgSide(600, 8, 26).filter(col("k_id") === 7L))
    val pred = predSide(6, 8, 27, 10)
      .union(Seq[(Long, Array[Double], Option[Long])](
        (100L, Array.fill(8)(0.25), Some(7L)), (101L, Array.fill(8)(0.5), None),
        (102L, Array.fill(8)(-0.5), Some(5000L))).toDF("m_id", "mvec", "label"))
    for (mode <- Seq(PairPlan.Broadcast, PairPlan.Blocked); n <- Seq(1, 7)) {
      val t = parts(trg, n)
      assertScalar(XEntropy.xentropy(pred, t, mode), refXEntropy(pred, t, mode),
        s"xentropy labels $mode/$n")
    }
  }

  // ---- the folds as functions of one (query row, tile) ----

  private val kvType = StructType(Seq(StructField("k_id", LongType),
    StructField("kvec", ArrayType(DoubleType)), StructField("vvec", ArrayType(DoubleType))))
  private val pqType = StructType(Seq(StructField("k_id", LongType),
    StructField("pvec", ArrayType(DoubleType)), StructField("qvec", ArrayType(DoubleType))))

  private def attnFold(kvs: Seq[(Long, Array[Double], Array[Double])],
                       q: Array[Double], qId: Long = 0L, scale: Boolean = false,
                       causal: Boolean = false): InternalRow =
    AttentionTileFold(BoundReference(0, ArrayType(DoubleType), true),
      BoundReference(1, ArrayType(kvType), true), BoundReference(2, LongType, false),
      BoundReference(3, LongType, true), scale, causal)
      .fold(new TileCache, arr(q), tile(kvs), 0L, qIdNull = false, qId)

  private def mlpFold(pqs: Seq[(Long, Array[Double], Array[Double])],
                      x: Array[Double]): ArrayData =
    MlpTileFold(BoundReference(0, ArrayType(DoubleType), true),
      BoundReference(1, ArrayType(pqType), true), BoundReference(2, LongType, false))
      .fold(new TileCache, arr(x), tile(pqs), 0L)

  private def arr(v: Array[Double]) = new GenericArrayData(v.map(x => x: Any))
  private def tile(rows: Seq[(Long, Array[Double], Array[Double])]) =
    new GenericArrayData(rows.map { case (id, a, b) =>
      InternalRow(id, arr(a), arr(b)): Any }.toArray)

  private def rows(n: Int, seed: Int, idFrom: Long = 0L) = {
    val r = new scala.util.Random(seed)
    (0 until n).map(i => (idFrom + i, vec(r, 6, -2, 2), vec(r, 3, 0.5, 1.5)))
  }

  test("monoid law: fold(A ++ B) equals merge(fold A, fold B), attention and mlp") {
    val q = vec(new scala.util.Random(9), 6, -1, 1)
    val (a, b) = (rows(40, 10), rows(25, 11, idFrom = 40))
    val lwv = LogWeightedVecAgg(BoundReference(0, DoubleType, false),
      BoundReference(1, ArrayType(DoubleType), false))
    def buf(r: InternalRow) = new LWVBuf(r.getDouble(0), r.getArray(1).toDoubleArray())
    val whole = attnFold(a ++ b, q)
    val merged = lwv.merge(buf(attnFold(a, q)), buf(attnFold(b, q)))
    assert(close(whole.getDouble(0), merged.z))
    assert(whole.getArray(1).toDoubleArray().zip(merged.v).forall { case (x, y) => close(x, y) })
    val mWhole = mlpFold(a ++ b, q).toDoubleArray()
    val mParts = mlpFold(a, q).toDoubleArray().zip(mlpFold(b, q).toDoubleArray())
      .map { case (x, y) => x + y }
    assert(mWhole.zip(mParts).forall { case (x, y) => close(x, y) })
  }

  test("an empty tile, or a causal tile with every key masked, folds to null") {
    assert(attnFold(Nil, Array(1.0)) == null)
    assert(mlpFold(Nil, Array(1.0)) == null)
    assert(attnFold(rows(5, 12, idFrom = 10), Array.fill(6)(1.0), qId = 9L,
      causal = true) == null)
    // the interpreted path agrees
    val e = MlpTileFold(BoundReference(0, ArrayType(DoubleType), true),
      BoundReference(1, ArrayType(pqType), true), BoundReference(2, LongType, false))
    assert(e.eval(InternalRow(arr(Array(1.0)), tile(Nil), 0L)) == null)
  }

  test("scores of +-700 stay finite: z = logsumexp, v = the softmax mean") {
    val kvs = Seq((0L, Array(-700.0), Array(5.0)), (1L, Array(700.0), Array(1.0)),
      (2L, Array(699.0), Array(3.0)))
    val r = attnFold(kvs, Array(1.0))
    val e1 = math.exp(-1.0)
    assert(close(r.getDouble(0), 700.0 + math.log1p(e1)))
    assert(close(r.getArray(1).getDouble(0), (1.0 + 3.0 * e1) / (1.0 + e1)))
    // the same tile through the DataFrame path and the pair-row reference
    val kv = kvs.toDF("k_id", "kvec", "vvec")
    val q = Seq((0L, Array(1.0))).toDF("q_id", "qvec")
    for (mode <- Seq(PairPlan.Broadcast, PairPlan.Blocked))
      assertAttn(Attention.attention(q, kv, scale = false, mode),
        refAttention(q, kv, scale = false, causal = false, mode), s"+-700 $mode")
  }

  test("relu keeps NaN like greatest, and a null dot counts as 0.0") {
    val x = Seq((0L, Array(1.0, 1.0)), (1L, Array(-1.0, 0.0))).toDF("b_id", "xvec")
    val pq = Seq[(Long, Array[Double], Array[Double])](
      (0L, Array(Double.NaN, 1.0), Array(1.0, 2.0)),
      (1L, Array(2.0, 0.5), Array(3.0, 1.0)),
      (2L, null, Array(4.0, 4.0))).toDF("k_id", "pvec", "qvec")
    for (mode <- Seq(PairPlan.Broadcast, PairPlan.Blocked)) {
      val got = Mlp.mlp(x, pq, mode)
      assertMlp(got, refMlp(x, pq, mode), s"NaN relu $mode")
      assert(got.collect().exists(r => r.getDouble(2).isNaN))
    }
  }

  test("the tile cache is keyed on the tile id: one reused buffer holding " +
      "two tiles folds each") {
    // row projections reuse their output buffer, so two tiles of a task
    // can arrive in one ArrayData object
    val e = MlpTileFold(BoundReference(0, ArrayType(DoubleType), true),
      BoundReference(1, ArrayType(pqType), true), BoundReference(2, LongType, false))
    val cache = new TileCache
    val x = arr(Array.fill(6)(0.5))
    val backing = new Array[Any](7)
    val reused = new GenericArrayData(backing)
    for ((t, tid) <- Seq(rows(7, 13), rows(7, 14)).zipWithIndex) {
      tile(t).array.copyToArray(backing)
      assert(e.fold(cache, x, reused, tid.toLong).toDoubleArray() sameElements
        e.fold(new TileCache, x, tile(t), 0L).toDoubleArray(), s"tile $tid")
    }
  }

  test("the scalar folds cache on the tile id too: one reused buffer " +
      "holding two tiles folds each") {
    val kType = StructType(Seq(StructField("k_id", LongType),
      StructField("kvec", ArrayType(DoubleType))))
    val (q, t, id, key) = (BoundReference(0, ArrayType(DoubleType), true),
      BoundReference(1, ArrayType(kType), true), BoundReference(2, LongType, false),
      BoundReference(3, LongType, true))
    val (ent, xe, smp) = (EntropyTileFold(q, t, id), XEntropyTileFold(q, t, id, key),
      SamplerTileFold(q, t, id, key, 7L))
    def ktile(rs: Seq[(Long, Array[Double], Array[Double])]) =
      new GenericArrayData(rs.map { case (i, a, _) => InternalRow(i, arr(a)): Any }.toArray)
    val x = arr(Array.fill(6)(0.5))
    val caches = Seq.fill(3)(new TileCache)
    val backing = new Array[Any](7)
    val reused = new GenericArrayData(backing)
    // label 9 lies in the second tile only
    for ((rs, tid) <- Seq(rows(7, 15), rows(7, 16, idFrom = 7)).zipWithIndex) {
      ktile(rs).array.copyToArray(backing)
      val fresh = ktile(rs)
      assert(ent.fold(caches(0), x, reused, tid.toLong) ==
        ent.fold(new TileCache, x, fresh, 0L), s"entropy tile $tid")
      assert(xe.fold(caches(1), x, reused, tid.toLong, labelNull = false, 9L) ==
        xe.fold(new TileCache, x, fresh, 0L, labelNull = false, 9L), s"xentropy tile $tid")
      assert(smp.fold(caches(2), x, reused, tid.toLong, mIdNull = false, 3L) ==
        smp.fold(new TileCache, x, fresh, 0L, mIdNull = false, 3L), s"sampler tile $tid")
    }
  }

  test("ragged vectors throw instead of folding silently: aggregates " +
      "(short row first and long row first) and tile folds") {
    def agg(vs: Seq[Seq[Double]], n: Int): Unit = {
      val df = vs.zipWithIndex.map { case (v, i) => (0L, i, 1.0, v) }
        .toDF("g", "i", "w", "v")
      val src = if (n == 1) df.coalesce(1).sortWithinPartitions("i")
        else df.repartition(n, col("i"))
      for (a <- Seq(GraftAggs.vecWeightedSum(col("w"), col("v")),
          GraftAggs.logWeightedVec(col("w"), col("v")))) {
        val e = intercept[Exception](src.groupBy("g").agg(a).collect())
        assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(c => String.valueOf(c.getMessage).contains("vector width")), e)
      }
    }
    for (n <- Seq(1, 3)) {
      agg(Seq(Seq(10.0), Seq(1.0, 2.0, 3.0), Seq(100.0)), n)
      agg(Seq(Seq(1.0, 2.0, 3.0), Seq(10.0), Seq(100.0)), n)
    }
    val ragged = Seq((0L, Array(1.0), Array(1.0, 2.0)), (1L, Array(1.0), Array(3.0)))
    intercept[IllegalArgumentException](attnFold(ragged, Array(1.0)))
    intercept[IllegalArgumentException](mlpFold(ragged, Array(1.0)))
  }

  test("the fold's input row type is the tile shape PairPlan.tiles emits") {
    for (mode <- modes) {
      val t = PairPlan.tiles(kvSide(4, 2, 1, 5), qSide(2, 2, 6), mode)
      assert(t.columns.toSeq == Seq("q_id", "qvec", "__tile", "__tid"))
      assert(t.schema("__tile").dataType.asInstanceOf[ArrayType].elementType
        .asInstanceOf[StructType].fieldNames.toSeq == Seq("k_id", "kvec", "vvec"))
      assert(t.collect().forall(_.getAs[Seq[Row]]("__tile").nonEmpty))
    }
  }
}
