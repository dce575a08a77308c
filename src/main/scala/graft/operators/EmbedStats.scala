package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VecOps

/** Distributed matrix statistics over the embedding corpus — the reference's
  * GeMM-as-MapReduce fold (core.py:15-64) applied to the matrix the corpus
  * itself forms. Two operators:
  *
  *  - [[gram]]: the Gram matrix `XᵀX` (D×D) of the N×D embedding table —
  *    the covariance/PCA/whitening input. Each row contributes its outer
  *    product; the monoid is elementwise add. Spark shape: generate the
  *    upper-triangle (i, j, xᵢ·xⱼ) terms row-by-row and let one map-side-
  *    combined hash aggregation reduce them — the shuffle carries only
  *    D(D+1)/2 cells per map partition, never the terms. The D²N/2
  *    multiply-adds are the Gram FLOPs themselves; nothing is
  *    materialized between the generator and the partial aggregate.
  *  - [[powerStep]]: one power-iteration step `v₁ = Xᵀ(X v₀)` toward the
  *    top eigenvector (the PCA direction), plus its Rayleigh quotient.
  *    Two map-only passes over the corpus fused into one: per row the
  *    scalar s = x·v₀ (v₀ is a closed-form deterministic vector, no
  *    broadcast needed), then per-dimension sums of s·x — again a
  *    map-side-combined aggregation whose shuffle carries D rows per
  *    partition. This is exactly `attention` without the softmax: a GeMM
  *    folded through a commutative monoid.
  *
  * Cross-engine determinism (the driver hash-compares against DuckDB):
  * every float is quantized to integer 1e-4 units up front, all
  * accumulation is exact integer arithmetic (order-free), and the only
  * float ops after aggregation are correctly-rounded IEEE double ops
  * (cast / divide / sqrt) that both engines agree on bit-for-bit.
  *
  * Overflow envelope (documented, not silent): with |x| ≤ 1 the quantized
  * products are ≤ 1e8, so LONG partial sums hold ≥ 9·10¹⁰ rows — ~20 TB
  * of float32 D=64 embeddings; beyond that, lift the sums to
  * decimal(38,0) as [[powerStep]] already does for every cross-row
  * accumulation.
  */
object EmbedStats {

  /** integer quantization scale for embedding coordinates. */
  val Q = 10000.0

  /** Q² — the scale of a quantized coordinate product. */
  val Q2 = 1e8

  /** `floor(x·Q + ½)` per coordinate — exact LONG micro-units. */
  def qvec(v: Column): Column =
    transform(v, x => floor(x * lit(Q) + lit(0.5)).cast("long"))

  /** SQL dual of [[qvec]] as a list_transform body. */
  def qvecSql(e: String): String =
    s"list_transform($e, x -> CAST(floor(x::DOUBLE * $Q + 0.5) AS BIGINT))"

  /** deterministic start vector for [[powerStep]]: v₀(d) from the md5 u01
    * stream, quantized to the same 1e-4 units. Closed form — both the
    * per-row fold and the final Rayleigh terms recompute it from `d`
    * alone, so no side table ships anywhere. */
  private def v0q(d: Column): Column =
    floor((VecOps.u01(concat(lit("pi:"), d.cast("string"))) - lit(0.5)) *
      lit(Q) + lit(0.5)).cast("long")

  private def v0qSql(e: String): String =
    s"CAST(floor((${VecOps.u01Sql(s"'pi:' || ($e)")} - 0.5) * $Q + 0.5) AS BIGINT)"

  /** Upper-triangle Gram matrix: (i, j, s = Σ xqᵢ·xqⱼ, g = s/Q²).
    * `vecs` must expose `vec: array<double>` of width `dim`. */
  def gram(vecs: DataFrame, dim: Int): DataFrame =
    PairPlan.fanOut(vecs) // corpus-linear CPU: don't serialize on 1 split
      .select(qvec(col("vec")).as("xq"))
      .select(posexplode(col("xq")).as(Seq("i", "xi")), col("xq"))
      // j ≥ i only: slice the tail instead of generating D² and filtering
      .select(col("i"), col("xi"),
        posexplode(slice(col("xq"), col("i") + 1, lit(dim) - col("i")))
          .as(Seq("dj", "xj")))
      .groupBy(col("i").cast("long").as("i"),
        (col("i") + col("dj")).cast("long").as("j"))
      .agg(sum(col("xi") * col("xj")).as("s"), count(lit(1)).as("n"))
      .select(col("i"), col("j"), col("s"), col("n"),
        VecOps.qround(col("s").cast("double") / lit(Q2), 6).as("g"))

  /** One power-iteration step over the corpus: per-dimension v₁ (normalized,
    * quantized) and the Rayleigh quotient λ = v₀ᵀv₁ / (Q·v₀ᵀv₀) — constant
    * across the D output rows. The s→s3 rescale (floor(s/Q)) keeps each
    * second-pass PRODUCT inside LONG exactly (|s3·xq| ≤ D·Q³/Q = 6.4e9),
    * but their cross-row SUM would overflow LONG at ~1.4e9 rows (~0.3 TB
    * of D=64 f32 — far inside the documented 20 TB gram envelope), so the
    * accumulation lifts to decimal(38,0) like the norm and Rayleigh terms
    * (which square 1e14-scale values) — exact to 10³⁸, any corpus size
    * (r6 ADVICE #5). */
  def powerStep(vecs: DataFrame): DataFrame = {
    val rows = PairPlan.fanOut(vecs)
      .select(qvec(col("vec")).as("xq"))
      .select(col("xq"),
        aggregate(
          zip_with(col("xq"),
            transform(col("xq"), (_, d) => v0q(d)), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x).as("s"))
      .select(col("xq"),
        floor(col("s").cast("double") / lit(Q)).cast("long").as("s3"))

    val v1 = rows
      .select(posexplode(col("xq")).as(Seq("pos", "xq")), col("s3"))
      .groupBy(col("pos").cast("long").as("pos"))
      .agg(sum((col("s3") * col("xq")).cast("decimal(38,0)")).as("v1raw"))
      .withColumn("v0q", v0q(col("pos")))

    val stats = v1.agg(
      sum(col("v1raw") * col("v1raw")).as("nrm2"),
      sum(col("v0q").cast("decimal(38,0)") * col("v1raw")).as("d01"),
      sum(col("v0q") * col("v0q")).as("d00"))

    v1.crossJoin(broadcast(stats))
      .select(col("pos"),
        VecOps.qround(col("v1raw").cast("double") /
          greatest(sqrt(col("nrm2").cast("double")), lit(1e-12)), 6).as("v1n"),
        VecOps.qround(col("d01").cast("double") /
          (col("d00").cast("double") * lit(Q)), 4).as("lam"))
  }

  /** COMPOSED power-iteration trainer: `iters` rounds of
    * v ← quantize(normalize(XᵀX v)), the iterated-GEMM loop the reference's
    * whole frame is about (core.py:26-35 re-entered per step) applied to
    * the corpus matrix — with this, every iterated fold in the repo
    * (k-means, PQ, BPE, PageRank, power iteration) has a composed,
    * graded training loop.
    *
    * Iteration protocol (the [[graft.operators.Pq]] `pqTrain` contract):
    * each round is ONE corpus pass; the current direction is D quantized
    * LONGs COLLECTED to the driver and inlined as a literal into the next
    * round's plan — lineage self-truncating, no join against a live
    * aggregation, and the re-quantization (1e-4 grid, like link_rank's
    * 1e-9 rank grid) keeps the chain hash-stable: both engines recompute
    * the identical integer vector at every round. At 100 TB each round is
    * one map-only scan plus a D-row shuffle — the collect is D longs, not
    * data.
    *
    * Rayleigh monotonicity (λ_t nondecreasing for PSD XᵀX) is spec'd in
    * EmbedStatsSpec; iteration 1 reproduces [[powerStep]] bit-for-bit. */
  def powerTrain(vecs: DataFrame, iters: Int,
                 dim: Int = Similarity.Dim): DataFrame = {
    require(iters >= 1, "powerTrain needs at least one iteration")
    // the quantized row table feeds every round — cache once
    val xq = Caching.eager(
      PairPlan.fanOut(vecs).select(qvec(col("vec")).as("xq")))
    var vq = v0Collected(vecs, dim)
    var last: DataFrame = null
    for (_ <- 0 until iters) {
      val (out, vqNew) = powerRoundQ(xq, vq)
      last = out
      vq = vqNew
    }
    last = last.localCheckpoint(eager = true)
    xq.unpersist(false)
    last
  }

  /** CONVERGENCE-GATED power iteration (the `kmeans_train_conv` /
    * `link_rank_conv` stance for the GEMM-fold trainer): iterate until the
    * max per-dimension movement of the QUANTIZED direction drops below
    * `epsGrid` — an INTEGER comparison on the Q-grid vector the
    * collect-requantize protocol already materializes every round, so the
    * stop decision costs nothing extra and is exact by construction (no
    * float tolerance anywhere; both engines compare identical integers).
    * Emits the stopping round's (pos, v1n, lam) plus `iters`. Measured
    * movement (grid units): ~3300 after round 1, then 995/675/535/408 at
    * sf0.001, 789/575/447 at sf0.01, 566/410 at sf0.1 — epsGrid = 450
    * fires at round 5 / 4 / 3 respectively: a DIFFERENT stopping round at
    * every fixture SF, decided by the spectrum, not a count. */
  def powerTrainConverged(vecs: DataFrame, epsGrid: Long, maxIters: Int,
                          dim: Int = Similarity.Dim): DataFrame = {
    require(maxIters >= 1, "powerTrainConverged needs at least one iteration")
    val xq = Caching.eager(
      PairPlan.fanOut(vecs).select(qvec(col("vec")).as("xq")))
    var vq = v0Collected(vecs, dim)
    var last: DataFrame = null
    var it = 0
    var moved = Long.MaxValue
    while (moved >= epsGrid && it < maxIters) {
      it += 1
      val (out, vqNew) = powerRoundQ(xq, vq)
      last = out
      moved = vq.zip(vqNew).map { case (a, b) => math.abs(a - b) }.max
      vq = vqNew
    }
    val res = last.withColumn("iters", lit(it.toLong))
      .localCheckpoint(eager = true)
    xq.unpersist(false)
    res
  }

  /** SECOND PRINCIPAL DIRECTION via DEFLATION — the classic next step
    * after power iteration: train v₁ exactly as [[powerTrain]] does, then
    * remove each row's v₁ component and re-run the same trainer on the
    * deflated matrix, whose top eigenvector is the ORIGINAL matrix's
    * second one. With this the spectral family (Gram, one power step,
    * fixed-count and convergence-gated trainers) gains the multi-
    * component path every PCA/embedding-whitening pipeline actually
    * needs.
    *
    * Deflation on the integer grid: proj = Σ xq·vq₁ is an exact LONG,
    * d00 = Σ vq₁² a driver-side exact LONG, and the deflated coordinate
    * xq′ = xq − floor(proj·vq₁d / d00 + 0.5) rounds a double quotient of
    * exact integer operands (proj·vq₁d ≤ ~2⁴⁸ — inside the 2⁵³ exact-
    * double window) — so both engines deflate to the IDENTICAL integer
    * matrix and the downstream chain stays hash-stable. Each round is
    * one corpus pass under the same collect-requantize protocol.
    *
    * Output: (pos, v2n, lam2, ortho) — the normalized second direction,
    * its Rayleigh quotient, and cos(v₁, v₂) from exact integer sums
    * (graded ≈ 0: the orthogonality the deflation must deliver). */
  def powerDeflate(vecs: DataFrame, iters: Int,
                   dim: Int = Similarity.Dim): DataFrame = {
    require(iters >= 1, "powerDeflate needs at least one iteration")
    import org.apache.spark.sql.functions.{typedLit => tl}
    // both row tables are read by every round of their chain (plus the
    // deflation pass) — cache once, or each round re-runs the upstream
    // scan + quantize (+ deflate): measured 8.1 s -> ~3 s at sf0.1
    val xq = Caching.eager(
      PairPlan.fanOut(vecs).select(qvec(col("vec")).as("xq")))
    // v1 chain (identical to powerTrain's rounds)
    var vq1 = v0Collected(vecs, dim)
    for (_ <- 0 until iters) vq1 = powerRoundQ(xq, vq1)._2
    val d00 = vq1.map(v => v * v).sum
    val v1lit = tl(vq1.toSeq)
    val proj = aggregate(zip_with(col("xq"), v1lit, (a, b) => a * b),
      lit(0L), (acc, x) => acc + x)
    val xq2 = Caching.eager(xq.select(col("xq"), proj.as("proj"))
      .select(transform(col("xq"), (x, i) =>
        x - floor(col("proj").cast("double") *
          element_at(v1lit, i + 1).cast("double") / lit(d00.toDouble) +
          lit(0.5)).cast("long")).as("xq")))
    // v2 chain over the deflated matrix, same start vector
    var vq2 = v0Collected(vecs, dim)
    var last: DataFrame = null
    for (_ <- 0 until iters) {
      val (out, vqNew) = powerRoundQ(xq2, vq2)
      last = out; vq2 = vqNew
    }
    last = last.localCheckpoint(eager = true)
    xq.unpersist(false); xq2.unpersist(false)
    val s12 = vq1.zip(vq2).map { case (a, b) => BigInt(a) * BigInt(b) }.sum
    val s11 = vq1.map(v => BigInt(v) * BigInt(v)).sum
    val s22 = vq2.map(v => BigInt(v) * BigInt(v)).sum
    val ortho = math.floor(s12.toDouble /
      (math.sqrt(s11.toDouble) * math.sqrt(s22.toDouble)) * 1e6 + 0.5) / 1e6
    last.select(col("pos"), col("v1n").as("v2n"), col("lam").as("lam2"),
      lit(ortho).as("ortho"))
  }

  /** The v1/v2 quantized-direction CHAINS under the collect-requantize
    * protocol, as plain arrays: element t of each Seq is round t+1's
    * quantized direction (round 0 is the closed-form v0). Chain 1 trains
    * on the quantized matrix, chain 2 on the vq1-deflated matrix — the
    * exact sequences [[powerTrain]] / [[powerDeflate]] and the projection
    * loop each re-derived inline (2·iters corpus passes per query). The
    * query layer memoizes this result per session (model-sized: 2·iters·D
    * longs) so the trainer family pays the chains once; each consumer
    * then reproduces its graded output in ONE corpus pass via the
    * `...From` entry points below, bit-identically (the resumed round
    * recomputes the same expressions from the same vq literal). */
  private[graft] def trainChains(vecs: DataFrame, iters: Int,
      dim: Int = Similarity.Dim): (Seq[Array[Long]], Seq[Array[Long]]) = {
    import org.apache.spark.sql.functions.{typedLit => tl}
    val xq = Caching.eager(
      PairPlan.fanOut(vecs).select(qvec(col("vec")).as("xq")))
    var vq1 = v0Collected(vecs, dim)
    val c1 = Seq.newBuilder[Array[Long]]
    for (_ <- 0 until iters) { vq1 = powerRoundQ(xq, vq1)._2; c1 += vq1 }
    val d00 = vq1.map(v => v * v).sum
    val v1lit = tl(vq1.toSeq)
    val proj = aggregate(zip_with(col("xq"), v1lit, (a, b) => a * b),
      lit(0L), (acc, x) => acc + x)
    val xq2 = Caching.eager(xq.select(col("xq"), proj.as("proj"))
      .select(transform(col("xq"), (x, i) =>
        x - floor(col("proj").cast("double") *
          element_at(v1lit, i + 1).cast("double") / lit(d00.toDouble) +
          lit(0.5)).cast("long")).as("xq")))
    var vq2 = v0Collected(vecs, dim)
    val c2 = Seq.newBuilder[Array[Long]]
    for (_ <- 0 until iters) { vq2 = powerRoundQ(xq2, vq2)._2; c2 += vq2 }
    xq.unpersist(false); xq2.unpersist(false)
    (c1.result(), c2.result())
  }

  /** [[powerRoundQ]]'s graded output WITHOUT the next-direction collect:
    * the resume paths below already know the chain from the memo, so
    * collecting vqNew would re-execute the (uncached, read-once) input
    * pass a second time for a vector the caller throws away. */
  private def powerRoundOut(rowsQ: DataFrame, vqIn: Array[Long]): DataFrame =
    roundOutCols(roundJoined(rowsQ, vqIn))

  /** [[powerTrain]]'s round-`iters` output resumed from the chain's
    * round-(iters−1) direction: ONE corpus pass (the loop's last round
    * recomputed verbatim). */
  def powerTrainFrom(vecs: DataFrame, vqPrev: Array[Long]): DataFrame =
    powerRoundOut(PairPlan.fanOut(vecs).select(qvec(col("vec")).as("xq")),
      vqPrev)

  /** [[powerDeflate]]'s output resumed from the memoized chains: deflate
    * on the fly (map-only, fused into the one resumed round — no cached
    * intermediate) and recompute the v2 chain's last round. `vq1` is the
    * v1 chain's final direction, `vq2Prev`/`vq2` the v2 chain's
    * round-(iters−1) and final directions. */
  def powerDeflateFrom(vecs: DataFrame, vq1: Array[Long],
                       vq2Prev: Array[Long], vq2: Array[Long]): DataFrame = {
    import org.apache.spark.sql.functions.{typedLit => tl}
    val d00 = vq1.map(v => v * v).sum
    val v1lit = tl(vq1.toSeq)
    val proj = aggregate(zip_with(col("xq"), v1lit, (a, b) => a * b),
      lit(0L), (acc, x) => acc + x)
    val xq2 = PairPlan.fanOut(vecs).select(qvec(col("vec")).as("xq"))
      .select(col("xq"), proj.as("proj"))
      .select(transform(col("xq"), (x, i) =>
        x - floor(col("proj").cast("double") *
          element_at(v1lit, i + 1).cast("double") / lit(d00.toDouble) +
          lit(0.5)).cast("long")).as("xq"))
    val last = powerRoundOut(xq2, vq2Prev)
    val s12 = vq1.zip(vq2).map { case (a, b) => BigInt(a) * BigInt(b) }.sum
    val s11 = vq1.map(v => BigInt(v) * BigInt(v)).sum
    val s22 = vq2.map(v => BigInt(v) * BigInt(v)).sum
    val ortho = math.floor(s12.toDouble /
      (math.sqrt(s11.toDouble) * math.sqrt(s22.toDouble)) * 1e6 + 0.5) / 1e6
    last.select(col("pos"), col("v1n").as("v2n"), col("lam").as("lam2"),
      lit(ortho).as("ortho"))
  }

  /** PCA PROJECTION (`embed_project`): every embedding's coordinates on
    * the top-2 spectral directions — the dimensionality-reduction apply
    * step the trainer family promises. The two directions are the chains'
    * last rounds ([[trainChains]]: [[powerTrain]]'s v₁, then
    * [[powerDeflate]]'s v₂ over the integer-deflated matrix); the output
    * coordinates are the EXACT BIGINT dots `c1 = Σ xq·vq₁`,
    * `c2 = Σ xq·vq₂` on the quantized grid (|c| ≤ D·Q² ≈ 6.4·10⁹ —
    * Long-safe), an unnormalized positive-scalar multiple of the PCA
    * coordinates, so zero float crosses the engine boundary. Both dots
    * are over the ORIGINAL quantized rows (the deflated matrix only ever
    * trained vq2), so the apply step is ONE map-only corpus pass — no
    * caches, no checkpoint. */
  def projectTop2From(vecs: DataFrame, vq1: Array[Long],
                      vq2: Array[Long]): DataFrame = {
    import org.apache.spark.sql.functions.{typedLit => tl}
    def dot(v: Array[Long]) =
      aggregate(zip_with(col("xq"), tl(v.toSeq), (a, b) => a * b),
        lit(0L), (acc, x) => acc + x)
    PairPlan.fanOut(vecs).select(col("vec_id"), qvec(col("vec")).as("xq"))
      .select(col("vec_id"), dot(vq1).as("c1"), dot(vq2).as("c2"))
  }

  /** Dual of [[projectTop2From]]: the deflate oracle's two chains, then the
    * two exact-BIGINT projection dots per vec_id. */
  def projectTop2OracleSql(iters: Int): String = {
    def chain(pfx: String, src: String, v0: String): String =
      (1 to iters).map { t =>
        val prev = if (t == 1) v0 else s"${pfx}vq${t - 1}"
        s"""${pfx}s$t AS MATERIALIZED (SELECT vec_id, CAST(sum(xq * vq) AS BIGINT) AS s
           |       FROM $src JOIN $prev ON $src.d = $prev.pos GROUP BY vec_id),
           |${pfx}s3_$t AS MATERIALIZED (SELECT vec_id, CAST(floor(s::DOUBLE / $Q) AS BIGINT) AS s3 FROM ${pfx}s$t),
           |${pfx}v$t AS MATERIALIZED (SELECT d AS pos, CAST(sum(s3 * xq) AS HUGEINT) AS v1raw
           |       FROM $src JOIN ${pfx}s3_$t USING (vec_id) GROUP BY d),
           |${pfx}st$t AS MATERIALIZED (SELECT CAST(sum(v1raw * v1raw) AS DOUBLE) AS nrm2
           |        FROM ${pfx}v$t),
           |${pfx}vq$t AS MATERIALIZED (SELECT pos, CAST(floor((v1raw::DOUBLE /
           |           greatest(sqrt(nrm2), 1e-12)) * $Q + 0.5) AS BIGINT) AS vq
           |        FROM ${pfx}v$t CROSS JOIN ${pfx}st$t)""".stripMargin
      }.mkString(",\n")
    s"""WITH x AS MATERIALIZED (SELECT vec_id, CAST(i AS BIGINT) AS d,
       |             CAST(floor(e::DOUBLE * $Q + 0.5) AS BIGINT) AS xq
       |           FROM (SELECT vec_id, unnest(embedding) AS e,
       |                   unnest(range(len(embedding))) AS i FROM embeddings)),
       |v0 AS (SELECT d AS pos, ${v0qSql("d")} AS vq
       |       FROM (SELECT unnest(range(${Similarity.Dim})) AS d)),
       |${chain("a", "x", "v0")},
       |pj AS MATERIALIZED (SELECT vec_id, CAST(sum(xq * vq) AS BIGINT) AS proj
       |      FROM x JOIN avq$iters ON x.d = avq$iters.pos GROUP BY vec_id),
       |dd AS (SELECT CAST(sum(vq * vq) AS BIGINT) AS d00 FROM avq$iters),
       |x2 AS MATERIALIZED (SELECT x.vec_id, x.d,
       |        x.xq - CAST(floor(pj.proj::DOUBLE * a.vq::DOUBLE /
       |          dd.d00::DOUBLE + 0.5) AS BIGINT) AS xq
       |      FROM x JOIN pj USING (vec_id)
       |      JOIN avq$iters a ON x.d = a.pos CROSS JOIN dd),
       |${chain("b", "x2", "v0")},
       |c2t AS (SELECT vec_id, CAST(sum(x.xq * b.vq) AS BIGINT) AS c2
       |        FROM x JOIN bvq$iters b ON x.d = b.pos GROUP BY vec_id)
       |SELECT pj.vec_id, pj.proj AS c1, c2t.c2
       |FROM pj JOIN c2t USING (vec_id)""".stripMargin
  }

  /** round-0 direction: the closed-form v0, collected (D longs). */
  private[operators] def v0Collected(vecs: DataFrame, dim: Int): Array[Long] = {
    val spark = vecs.sparkSession
    spark.range(dim).select(v0q(col("id")).as("v"))
      .collect().map(_.getLong(0))
  }

  /** One round's per-dimension aggregate crossed with its norm/Rayleigh
    * stats — the shared trunk of [[powerRoundQ]] and [[powerRoundOut]]. */
  private def roundJoined(rowsQ: DataFrame, vqIn: Array[Long]): DataFrame = {
    import org.apache.spark.sql.functions.{typedLit => tl}
    val vlit = tl(vqIn.toSeq)
    val rows = rowsQ
      .select(col("xq"),
        aggregate(
          zip_with(col("xq"), vlit, (a, b) => a * b),
          lit(0L), (acc, x) => acc + x).as("s"))
      .select(col("xq"),
        floor(col("s").cast("double") / lit(Q)).cast("long").as("s3"))
    val v1 = rows
      .select(posexplode(col("xq")).as(Seq("pos", "xq")), col("s3"))
      .groupBy(col("pos").cast("long").as("pos"))
      .agg(sum((col("s3") * col("xq")).cast("decimal(38,0)")).as("v1raw"))
      .withColumn("vprev", element_at(vlit, (col("pos") + 1).cast("int")))
    val stats = v1.agg(
      sum(col("v1raw") * col("v1raw")).as("nrm2"),
      sum(col("vprev").cast("decimal(38,0)") * col("v1raw")).as("d01"),
      sum(col("vprev") * col("vprev")).as("d00"))
    v1.crossJoin(broadcast(stats))
  }

  /** The graded (pos, v1n, lam) projection of [[roundJoined]]. */
  private def roundOutCols(joined: DataFrame): DataFrame =
    joined.select(col("pos"),
      VecOps.qround(col("v1raw").cast("double") /
        greatest(sqrt(col("nrm2").cast("double")), lit(1e-12)), 6).as("v1n"),
      VecOps.qround(col("d01").cast("double") /
        (col("d00").cast("double") * lit(Q)), 4).as("lam"))

  /** One power round under the collect-requantize protocol over an
    * already-quantized row table (`xq: array<long>`): the current
    * quantized direction rides as a literal; returns the round's graded
    * output and the next quantized direction (D longs collected). */
  private[operators] def powerRoundQ(rowsQ: DataFrame,
                          vqIn: Array[Long]): (DataFrame, Array[Long]) = {
    val joined = roundJoined(rowsQ, vqIn)
    val out = roundOutCols(joined)
    val vqNew = joined.select(col("pos"),
        floor((col("v1raw").cast("double") /
          greatest(sqrt(col("nrm2").cast("double")), lit(1e-12))) * lit(Q) +
          lit(0.5)).cast("long").as("vq"))
      .orderBy(col("pos")).collect().map(_.getLong(1))
    (out, vqNew)
  }

  /** DuckDB oracle dual of [[powerTrain]]: the same loop unrolled as CTE
    * rounds (the oracle re-derives each round's quantized direction in
    * SQL — nothing is smuggled from the Spark side). */
  def powerTrainOracleSql(iters: Int): String = {
    val rounds = (1 to iters).map { t =>
      val prev = if (t == 1) "v0" else s"vq${t - 1}"
      s"""s$t AS (SELECT vec_id, CAST(sum(xq * vq) AS BIGINT) AS s
         |       FROM x JOIN $prev ON x.d = $prev.pos GROUP BY vec_id),
         |s3_$t AS (SELECT vec_id, CAST(floor(s::DOUBLE / $Q) AS BIGINT) AS s3 FROM s$t),
         |v$t AS (SELECT d AS pos, CAST(sum(s3 * xq) AS HUGEINT) AS v1raw
         |       FROM x JOIN s3_$t USING (vec_id) GROUP BY d),
         |st$t AS (SELECT CAST(sum(v1raw * v1raw) AS DOUBLE) AS nrm2,
         |               CAST(sum(p.vq::HUGEINT * v.v1raw) AS DOUBLE) AS d01,
         |               CAST(sum(p.vq * p.vq) AS DOUBLE) AS d00
         |        FROM v$t v JOIN $prev p ON v.pos = p.pos),
         |vq$t AS (SELECT pos, CAST(floor((v1raw::DOUBLE /
         |           greatest(sqrt(nrm2), 1e-12)) * $Q + 0.5) AS BIGINT) AS vq
         |        FROM v$t CROSS JOIN st$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH x AS (SELECT vec_id, CAST(i AS BIGINT) AS d,
       |             CAST(floor(e::DOUBLE * $Q + 0.5) AS BIGINT) AS xq
       |           FROM (SELECT vec_id, unnest(embedding) AS e,
       |                   unnest(range(len(embedding))) AS i FROM embeddings)),
       |v0 AS (SELECT d AS pos, ${v0qSql("d")} AS vq
       |       FROM (SELECT unnest(range(${Similarity.Dim})) AS d)),
       |$rounds
       |SELECT pos,
       |  ${VecOps.qroundSql(
            "v1raw::DOUBLE / greatest(sqrt(nrm2), 1e-12)", 6)} AS v1n,
       |  ${VecOps.qroundSql(s"d01 / (d00 * $Q)", 4)} AS lam
       |FROM v$iters CROSS JOIN st$iters""".stripMargin
  }

  /** Dual of [[powerDeflate]]: the v₁ chain, the integer deflation, a
    * second chain over the deflated matrix, and the exact-integer
    * orthogonality check. Every CTE MATERIALIZED (each vq table is
    * referenced by the next round twice and by the deflate/ortho CTEs). */
  def powerDeflateOracleSql(iters: Int): String = {
    def chain(pfx: String, src: String, v0: String): String =
      (1 to iters).map { t =>
        val prev = if (t == 1) v0 else s"${pfx}vq${t - 1}"
        s"""${pfx}s$t AS MATERIALIZED (SELECT vec_id, CAST(sum(xq * vq) AS BIGINT) AS s
           |       FROM $src JOIN $prev ON $src.d = $prev.pos GROUP BY vec_id),
           |${pfx}s3_$t AS MATERIALIZED (SELECT vec_id, CAST(floor(s::DOUBLE / $Q) AS BIGINT) AS s3 FROM ${pfx}s$t),
           |${pfx}v$t AS MATERIALIZED (SELECT d AS pos, CAST(sum(s3 * xq) AS HUGEINT) AS v1raw
           |       FROM $src JOIN ${pfx}s3_$t USING (vec_id) GROUP BY d),
           |${pfx}st$t AS MATERIALIZED (SELECT CAST(sum(v1raw * v1raw) AS DOUBLE) AS nrm2,
           |               CAST(sum(p.vq::HUGEINT * v.v1raw) AS DOUBLE) AS d01,
           |               CAST(sum(p.vq * p.vq) AS DOUBLE) AS d00
           |        FROM ${pfx}v$t v JOIN $prev p ON v.pos = p.pos),
           |${pfx}vq$t AS MATERIALIZED (SELECT pos, CAST(floor((v1raw::DOUBLE /
           |           greatest(sqrt(nrm2), 1e-12)) * $Q + 0.5) AS BIGINT) AS vq
           |        FROM ${pfx}v$t CROSS JOIN ${pfx}st$t)""".stripMargin
      }.mkString(",\n")
    s"""WITH x AS MATERIALIZED (SELECT vec_id, CAST(i AS BIGINT) AS d,
       |             CAST(floor(e::DOUBLE * $Q + 0.5) AS BIGINT) AS xq
       |           FROM (SELECT vec_id, unnest(embedding) AS e,
       |                   unnest(range(len(embedding))) AS i FROM embeddings)),
       |v0 AS (SELECT d AS pos, ${v0qSql("d")} AS vq
       |       FROM (SELECT unnest(range(${Similarity.Dim})) AS d)),
       |${chain("a", "x", "v0")},
       |pj AS MATERIALIZED (SELECT vec_id, CAST(sum(xq * vq) AS BIGINT) AS proj
       |      FROM x JOIN avq$iters ON x.d = avq$iters.pos GROUP BY vec_id),
       |dd AS (SELECT CAST(sum(vq * vq) AS BIGINT) AS d00 FROM avq$iters),
       |x2 AS MATERIALIZED (SELECT x.vec_id, x.d,
       |        x.xq - CAST(floor(pj.proj::DOUBLE * a.vq::DOUBLE /
       |          dd.d00::DOUBLE + 0.5) AS BIGINT) AS xq
       |      FROM x JOIN pj USING (vec_id)
       |      JOIN avq$iters a ON x.d = a.pos CROSS JOIN dd),
       |${chain("b", "x2", "v0")},
       |orth AS (SELECT CAST(sum(a.vq::HUGEINT * b.vq) AS DOUBLE) AS s12,
       |               CAST(sum(a.vq::HUGEINT * a.vq) AS DOUBLE) AS s11,
       |               CAST(sum(b.vq::HUGEINT * b.vq) AS DOUBLE) AS s22
       |        FROM avq$iters a JOIN bvq$iters b ON a.pos = b.pos)
       |SELECT pos,
       |  ${VecOps.qroundSql(
            "v1raw::DOUBLE / greatest(sqrt(nrm2), 1e-12)", 6)} AS v2n,
       |  ${VecOps.qroundSql(s"d01 / (d00 * $Q)", 4)} AS lam2,
       |  ${VecOps.qroundSql("s12 / (sqrt(s11) * sqrt(s22))", 6)} AS ortho
       |FROM bv$iters CROSS JOIN bst$iters CROSS JOIN orth""".stripMargin
  }

  /** Dual of [[powerTrainConverged]]: the same chain to `maxIters` rounds
    * with per-round INTEGER movement CTEs (max |Δvq| on the Q-grid), the
    * first sub-epsGrid round selected through guarded UNION ALL branches.
    * Every CTE is MATERIALIZED — the movement CTEs reference each vq
    * table twice and DuckDB's default inlining re-executes the whole
    * upstream chain per reference (see LinkRank.ranksConvSql). */
  def powerTrainConvOracleSql(epsGrid: Long, maxIters: Int): String = {
    val rounds = (1 to maxIters).map { t =>
      val prev = if (t == 1) "v0" else s"vq${t - 1}"
      s"""s$t AS MATERIALIZED (SELECT vec_id, CAST(sum(xq * vq) AS BIGINT) AS s
         |       FROM x JOIN $prev ON x.d = $prev.pos GROUP BY vec_id),
         |s3_$t AS MATERIALIZED (SELECT vec_id, CAST(floor(s::DOUBLE / $Q) AS BIGINT) AS s3 FROM s$t),
         |v$t AS MATERIALIZED (SELECT d AS pos, CAST(sum(s3 * xq) AS HUGEINT) AS v1raw
         |       FROM x JOIN s3_$t USING (vec_id) GROUP BY d),
         |st$t AS MATERIALIZED (SELECT CAST(sum(v1raw * v1raw) AS DOUBLE) AS nrm2,
         |               CAST(sum(p.vq::HUGEINT * v.v1raw) AS DOUBLE) AS d01,
         |               CAST(sum(p.vq * p.vq) AS DOUBLE) AS d00
         |        FROM v$t v JOIN $prev p ON v.pos = p.pos),
         |vq$t AS MATERIALIZED (SELECT pos, CAST(floor((v1raw::DOUBLE /
         |           greatest(sqrt(nrm2), 1e-12)) * $Q + 0.5) AS BIGINT) AS vq
         |        FROM v$t CROSS JOIN st$t)""".stripMargin
    }.mkString(",\n")
    val dms = (1 to maxIters).map { t =>
      val prev = if (t == 1) "v0" else s"vq${t - 1}"
      s"""dm$t AS MATERIALIZED (SELECT max(abs(a.vq - b.vq)) AS m
         |        FROM vq$t a JOIN $prev b ON a.pos = b.pos)""".stripMargin
    }.mkString(",\n")
    val trace = (1 to maxIters)
      .map(t => s"SELECT $t AS t, (SELECT m FROM dm$t) AS m")
      .mkString(" UNION ALL ")
    val branches = (1 to maxIters).map { t =>
      s"""SELECT (SELECT it FROM conv) AS iters, pos,
         |  ${VecOps.qroundSql(
              "v1raw::DOUBLE / greatest(sqrt(nrm2), 1e-12)", 6)} AS v1n,
         |  ${VecOps.qroundSql(s"d01 / (d00 * $Q)", 4)} AS lam
         |FROM v$t CROSS JOIN st$t WHERE (SELECT it FROM conv) = $t""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH x AS MATERIALIZED (SELECT vec_id, CAST(i AS BIGINT) AS d,
       |             CAST(floor(e::DOUBLE * $Q + 0.5) AS BIGINT) AS xq
       |           FROM (SELECT vec_id, unnest(embedding) AS e,
       |                   unnest(range(len(embedding))) AS i FROM embeddings)),
       |v0 AS MATERIALIZED (SELECT d AS pos, ${v0qSql("d")} AS vq
       |       FROM (SELECT unnest(range(${Similarity.Dim})) AS d)),
       |$rounds,
       |$dms,
       |conv AS (SELECT CAST(coalesce(min(t), $maxIters) AS BIGINT) AS it
       |         FROM ($trace) WHERE m < $epsGrid)
       |$branches""".stripMargin
  }

  /** DuckDB oracle dual of [[gram]] on `embeddings`. */
  def gramOracleSql: String =
    s"""WITH v AS (SELECT ${qvecSql("embedding")} AS xq FROM embeddings),
       |a AS (SELECT xq, unnest(xq) AS xi, unnest(range(len(xq))) AS i FROM v),
       |p AS (SELECT a.i, u.j, a.xi, a.xq[u.j + 1] AS xj
       |      FROM a, unnest(range(len(a.xq))) AS u(j)
       |      WHERE u.j >= a.i)
       |SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
       |       CAST(sum(xi * xj) AS BIGINT) AS s, count(*) AS n,
       |       ${VecOps.qroundSql(s"CAST(sum(xi * xj) AS DOUBLE) / $Q2", 6)} AS g
       |FROM p GROUP BY i, j""".stripMargin

  /** DuckDB oracle dual of [[powerStep]] on `embeddings`. */
  def powerOracleSql: String =
    s"""WITH x AS (SELECT vec_id, CAST(i AS BIGINT) AS d,
       |             CAST(floor(e::DOUBLE * $Q + 0.5) AS BIGINT) AS xq
       |           FROM (SELECT vec_id, unnest(embedding) AS e,
       |                   unnest(range(len(embedding))) AS i FROM embeddings)),
       |v0 AS (SELECT d, ${v0qSql("d")} AS v0q
       |       FROM (SELECT unnest(range(${Similarity.Dim})) AS d)),
       |s AS (SELECT vec_id, CAST(sum(xq * v0q) AS BIGINT) AS s
       |      FROM x JOIN v0 USING (d) GROUP BY vec_id),
       |s3 AS (SELECT vec_id, CAST(floor(s::DOUBLE / $Q) AS BIGINT) AS s3 FROM s),
       |v1 AS (SELECT d AS pos, CAST(sum(s3 * xq) AS BIGINT) AS v1raw
       |       FROM x JOIN s3 USING (vec_id) GROUP BY d),
       |v1v AS (SELECT pos, v1raw, ${v0qSql("pos")} AS v0q FROM v1),
       |st AS (SELECT CAST(sum(v1raw::HUGEINT * v1raw::HUGEINT) AS DOUBLE) AS nrm2,
       |              CAST(sum(v0q::HUGEINT * v1raw::HUGEINT) AS DOUBLE) AS d01,
       |              CAST(sum(v0q * v0q) AS DOUBLE) AS d00
       |       FROM v1v)
       |SELECT pos,
       |  ${VecOps.qroundSql("v1raw::DOUBLE / greatest(sqrt(nrm2), 1e-12)", 6)} AS v1n,
       |  ${VecOps.qroundSql(s"d01 / (d00 * $Q)", 4)} AS lam
       |FROM v1v CROSS JOIN st""".stripMargin
}
