package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VecOps
import graft.operators.{Attention, Entropy, Mlp, PairPlan, Sampler, XEntropy}
import graft.sources.Tables

/** Driver-facing queries over the `embeddings` fixture for the reference's
  * five kernel operators (SURVEY.md §2.2), each with a DuckDB oracle dual.
  *
  * Shapes: M (query rows) is capped at 256 so the oracle stays cheap while
  * N (the streamed/reduced axis) scales with the fixture — the axis that
  * grows at 100 TB is the one our plans stream, never collect.
  */
object MatrixQueries {

  private val M = 256 // query-side rows (reference benches M=1024; sf0.01 has 500)
  private val D = 8   // value dims exposed through the oracle

  private def emb(s: SparkSession, dir: String): DataFrame = Tables.embeddings(s, dir)

  private def qSide(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).filter(col("vec_id") < M)
      .select(col("vec_id").as("q_id"), col("vec").as("qvec"), col("label"))

  private def kvSide(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).select(col("vec_id").as("k_id"), col("vec").as("kvec"),
      slice(col("vec"), 1, D).as("vvec"))

  private def attentionQuery(scale: Boolean)(s: SparkSession, dir: String): DataFrame =
    Attention.attention(qSide(s, dir).drop("label"), kvSide(s, dir), scale)
      .select(col("q_id"), posexplode(col("out")))
      .select(col("q_id"), col("pos").cast("long").as("d"),
        VecOps.qround(col("col"), 4).as("v"))

  /** Deterministic upstream gradient g_v for [[attentionGradQuery]] — the
    * reference check's `mock` tensor (attention.py main: torch.randn(M,D))
    * replaced by the md5 u01 noise stream both engines reproduce exactly;
    * g_z = 0 because the graded loss reads only the value output, like
    * `check_equality`'s `(y*mock).sum()` (core.py:72). */
  private def gradSide(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).filter(col("vec_id") < M)
      .select(col("vec_id").as("q_id"),
        transform(sequence(lit(0), lit(D - 1)), d =>
          VecOps.u01(concat(lit("ag:"), col("vec_id").cast("string"),
            lit(":"), d.cast("string"))) - lit(0.5)).as("gvec"))

  /** Attention BACKWARD dQ (the stretch closing the §2 autograd family —
    * see [[Attention.attentionGradQ]]). Graded on the first [[D]] of the
    * 64 gradient components: every pair's adjoint zbar feeds all 64
    * identically (only the k_nf factor varies), so the slice pins the
    * whole per-pair computation while the oracle's F-unnest stays in the
    * attention oracle's cost band. */
  private def attentionGradQuery(s: SparkSession, dir: String): DataFrame =
    Attention.attentionGradQ(qSide(s, dir).drop("label"), kvSide(s, dir),
      gradSide(s, dir))
      .select(col("q_id"), posexplode(slice(col("dq"), 1, D)))
      .select(col("q_id"), col("pos").cast("long").as("f"),
        VecOps.qround(col("col"), 4).as("dq"))

  private val attentionGradOracle: String = {
    val gv = s"list_transform(generate_series(0, ${D - 1}), " +
      s"d -> ${VecOps.u01Sql("'ag:' || q_id || ':' || d")} - 0.5)"
    val dq = VecOps.qroundSql("sum(zb * kvf)", 4)
    s"""${qkPrefixWhere(s" WHERE vec_id < $M")},
       |m AS (SELECT q_id, max(sc) AS mx FROM s GROUP BY q_id),
       |z AS (SELECT s.q_id, mx + ln(sum(exp(sc - mx))) AS z
       |      FROM s JOIN m USING (q_id) GROUP BY s.q_id, mx),
       |g AS (SELECT q_id, $gv AS gv FROM q),
       |p AS (SELECT s.q_id, s.k_id, exp(s.sc - z.z) AS w,
       |        list_dot_product(g.gv, s.vv) AS gdotv, k.kv
       |      FROM s JOIN z ON z.q_id = s.q_id JOIN g ON g.q_id = s.q_id
       |        JOIN k ON k.k_id = s.k_id),
       |ga AS (SELECT q_id, sum(w * gdotv) AS gdota FROM p GROUP BY q_id),
       |zb AS (SELECT p.q_id, (p.gdotv - ga.gdota) * p.w AS zb, p.kv
       |       FROM p JOIN ga USING (q_id)),
       |e AS (SELECT q_id, f, zb, kv[f] AS kvf
       |      FROM zb CROSS JOIN (SELECT unnest(generate_series(1, $D)) AS f) fs)
       |SELECT q_id, CAST(f - 1 AS BIGINT) AS f, $dq AS dq
       |FROM e GROUP BY q_id, f""".stripMargin
  }

  /** The key-side halves of the attention backward (dK, dV — see
    * [[Attention.attentionGradKV]]), completing the gradient triple under
    * the same mock grad as [[attentionGradQuery]]. dK graded on its first
    * [[D]] of 64 components (same slice rationale); dV is [[D]]-wide. */
  private def attentionGradKvQuery(s: SparkSession, dir: String): DataFrame =
    Attention.attentionGradKV(qSide(s, dir).drop("label"), kvSide(s, dir),
      gradSide(s, dir))
      .select(col("k_id"), col("dv"), posexplode(slice(col("dk"), 1, D)))
      .select(col("k_id"), col("pos").cast("long").as("d"),
        VecOps.qround(col("col"), 4).as("dk"),
        VecOps.qround(element_at(col("dv"), col("pos") + 1), 4).as("dv"))

  private val attentionGradKvOracle: String = {
    val gv = s"list_transform(generate_series(0, ${D - 1}), " +
      s"d -> ${VecOps.u01Sql("'ag:' || q_id || ':' || d")} - 0.5)"
    val dk = VecOps.qroundSql("sum(zb * qv[d])", 4)
    val dv = VecOps.qroundSql("sum(w * gv[d])", 4)
    s"""${qkPrefixWhere(s" WHERE vec_id < $M")},
       |m AS (SELECT q_id, max(sc) AS mx FROM s GROUP BY q_id),
       |z AS (SELECT s.q_id, mx + ln(sum(exp(sc - mx))) AS z
       |      FROM s JOIN m USING (q_id) GROUP BY s.q_id, mx),
       |g AS (SELECT q_id, $gv AS gv FROM q),
       |p AS (SELECT s.q_id, s.k_id, exp(s.sc - z.z) AS w,
       |        list_dot_product(g.gv, s.vv) AS gdotv, q2.qv, g.gv
       |      FROM s JOIN z ON z.q_id = s.q_id JOIN g ON g.q_id = s.q_id
       |        JOIN q q2 ON q2.q_id = s.q_id),
       |ga AS (SELECT q_id, sum(w * gdotv) AS gdota FROM p GROUP BY q_id),
       |zbt AS (SELECT p.k_id, (p.gdotv - ga.gdota) * p.w AS zb, p.w,
       |          p.qv, p.gv
       |        FROM p JOIN ga USING (q_id)),
       |e AS (SELECT k_id, d, zb, w, qv, gv
       |      FROM zbt CROSS JOIN (SELECT unnest(generate_series(1, $D)) AS d) ds)
       |SELECT k_id, CAST(d - 1 AS BIGINT) AS d, $dk AS dk, $dv AS dv
       |FROM e GROUP BY k_id, d""".stripMargin
  }

  /** Deterministic upstream gradient for the MLP backward ("mg:" md5
    * stream, [[D]]-wide like the MLP output). */
  private def mlpGradG(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).filter(col("vec_id") < M)
      .select(col("vec_id").as("b_id"),
        transform(sequence(lit(0), lit(D - 1)), d =>
          VecOps.u01(concat(lit("mg:"), col("vec_id").cast("string"),
            lit(":"), d.cast("string"))) - lit(0.5)).as("gvec"))

  /** MLP backward gx (reference mlp.py:9-16; see [[Mlp.mlpGradX]]) —
    * graded on the first [[D]] of 64 input-gradient components. */
  private def mlpGradXQuery(s: SparkSession, dir: String): DataFrame =
    Mlp.mlpGradX(
      qSide(s, dir).select(col("q_id").as("b_id"), col("qvec").as("xvec")),
      kvSide(s, dir).select(col("k_id"), col("kvec").as("pvec"),
        col("vvec").as("qvec")),
      mlpGradG(s, dir))
      .select(col("b_id"), posexplode(slice(col("gx"), 1, D)))
      .select(col("b_id"), col("pos").cast("long").as("d"),
        VecOps.qround(col("col"), 4).as("gx"))

  /** MLP backward gp + gq keyed by hidden unit (see [[Mlp.mlpGradPQ]]). */
  private def mlpGradPqQuery(s: SparkSession, dir: String): DataFrame =
    Mlp.mlpGradPQ(
      qSide(s, dir).select(col("q_id").as("b_id"), col("qvec").as("xvec")),
      kvSide(s, dir).select(col("k_id"), col("kvec").as("pvec"),
        col("vvec").as("qvec")),
      mlpGradG(s, dir))
      .select(col("k_id"), col("gq"), posexplode(slice(col("gp"), 1, D)))
      .select(col("k_id"), col("pos").cast("long").as("d"),
        VecOps.qround(col("col"), 4).as("gp"),
        VecOps.qround(element_at(col("gq"), col("pos") + 1), 4).as("gq"))

  private def mlpAdjointCtes: String = {
    val gv = s"list_transform(generate_series(0, ${D - 1}), " +
      s"d -> ${VecOps.u01Sql("'mg:' || q_id || ':' || d")} - 0.5)"
    s"""WITH q AS (SELECT vec_id AS b_id, embedding::DOUBLE[] AS xv
       |           FROM embeddings WHERE vec_id < $M),
       |k AS (SELECT vec_id AS k_id, embedding::DOUBLE[] AS pv,
       |        (embedding::DOUBLE[])[1:$D] AS qv8 FROM embeddings),
       |g AS (SELECT b_id, $gv AS gv
       |      FROM (SELECT b_id, b_id AS q_id FROM q)),
       |a AS (SELECT q.b_id, k.k_id,
       |        list_dot_product(q.xv, k.pv) AS xp, k.pv, k.qv8, q.xv, g.gv,
       |        CASE WHEN list_dot_product(q.xv, k.pv) > 0
       |             THEN list_dot_product(g.gv, k.qv8) ELSE 0 END AS gxp,
       |        CASE WHEN list_dot_product(q.xv, k.pv) > 0
       |             THEN list_dot_product(q.xv, k.pv) ELSE 0 END AS h
       |      FROM q CROSS JOIN k JOIN g ON g.b_id = q.b_id),
       |ds AS (SELECT unnest(generate_series(1, $D)) AS d)""".stripMargin
  }

  private val mlpGradXOracle: String =
    s"""$mlpAdjointCtes
       |SELECT b_id, CAST(d - 1 AS BIGINT) AS d,
       |  ${VecOps.qroundSql("sum(gxp * pv[d])", 4)} AS gx
       |FROM a CROSS JOIN ds GROUP BY b_id, d""".stripMargin

  private val mlpGradPqOracle: String =
    s"""$mlpAdjointCtes
       |SELECT k_id, CAST(d - 1 AS BIGINT) AS d,
       |  ${VecOps.qroundSql("sum(gxp * xv[d])", 4)} AS gp,
       |  ${VecOps.qroundSql("sum(h * gv[d])", 4)} AS gq
       |FROM a CROSS JOIN ds GROUP BY k_id, d""".stripMargin

  /** Scalar upstream gradient for the cross-entropy backward ("xg:"). */
  private def xentGradG(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).filter(col("vec_id") < M)
      .select(col("vec_id").as("m_id"),
        (VecOps.u01(concat(lit("xg:"), col("vec_id").cast("string")))
          - lit(0.5)).as("gm"))

  /** Cross-entropy backward dPred (reference xentropy.py:15-37; see
    * [[XEntropy.xentropyGradPred]]) — first [[D]] of 64 components. */
  private def xentropyGradQuery(s: SparkSession, dir: String): DataFrame =
    XEntropy.xentropyGradPred(
      qSide(s, dir).select(col("q_id").as("m_id"), col("qvec").as("mvec"),
        col("label")),
      kvSide(s, dir).select(col("k_id"), col("kvec")),
      xentGradG(s, dir))
      .select(col("m_id"), posexplode(slice(col("dpred"), 1, D)))
      .select(col("m_id"), col("pos").cast("long").as("d"),
        VecOps.qround(col("col"), 4).as("dpred"))

  /** The target-side half dTrg, keyed by class row. */
  private def xentropyGradTrgQuery(s: SparkSession, dir: String): DataFrame =
    XEntropy.xentropyGradTrg(
      qSide(s, dir).select(col("q_id").as("m_id"), col("qvec").as("mvec"),
        col("label")),
      kvSide(s, dir).select(col("k_id"), col("kvec")),
      xentGradG(s, dir))
      .select(col("k_id"), posexplode(slice(col("dtrg"), 1, D)))
      .select(col("k_id"), col("pos").cast("long").as("d"),
        VecOps.qround(col("col"), 4).as("dtrg"))

  private def xentAdjointCtes: String =
    s"""${qkPrefixWhere(s" WHERE vec_id < $M")},
       |m AS (SELECT q_id, max(sc) AS mx FROM s GROUP BY q_id),
       |z AS (SELECT s.q_id, mx + ln(sum(exp(sc - mx))) AS z
       |      FROM s JOIN m USING (q_id) GROUP BY s.q_id, mx),
       |g AS (SELECT q_id, ${VecOps.u01Sql("'xg:' || q_id")} - 0.5 AS gm
       |      FROM q),
       |a AS (SELECT s.q_id AS m_id, s.k_id,
       |        g.gm * exp(s.sc - z.z)
       |          - CASE WHEN s.label = s.k_id THEN g.gm ELSE 0 END AS gh,
       |        q2.qv AS mv, k.kv
       |      FROM s JOIN z ON z.q_id = s.q_id JOIN g ON g.q_id = s.q_id
       |        JOIN q q2 ON q2.q_id = s.q_id JOIN k ON k.k_id = s.k_id),
       |ds AS (SELECT unnest(generate_series(1, $D)) AS d)""".stripMargin

  private val xentropyGradOracle: String =
    s"""$xentAdjointCtes
       |SELECT m_id, CAST(d - 1 AS BIGINT) AS d,
       |  ${VecOps.qroundSql("sum(gh * kv[d])", 4)} AS dpred
       |FROM a CROSS JOIN ds GROUP BY m_id, d""".stripMargin

  private val xentropyGradTrgOracle: String =
    s"""$xentAdjointCtes
       |SELECT k_id, CAST(d - 1 AS BIGINT) AS d,
       |  ${VecOps.qroundSql("sum(gh * mv[d])", 4)} AS dtrg
       |FROM a CROSS JOIN ds GROUP BY k_id, d""".stripMargin

  /** Full-M self-attention through the non-broadcast blocked (2-D tiled)
    * path — proves the plan works with the query-side cap lifted. */
  private def attentionBigQuery(s: SparkSession, dir: String): DataFrame =
    Attention.attention(
      emb(s, dir).select(col("vec_id").as("q_id"), col("vec").as("qvec")),
      kvSide(s, dir), mode = PairPlan.Blocked)
      .select(col("q_id"), posexplode(col("out")))
      .select(col("q_id"), col("pos").cast("long").as("d"),
        VecOps.qround(col("col"), 4).as("v"))

  /** Batched SDPA (VERDICT r5 #3): `label` slices the embeddings fixture
    * into 10 batches; each (B, M_b, F) query block attends only within its
    * batch, matching the C++ batched semantics (custom_attention.cpp:9-24).
    * Scaled (÷√F) like the C++ kernel. */
  private def sdpaBatchedQuery(s: SparkSession, dir: String): DataFrame =
    Attention.attentionBatched(
      emb(s, dir).select(col("label").cast("long").as("batch_id"),
        col("vec_id").as("q_id"), col("vec").as("qvec")),
      emb(s, dir).select(col("label").cast("long").as("batch_id"),
        col("vec_id").as("k_id"), col("vec").as("kvec"),
        slice(col("vec"), 1, D).as("vvec")),
      scale = true)
      .select(col("batch_id"), col("q_id"), posexplode(col("out")))
      .select(col("batch_id"), col("q_id"), col("pos").cast("long").as("d"),
        VecOps.qround(col("col"), 4).as("v"))

  private def mlpQuery(s: SparkSession, dir: String): DataFrame =
    Mlp.mlp(
      qSide(s, dir).select(col("q_id").as("b_id"), col("qvec").as("xvec")),
      kvSide(s, dir).select(col("k_id"), col("kvec").as("pvec"), col("vvec").as("qvec")))
      .select(col("b_id"), col("d"), VecOps.qround(col("v"), 4).as("v"))

  /** Full-M mlp through the non-broadcast blocked (2-D tiled) path — the
    * same cap-lifted proof attention_big gives for attention. */
  private def mlpBigQuery(s: SparkSession, dir: String): DataFrame =
    Mlp.mlp(
      emb(s, dir).select(col("vec_id").as("b_id"), col("vec").as("xvec")),
      kvSide(s, dir).select(col("k_id"), col("kvec").as("pvec"), col("vvec").as("qvec")),
      PairPlan.Blocked)
      .select(col("b_id"), col("d"), VecOps.qround(col("v"), 4).as("v"))

  private def reluMatmulQuery(s: SparkSession, dir: String): DataFrame =
    Mlp.reluMatmul(
      qSide(s, dir).select(col("q_id").as("a_id"), col("qvec").as("avec")),
      kvSide(s, dir).select(col("k_id").as("b_id"), col("kvec").as("bvec")))
      .select(col("a_id"), col("b_id"), VecOps.qround(col("v"), 4).as("v"))

  /** float32 kernel parity (VERDICT r5 stretch #9): the fused relu-matmul
    * at the parquet file's native float width, no double widening
    * anywhere. */
  private def reluMatmulF32Query(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddingsF32(s, dir)
    Mlp.reluMatmulF32(
      e.filter(col("vec_id") < M)
        .select(col("vec_id").as("a_id"), col("vec32").as("avec")),
      e.select(col("vec_id").as("b_id"), col("vec32").as("bvec")))
  }

  private def xentropyQuery(s: SparkSession, dir: String): DataFrame =
    XEntropy.xentropy(
      qSide(s, dir).select(col("q_id").as("m_id"), col("qvec").as("mvec"), col("label")),
      kvSide(s, dir).select(col("k_id"), col("kvec")))
      .select(col("m_id"), VecOps.qround(col("loss"), 4).as("loss"))

  /** Full-M xentropy through the blocked path (no broadcast). */
  private def xentropyBigQuery(s: SparkSession, dir: String): DataFrame =
    XEntropy.xentropy(
      emb(s, dir).select(col("vec_id").as("m_id"), col("vec").as("mvec"), col("label")),
      kvSide(s, dir).select(col("k_id"), col("kvec")),
      PairPlan.Blocked)
      .select(col("m_id"), VecOps.qround(col("loss"), 4).as("loss"))

  private def entropyQuery(s: SparkSession, dir: String): DataFrame =
    Entropy.entropy(
      qSide(s, dir).select(col("q_id").as("m_id"), col("qvec").as("mvec")),
      kvSide(s, dir).select(col("k_id"), col("kvec")))
      .select(col("m_id"), VecOps.qround(col("h"), 4).as("h"))

  /** Full-M entropy through the blocked path — with this every kernel
    * (attention, mlp, xentropy, entropy, sampler) has a graded cap-lifted
    * variant through the shared PairPlan tile grid. */
  private def entropyBigQuery(s: SparkSession, dir: String): DataFrame =
    Entropy.entropy(
      emb(s, dir).select(col("vec_id").as("m_id"), col("vec").as("mvec")),
      kvSide(s, dir).select(col("k_id"), col("kvec")),
      PairPlan.Blocked)
      .select(col("m_id"), VecOps.qround(col("h"), 4).as("h"))

  /** Deterministic scalar upstream gradient for the entropy backward
    * ("eg:" md5 u01 stream — the gradient-family mock protocol). */
  private def entropyGradG(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).filter(col("vec_id") < M)
      .select(col("vec_id").as("m_id"),
        (VecOps.u01(concat(lit("eg:"), col("vec_id").cast("string")))
          - lit(0.5)).as("gm"))

  /** Entropy BACKWARD dPred (see [[Entropy.entropyGrad]] — the adjoint
    * the reference itself stubs, entropy.py:14-16; implementing it
    * completes the backward family BEYOND the reference). Graded on the
    * first [[D]] of 64 gradient components (the gradient-family slice
    * rationale: every pair's weight w·(s̄−s)·g feeds all 64 components
    * identically, only the k_nd factor varies). */
  private def entropyGradQuery(s: SparkSession, dir: String): DataFrame =
    Entropy.entropyGrad(
      qSide(s, dir).select(col("q_id").as("m_id"), col("qvec").as("mvec")),
      kvSide(s, dir).select(col("k_id"), col("kvec")),
      entropyGradG(s, dir))
      .select(col("m_id"), posexplode(slice(col("dm"), 1, D)))
      .select(col("m_id"), col("pos").cast("long").as("d"),
        VecOps.qround(col("col"), 4).as("dm"))

  private val entropyGradOracle: String = {
    val gm = s"${VecOps.u01Sql("'eg:' || q_id")} - 0.5"
    val dm = VecOps.qroundSql("sum(wt * x)", 4)
    s"""${qkPrefixWhere(s" WHERE vec_id < $M")},
       |m AS (SELECT q_id, max(sc) AS mx FROM s GROUP BY q_id),
       |a AS (SELECT s.q_id, mx + ln(sum(exp(sc - mx))) AS z,
       |        sum(exp(sc - mx) * sc) / sum(exp(sc - mx)) AS sbar
       |      FROM s JOIN m USING (q_id) GROUP BY s.q_id, mx),
       |g AS (SELECT q_id, $gm AS gmv FROM q),
       |p AS (SELECT s.q_id, g.gmv * exp(s.sc - a.z) * (a.sbar - s.sc) AS wt,
       |        k.kv
       |      FROM s JOIN a ON a.q_id = s.q_id JOIN g ON g.q_id = s.q_id
       |        JOIN k ON k.k_id = s.k_id),
       |e AS (SELECT q_id, d, wt, kv[d] AS x
       |      FROM p CROSS JOIN (SELECT unnest(generate_series(1, $D)) AS d) ds)
       |SELECT q_id AS m_id, CAST(d - 1 AS BIGINT) AS d, $dm AS dm
       |FROM e GROUP BY q_id, d""".stripMargin
  }

  private def samplerQuery(s: SparkSession, dir: String): DataFrame =
    Sampler.sampler(
      qSide(s, dir).select(col("q_id").as("m_id"), col("qvec").as("mvec")),
      kvSide(s, dir).select(col("k_id"), col("kvec")),
      seed = "graft")
      .select(col("m_id"), col("c"), VecOps.qround(col("weight"), 6).as("weight"))

  /** Full-M sampler through the blocked path. */
  private def samplerBigQuery(s: SparkSession, dir: String): DataFrame =
    Sampler.sampler(
      emb(s, dir).select(col("vec_id").as("m_id"), col("vec").as("mvec")),
      kvSide(s, dir).select(col("k_id"), col("kvec")),
      seed = "graft",
      mode = PairPlan.Blocked)
      .select(col("m_id"), col("c"), VecOps.qround(col("weight"), 6).as("weight"))

  // ---- oracle SQL builders (DuckDB dialect; two-pass stable softmax) ----

  /** Shared prefix: q = query side (filtered by mWhere), k = full side. */
  private def qkPrefixWhere(mWhere: String): String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv, label FROM embeddings$mWhere),
       |k AS (SELECT vec_id AS k_id, embedding::DOUBLE[] AS kv, (embedding::DOUBLE[])[1:$D] AS vv FROM embeddings),
       |s AS (SELECT q_id, label, k_id, list_dot_product(qv, kv) AS sc, len(qv) AS fdim, vv FROM q CROSS JOIN k)""".stripMargin

  private val qkPrefix = qkPrefixWhere(s" WHERE vec_id < $M")

  private def attentionOracle(scaleExpr: String, mWhere: String = s" WHERE vec_id < $M",
                              pairWhere: String = ""): String = {
    val v = VecOps.qroundSql("sum(wt * x) / sum(wt)", 4)
    s"""${qkPrefixWhere(mWhere)},
       |ss AS (SELECT q_id, sc$scaleExpr AS sc, vv FROM s$pairWhere),
       |m AS (SELECT q_id, max(sc) AS mx FROM ss GROUP BY q_id),
       |w AS (SELECT ss.q_id, exp(sc - mx) AS wt, vv FROM ss JOIN m USING (q_id)),
       |e AS (SELECT q_id, d, wt, vv[d] AS x
       |      FROM w CROSS JOIN (SELECT unnest(generate_series(1, $D)) AS d) ds)
       |SELECT q_id, CAST(d - 1 AS BIGINT) AS d, $v AS v
       |FROM e GROUP BY q_id, d""".stripMargin
  }

  private val sdpaBatchedOracle = {
    val v = VecOps.qroundSql("sum(wt * x) / sum(wt)", 4)
    s"""WITH q AS (SELECT CAST(label AS BIGINT) AS batch_id, vec_id AS q_id,
       |                  embedding::DOUBLE[] AS qv FROM embeddings),
       |k AS (SELECT CAST(label AS BIGINT) AS batch_id, vec_id AS k_id,
       |             embedding::DOUBLE[] AS kv,
       |             (embedding::DOUBLE[])[1:$D] AS vv FROM embeddings),
       |s AS (SELECT batch_id, q_id, k_id,
       |             list_dot_product(qv, kv) / sqrt(len(qv)) AS sc, vv
       |      FROM q JOIN k USING (batch_id)),
       |m AS (SELECT batch_id, q_id, max(sc) AS mx FROM s GROUP BY batch_id, q_id),
       |w AS (SELECT s.batch_id, s.q_id, exp(sc - mx) AS wt, vv
       |      FROM s JOIN m USING (batch_id, q_id)),
       |e AS (SELECT batch_id, q_id, d, wt, vv[d] AS x
       |      FROM w CROSS JOIN (SELECT unnest(generate_series(1, $D)) AS d) ds)
       |SELECT batch_id, q_id, CAST(d - 1 AS BIGINT) AS d, $v AS v
       |FROM e GROUP BY batch_id, q_id, d""".stripMargin
  }

  private def mlpOracle(mWhere: String = s" WHERE vec_id < $M") = {
    val v = VecOps.qroundSql("sum(h * x)", 4)
    s"""${qkPrefixWhere(mWhere)},
       |hh AS (SELECT q_id AS b_id, greatest(sc, 0) AS h, vv FROM s),
       |e AS (SELECT b_id, d, h, vv[d] AS x
       |      FROM hh CROSS JOIN (SELECT unnest(generate_series(1, $D)) AS d) ds)
       |SELECT b_id, CAST(d - 1 AS BIGINT) AS d, $v AS v
       |FROM e GROUP BY b_id, d""".stripMargin
  }

  private val reluMatmulOracle = {
    val v = VecOps.qroundSql("greatest(sc, 0)", 4)
    s"""$qkPrefix
       |SELECT q_id AS a_id, k_id AS b_id, $v AS v FROM s""".stripMargin
  }

  /** float32 dual: per-step FLOAT rounding (multiply then fold) — a
    * float×float product and float+float sum are both exact in double, so
    * rounding each step to FLOAT reproduces JVM float arithmetic bit for
    * bit (verified: matches a numpy float32 sequential fold). The outer
    * CAST is load-bearing: DuckDB's greatest() promotes FLOAT args to
    * DOUBLE, which would type-mismatch Spark's FLOAT column. */
  private val reluMatmulF32Oracle =
    s"""WITH q AS (SELECT vec_id AS a_id, embedding AS av FROM embeddings
       |           WHERE vec_id < $M),
       |k AS (SELECT vec_id AS b_id, embedding AS bv FROM embeddings)
       |SELECT a_id, b_id,
       |  CAST(greatest(list_reduce(
       |    list_transform(range(len(av)), i -> CAST(av[i+1] * bv[i+1] AS FLOAT)),
       |    (x, y) -> CAST(x + y AS FLOAT)), CAST(0 AS FLOAT)) AS FLOAT) AS v
       |FROM q CROSS JOIN k""".stripMargin

  private def xentropyOracle(mWhere: String = s" WHERE vec_id < $M") = {
    val loss = VecOps.qroundSql("p - n", 4)
    s"""${qkPrefixWhere(mWhere)},
       |m AS (SELECT q_id, max(sc) AS mx FROM s GROUP BY q_id),
       |a AS (SELECT s.q_id AS m_id, mx + ln(sum(exp(sc - mx))) AS p,
       |             sum(CASE WHEN k_id = label THEN sc ELSE 0 END) AS n
       |      FROM s JOIN m USING (q_id) GROUP BY s.q_id, mx)
       |SELECT m_id, $loss AS loss FROM a""".stripMargin
  }

  private def entropyOracle(mWhere: String = s" WHERE vec_id < $M") = {
    val h = VecOps.qroundSql("p - n", 4)
    s"""${qkPrefixWhere(mWhere)},
       |m AS (SELECT q_id, max(sc) AS mx FROM s GROUP BY q_id),
       |a AS (SELECT s.q_id AS m_id, mx + ln(sum(exp(sc - mx))) AS p,
       |             sum(exp(sc - mx) * sc) / sum(exp(sc - mx)) AS n
       |      FROM s JOIN m USING (q_id) GROUP BY s.q_id, mx)
       |SELECT m_id, $h AS h FROM a""".stripMargin
  }

  /** Nucleus mass threshold in micro-units (p = 0.9), shared by the Spark
    * side and the oracle so the cut can't drift. */
  private val TopPMicro = 900000L

  private def samplerTopPQuery(s: SparkSession, dir: String): DataFrame =
    Sampler.samplerTopP(
      qSide(s, dir).select(col("q_id").as("m_id"), col("qvec").as("mvec")),
      kvSide(s, dir),
      seed = "graft-topp", pMicro = TopPMicro)

  private def samplerTopPOracle(mWhere: String = s" WHERE vec_id < $M") = {
    val mixCols = VecOps.mix60ColsSql(VecOps.seed60("graft-topp"), "q_id", "k_id")
    s"""${qkPrefixWhere(mWhere)},
       |m AS (SELECT q_id, max(sc) AS mx FROM s GROUP BY q_id),
       |t AS (SELECT s.q_id, mx + ln(sum(exp(sc - mx))) AS tz
       |      FROM s JOIN m USING (q_id) GROUP BY s.q_id, mx),
       |ma AS (SELECT q_id, k_id, sc,
       |         CAST(floor(exp(sc - tz) * 1e6 + 0.5) AS BIGINT) AS mass
       |       FROM s JOIN t USING (q_id)),
       |cb AS (SELECT q_id, k_id, sc, mass,
       |         coalesce(sum(mass) OVER (PARTITION BY q_id ORDER BY sc DESC, k_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       |       FROM ma),
       |nuc AS (SELECT * FROM cb WHERE cum_before < $TopPMicro),
       |g AS (SELECT q_id, k_id, mass, $mixCols,
       |        sc + (${VecOps.pairGumbelSql}) AS pert FROM nuc),
       |r AS (SELECT q_id, arg_max(k_id, pert) AS c, arg_max(mass, pert) AS cm,
       |        count(*) AS n_nucleus, CAST(sum(mass) AS BIGINT) AS tot
       |      FROM g GROUP BY q_id)
       |SELECT q_id AS m_id, c, n_nucleus, cm::DOUBLE / tot::DOUBLE AS weight
       |FROM r""".stripMargin
  }

  private def samplerOracle(mWhere: String = s" WHERE vec_id < $M") = {
    val wt = VecOps.qroundSql("exp(z - tz)", 6)
    // integer pair-noise dual (Mix60Kernel): the z0..z4/h60 chain rides as
    // lateral column aliases, then the same -ln(-ln(u01)) as the Spark side
    val mixCols = VecOps.mix60ColsSql(VecOps.seed60("graft"), "q_id", "k_id")
    s"""${qkPrefixWhere(mWhere)},
       |g AS (SELECT q_id, k_id, sc, $mixCols,
       |      sc + (${VecOps.pairGumbelSql}) AS pert FROM s),
       |m AS (SELECT q_id, max(sc) AS mx FROM s GROUP BY q_id),
       |t AS (SELECT s.q_id, mx + ln(sum(exp(sc - mx))) AS tz
       |      FROM s JOIN m USING (q_id) GROUP BY s.q_id, mx),
       |c AS (SELECT q_id, arg_max(k_id, pert) AS c, arg_max(sc, pert) AS z
       |      FROM g GROUP BY q_id)
       |SELECT c.q_id AS m_id, c.c, $wt AS weight FROM c JOIN t USING (q_id)""".stripMargin
  }

  /** The five kernels at the graded M=$M shape with the distribution mode
    * LEFT TO THE CALLER — the bench's relative-speed probe (the reference's
    * `check` times its blocked GeMMMapReduce path against the regular dense
    * path at one shape and reports the ratio, core.py:133-147; its README's
    * only performance claim is that ratio, README.md:115-117). The Spark
    * dual compares the [[PairPlan.Blocked]] 2-D tile grid against the
    * [[PairPlan.Broadcast]] stream on identical inputs; [[Bench]] medians
    * both and emits one `kernel_ratio` row per kernel. */
  private def mkModalKernels(q: (SparkSession, String) => DataFrame,
                             kv: (SparkSession, String) => DataFrame):
      Map[String, (SparkSession, String, PairPlan.Mode) => DataFrame] = Map(
    "attention" -> ((s, dir, m) =>
      Attention.attention(q(s, dir).drop("label"), kv(s, dir),
        scale = false, mode = m)
        .select(col("q_id"), posexplode(col("out")))
        .select(col("q_id"), col("pos").cast("long").as("d"),
          VecOps.qround(col("col"), 4).as("v"))),
    "mlp" -> ((s, dir, m) =>
      Mlp.mlp(
        q(s, dir).select(col("q_id").as("b_id"), col("qvec").as("xvec")),
        kv(s, dir).select(col("k_id"), col("kvec").as("pvec"),
          col("vvec").as("qvec")), m)
        .select(col("b_id"), col("d"), VecOps.qround(col("v"), 4).as("v"))),
    "xentropy" -> ((s, dir, m) =>
      XEntropy.xentropy(
        q(s, dir).select(col("q_id").as("m_id"), col("qvec").as("mvec"),
          col("label")),
        kv(s, dir).select(col("k_id"), col("kvec")), m)
        .select(col("m_id"), VecOps.qround(col("loss"), 4).as("loss"))),
    "entropy" -> ((s, dir, m) =>
      Entropy.entropy(
        q(s, dir).select(col("q_id").as("m_id"), col("qvec").as("mvec")),
        kv(s, dir).select(col("k_id"), col("kvec")), m)
        .select(col("m_id"), VecOps.qround(col("h"), 4).as("h"))),
    "sampler" -> ((s, dir, m) =>
      Sampler.sampler(
        q(s, dir).select(col("q_id").as("m_id"), col("qvec").as("mvec")),
        kv(s, dir).select(col("k_id"), col("kvec")),
        seed = "graft", mode = m)
        .select(col("m_id"), col("c"),
          VecOps.qround(col("weight"), 6).as("weight"))))

  private[graft] val modalKernels:
      Map[String, (SparkSession, String, PairPlan.Mode) => DataFrame] =
    mkModalKernels(qSide, kvSide)

  /** QUERY-side replication factor of the kernel-ratio MEASUREMENT
    * shape: M 256 → 15360 against the graded KV puts ~31M pairs through
    * each arm (sf0.1), so per-pair kernel work dominates and the ratio
    * can resolve the reference's ≈1 claim (README.md:115-117; VERDICT
    * r13 #2 — at the graded shape the 0.3 s walls scattered 0.87–1.38).
    * The QUERY axis is the one to grow for this measurement, twice over:
    * it is the axis the reference's blocked kernel actually chunks
    * (gemm_map_reduce_attention.cpp:97-124), and growing the KV axis
    * instead makes the blocked arm's big-side exchange grow linearly
    * with the added volume (profiled this round: a 20× KV replica read
    * flat ~1.44 across all five kernels — tile-shuffling 20× the rows
    * the broadcast arm streams in place is a real linear cost, not a
    * fixed cost that more volume amortizes). With M grown, the big side
    * stays fixture-sized in both arms and the two plans differ only in
    * how the SAME ~1.5 MB query side reaches the pair loop. */
  private val KernelRatioRep = 60L

  /** [[qSide]] replicated [[KernelRatioRep]]× with disjoint q_ids,
    * written ONCE per session to scratch parquet and re-read: the
    * explode's growth is invisible to size-only stats (Generate keeps
    * the child's sizeInBytes), so a lazily-replicated frame made
    * PairPlan size the tile grid for the UN-replicated volume — a 1×1
    * grid whose SHUFFLE_HASH hint degenerates to a serial cross join. A
    * real scan carries real bytes (one file per core so the array
    * decode parallelizes). Measurement scaffolding only — every graded
    * query keeps the fixture shape. */
  private val qBigPaths =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def qSideBig(s: SparkSession, dir: String): DataFrame = {
    val path = qBigPaths.computeIfAbsent(
      s.sparkContext.applicationId + "/" + dir, _ => {
        val p = graft.sources.Scratch.dir("graft_kernel_q_big")
        qSide(s, dir)
          .withColumn("rep",
            explode(sequence(lit(0L), lit(KernelRatioRep - 1L))))
          .select((col("q_id") * lit(KernelRatioRep) + col("rep")).as("q_id"),
            col("qvec"), col("label"))
          .repartition(s.sparkContext.defaultParallelism)
          .write.mode("overwrite").parquet(p)
        p
      })
    s.read.parquet(path)
  }

  /** [[modalKernels]] at the kernel-ratio measurement shape (20× M). */
  private[graft] val modalKernelsBig:
      Map[String, (SparkSession, String, PairPlan.Mode) => DataFrame] =
    mkModalKernels(qSideBig, kvSide)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "attention" -> attentionQuery(scale = false),
    // autoregressive mask: k_id <= q_id filtered BEFORE the monoid fold
    "attention_causal" -> ((s: SparkSession, dir: String) =>
      Attention.attentionCausal(qSide(s, dir).drop("label"), kvSide(s, dir),
        scale = true)
        .select(col("q_id"), posexplode(col("out")))
        .select(col("q_id"), col("pos").cast("long").as("d"),
          graft.functions.VecOps.qround(col("col"), 4).as("v"))),
    "attention_big" -> (attentionBigQuery _),
    "sdpa_scaled" -> attentionQuery(scale = true),
    "sdpa_batched" -> (sdpaBatchedQuery _),
    "mlp" -> mlpQuery,
    "mlp_big" -> (mlpBigQuery _),
    "relu_matmul" -> reluMatmulQuery,
    "relu_matmul_f32" -> (reluMatmulF32Query _),
    "xentropy" -> xentropyQuery,
    "xentropy_big" -> (xentropyBigQuery _),
    // the stretch gradient queries (VERDICT r12 #7, then the full
    // family): every in-scope reference backward as a graded pair fold
    "attention_grad" -> (attentionGradQuery _),
    "attention_grad_kv" -> (attentionGradKvQuery _),
    "mlp_grad_x" -> (mlpGradXQuery _),
    "mlp_grad_pq" -> (mlpGradPqQuery _),
    "xentropy_grad" -> (xentropyGradQuery _),
    "xentropy_grad_trg" -> (xentropyGradTrgQuery _),
    "entropy" -> entropyQuery,
    "entropy_big" -> (entropyBigQuery _),
    // the adjoint the reference stubs (entropy.py:14-16) — beyond-the-
    // reference member of the gradient family, gradchecked in
    // EntropyGradSpec
    "entropy_grad" -> (entropyGradQuery _),
    "sampler" -> samplerQuery,
    "sampler_big" -> (samplerBigQuery _),
    // top-p (nucleus) truncation over the sampler's softmax — window op
    "sampler_topp" -> (samplerTopPQuery _)
  )

  val oracles: Map[String, String] = Map(
    "attention" -> attentionOracle(""),
    "attention_causal" -> attentionOracle(" / sqrt(fdim)",
      pairWhere = " WHERE k_id <= q_id"),
    "attention_big" -> attentionOracle("", mWhere = ""),
    // scale derived from the data (len(qv)) exactly like the Spark side's
    // sqrt(size(qvec)) — no hard-coded embedding width (ADVICE.md round 1)
    "sdpa_scaled" -> attentionOracle(" / sqrt(fdim)"),
    "sdpa_batched" -> sdpaBatchedOracle,
    "mlp" -> mlpOracle(),
    "mlp_big" -> mlpOracle(mWhere = ""),
    "relu_matmul" -> reluMatmulOracle,
    "relu_matmul_f32" -> reluMatmulF32Oracle,
    "xentropy" -> xentropyOracle(),
    "xentropy_big" -> xentropyOracle(mWhere = ""),
    "attention_grad" -> attentionGradOracle,
    "attention_grad_kv" -> attentionGradKvOracle,
    "mlp_grad_x" -> mlpGradXOracle,
    "mlp_grad_pq" -> mlpGradPqOracle,
    "xentropy_grad" -> xentropyGradOracle,
    "xentropy_grad_trg" -> xentropyGradTrgOracle,
    "entropy" -> entropyOracle(),
    "entropy_big" -> entropyOracle(mWhere = ""),
    "entropy_grad" -> entropyGradOracle,
    "sampler" -> samplerOracle(),
    "sampler_big" -> samplerOracle(mWhere = ""),
    "sampler_topp" -> samplerTopPOracle()
  )
}
