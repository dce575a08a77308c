package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{GraftAggs, VecOps}

/** Shannon entropy of each row of `softmax(pred·trgᵀ)` (reference
  * entropy.py:5-12,18-41): `H_m = logsumexp_n(logit) − E_softmax[logit]`.
  *
  * The reference's monoid `(p = logsumexp, n = mass-weighted mean logit)`
  * (entropy.py:18-23) is the scalar (D=1) case of the attention monoid.
  * It folds as [[graft.functions.LogSumExpDecl]] with the logit itself as
  * the value: three primitive buffer slots, so the fold plans as a
  * `HashAggregateExec` inside the pair stream's codegen stage instead of
  * copying every pair row into an `ObjectHashAggregateExec`.
  */
object Entropy {

  /** pred: (m_id, mvec); trg: (k_id, kvec). Returns (m_id, h). */
  def entropy(pred: DataFrame, trg: DataFrame,
              mode: PairPlan.Mode = PairPlan.Auto): DataFrame = {
    val sc = VecOps.dot(col("mvec"), col("kvec"))
    PairPlan.cross(trg, pred, mode)
      .select(col("m_id"), sc.as("sc"))
      .groupBy("m_id")
      .agg(GraftAggs.logSumExpMean(col("sc"), col("sc")).as("lw"))
      .select(col("m_id"), (col("lw.z") - col("lw.v")).as("h"))
  }

  /** BACKWARD dPred of entropy — the adjoint the reference STUBS
    * (entropy.py:14-16 raises NotImplementedError; this completes the
    * family beyond the reference, VERDICT r13 "Next" #7) via the same
    * monoid-adjoint recipe as attention's (README.md:112-113). With
    * s_mn = mvec_m·k_n, z_m = logsumexp, w_mn = exp(s_mn − z_m) and
    * s̄_m = Σ_n w_mn·s_mn (both already the forward fold's aggregate):
    *   ∂H_m/∂s_mn = w_mn·(s̄_m − s_mn)
    *   dPred_m    = g_m · Σ_n w_mn·(s̄_m − s_mn)·k_n
    * — itself a commutative weighted-vector-sum fold over n, so the plan
    * is the gradient family's standard TWO pair passes with only the
    * M-sized (z, s̄) aggregate crossing between them (size-guarded
    * join-back hint, never the M×N weight matrix).
    *
    * g: (m_id, gm) scalar upstream gradient. Returns (m_id, dm). */
  def entropyGrad(pred: DataFrame, trg: DataFrame, g: DataFrame,
                  mode: PairPlan.Mode = PairPlan.Auto): DataFrame = {
    val sc = VecOps.dot(col("mvec"), col("kvec"))
    val fwd = PairPlan.cross(trg, pred, mode)
      .select(col("m_id"), sc.as("sc"))
      .groupBy("m_id")
      .agg(GraftAggs.logSumExpMean(col("sc"), col("sc")).as("lw"))
      .select(col("m_id"), col("lw.z").as("z"), col("lw.v").as("sbar"))
    val wt = col("gm") * exp(sc - col("z")) * (col("sbar") - sc)
    PairPlan.cross(trg, pred, mode)
      .join(PairPlan.hintBoundedLike(fwd, pred, mode), "m_id")
      .join(PairPlan.hintBoundedLike(g, pred, mode), "m_id")
      .select(col("m_id"), wt.as("wt"), col("kvec"))
      .groupBy(col("m_id"))
      .agg(GraftAggs.vecWeightedSum(col("wt"), col("kvec")).as("dm"))
  }
}
