package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{GraftAggs, NativeExprs, VecOps}

/** Per-row cross-entropy of logits `pred·trgᵀ` against an integer label
  * (reference xentropy.py:5-13,39-64): `loss_m = logsumexp_n(logit_mn) −
  * logit_m[label_m]`.
  *
  * The reference's monoid state `(p = logsumexp partial, n = Σ logit ·
  * 1[label == tix])` (xentropy.py:10-13) is folded one target tile at a
  * time: [[PairPlan.tiles]] packs the target side, one codegen'd fold per
  * (pred row, tile) ([[graft.functions.XEntropyTileFold]]) gives the
  * tile's logsumexp and its label logit (0 when the label's row is not in
  * the tile), and the running-max logsumexp
  * ([[graft.functions.GraftAggs.logSumExp]]) and a built-in `sum` merge
  * those M × tiles partials — both commutative monoids with primitive
  * buffers, so the merge is a `HashAggregateExec` and the M×N pair stream
  * never exists as rows.
  */
object XEntropy {

  /** pred: (m_id, mvec, label); trg: (k_id, kvec) where k_id is the global
    * class index (reference tixs, xentropy.py:75). Returns (m_id, loss). */
  def xentropy(pred: DataFrame, trg: DataFrame,
               mode: PairPlan.Mode = PairPlan.Auto): DataFrame =
    forward(pred, trg, mode)
      .select(col("m_id"), (col("p") - col("n")).as("loss"))

  /** BACKWARD of the cross-entropy (reference xentropy.py:15-37
    * `proj_fold_bwd`): with scalar upstream grad g_m on the loss
    * y = p − n, the chain rule gives (g_p, g_n) = (g_m, −g_m), and the
    * per-pair adjoint is the softmax-minus-one-hot classic
    *   gh_mn = g_m·exp(s_mn − a_p_m) − g_m·1[label_m = k_id_n]
    * (a_p = the forward logsumexp aggregate, joined back M-sized). Both
    * gradients are weighted-vector-sum folds over the SAME pair stream:
    * dPred_m = Σ_n gh_mn·k_n (this method, keyed m — returns
    * (m_id, dpred)) and dTrg_n = Σ_m gh_mn·pred_m ([[xentropyGradTrg]],
    * keyed n — returns (k_id, dtrg)). g: (m_id, gm). */
  def xentropyGradPred(pred: DataFrame, trg: DataFrame, g: DataFrame,
                       mode: PairPlan.Mode = PairPlan.Auto): DataFrame =
    gradPairs(pred, trg, g, mode)
      .groupBy(col("m_id"))
      .agg(GraftAggs.vecWeightedSum(col("gh"), col("kvec")).as("dpred"))

  /** The target-side half of the cross-entropy backward (see
    * [[xentropyGradPred]]). */
  def xentropyGradTrg(pred: DataFrame, trg: DataFrame, g: DataFrame,
                      mode: PairPlan.Mode = PairPlan.Auto): DataFrame =
    gradPairs(pred, trg, g, mode)
      .groupBy(col("k_id"))
      .agg(GraftAggs.vecWeightedSum(col("gh"), col("mvec")).as("dtrg"))

  private def gradPairs(pred: DataFrame, trg: DataFrame, g: DataFrame,
                        mode: PairPlan.Mode): DataFrame = {
    val sc = VecOps.dot(col("mvec"), col("kvec"))
    val fwd = forward(pred, trg, mode).select(col("m_id"), col("p"))
    val gh = col("gm") * exp(sc - col("p")) -
      when(col("k_id") === col("label"), col("gm")).otherwise(0.0)
    PairPlan.cross(trg, pred, mode)
      .join(PairPlan.hintBoundedLike(fwd, pred, mode), "m_id")
      .join(PairPlan.hintBoundedLike(g, pred, mode), "m_id")
      .select(col("m_id"), col("k_id"), gh.as("gh"),
        col("mvec"), col("kvec"))
  }

  /** (m_id, p = logsumexp of the row's logits, n = its label logit). */
  private def forward(pred: DataFrame, trg: DataFrame,
                      mode: PairPlan.Mode): DataFrame =
    PairPlan.tiles(trg, pred, mode)
      .select(col("m_id"), NativeExprs.xentropyTile(col("mvec"), col("__tile"),
        col("__tid"), col("label").cast("long")).as("t"))
      .groupBy("m_id")
      .agg(GraftAggs.logSumExp(col("t.z")).as("p"), sum(col("t.n")).as("n"))
}
