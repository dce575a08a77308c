package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{GraftAggs, NativeExprs, VecOps}

/** Attention as a relational plan (reference attention.py:5-9,31-57;
  * scaled variant custom_attention.cpp:26-29).
  *
  * `out_q = softmax(q·Kᵀ [/ sqrt(F)]) · V`, computed in ONE pass, the
  * reference's chunk-then-fold contract (README.md:10-21): the KV side is
  * packed into tiles ([[PairPlan.tiles]]), one fold per (query row, tile)
  * ([[graft.functions.AttentionTileFold]], an online softmax inside the
  * join's whole-stage codegen stage) maps the tile's pairs to ONE monoid
  * value (z, v), and the per-q_id log-weighted-mean aggregate
  * ([[graft.functions.LogWeightedVecAgg]]) merges the M × tiles partial
  * values. Neither the M×N score matrix nor the M×N pair stream is ever
  * materialized as rows; the aggregate's object buffer is an
  * `ObjectHashAggregateExec`, but it reads one row per (query row, tile),
  * not one per pair.
  *
  * Distribution: the query side is broadcast (the reference keeps the query
  * chunk resident while streaming KV — gemm_map_reduce_attention.cpp:97-124);
  * the large KV side streams partition-by-partition, and only M partial
  * monoid buffers per partition cross the shuffle. At 100 TB KV this plan is
  * embarrassingly parallel: no KV shuffle at all, shuffle volume = O(M ×
  * partitions).
  */
object Attention {

  /** q: (q_id, qvec); kv: (k_id, kvec, vvec). Returns (q_id, z, out) where
    * z = logsumexp of scores and out = softmax-weighted mean of vvec.
    * Distribution via [[PairPlan]] — Auto picks broadcast vs the blocked
    * 2-D grid from the query side's size estimate. [[PairPlan.Blocked]] is
    * the path for LARGE M, where the query side cannot be broadcast: its
    * tile-keyed `SHUFFLE_HASH` equi-join builds the (q-tile × kv-tile)
    * task grid that IS the reference's 2-D chunk loop
    * (gemm_map_reduce_attention.cpp:97-124), and partial aggregation
    * reduces the (q row, kv-tile) folds to per-q monoid buffers before the
    * only remaining shuffle (O(M × kv-tiles) buffers, never the M×N score
    * matrix). */
  def attention(q: DataFrame, kv: DataFrame, scale: Boolean = false,
                mode: PairPlan.Mode = PairPlan.Auto): DataFrame =
    fold(q, kv, scale, causal = false, mode)

  /** BACKWARD dQ of attention (reference attention.py:11-29
    * `proj_fold_bwd`, the `z @ key` row) — the one stretch member of the
    * autograd family in scope (VERDICT r12 #7). With upstream grad
    * g = (g_z = 0, g_v) — the reference check's loss `(y·mock).sum()`
    * reads only the value output (core.py:72) — and the FORWARD AGGREGATE
    * a = (z_m, out_m) joined back over the same pair stream, the per-pair
    * adjoint is
    *   w_mn    = exp(q_m·k_n − z_m)              (the softmax weight)
    *   zbar_mn = (g_v_m·v_n − g_v_m·out_m)·w_mn  (attention.py:28)
    * and dQ_m = Σ_n zbar_mn·k_n — ITSELF a commutative-monoid fold over n
    * (README.md:112-113: for these monoids d fold(X)/dX[i] is a function
    * of fold(X) and X[i] alone). So the Spark plan is exactly the paper's
    * TWO pair passes — forward aggregate, then the adjoint fold — both
    * map-side-combined, with only the M-sized (z, out) aggregate crossing
    * between them (never the M×N weight matrix). The join-back hint is
    * SIZE-GUARDED ([[PairPlan.hintBoundedLike]], ADVICE r13 #2): under
    * Blocked — whose premise is that M does not fit one executor — the
    * M-sized aggregate must not be force-broadcast either; it shuffles
    * on q_id unless the plan-time estimate fits the session threshold.
    *
    * g: (q_id, gvec) with gvec of vvec's dimension. Returns (q_id, dq). */
  def attentionGradQ(q: DataFrame, kv: DataFrame, g: DataFrame,
                     mode: PairPlan.Mode = PairPlan.Auto): DataFrame = {
    val fwd = attention(q, kv, scale = false, mode)
      .select(col("q_id"), col("z"), col("out"))
    val sc = VecOps.dot(col("qvec"), col("kvec"))
    val zbar = (VecOps.dot(col("gvec"), col("vvec")) -
      VecOps.dot(col("gvec"), col("out"))) * exp(sc - col("z"))
    PairPlan.cross(kv, q, mode)
      .join(PairPlan.hintBoundedLike(fwd, q, mode), "q_id")
      .join(PairPlan.hintBoundedLike(g, q, mode), "q_id")
      .select(col("q_id"), zbar.as("zb"), col("kvec"))
      .groupBy(col("q_id"))
      .agg(GraftAggs.vecWeightedSum(col("zb"), col("kvec")).as("dq"))
  }

  /** BACKWARD dK and dV of attention (attention.py:11-29's `z.T @ query`
    * and `w.T @ g_v` rows) — the key-side halves completing
    * [[attentionGradQ]]: the SAME per-pair adjoint (w, zbar), folded over
    * m instead of n —
    *   dK_n = Σ_m zbar_mn·q_m     dV_n = Σ_m w_mn·g_v_m
    * so one more pass over the pair stream keyed by k_id closes the whole
    * attention gradient triple. Returns (k_id, dk, dv). */
  def attentionGradKV(q: DataFrame, kv: DataFrame, g: DataFrame,
                      mode: PairPlan.Mode = PairPlan.Auto): DataFrame = {
    val fwd = attention(q, kv, scale = false, mode)
      .select(col("q_id"), col("z"), col("out"))
    val sc = VecOps.dot(col("qvec"), col("kvec"))
    val w = exp(sc - col("z"))
    val zbar = (VecOps.dot(col("gvec"), col("vvec")) -
      VecOps.dot(col("gvec"), col("out"))) * w
    PairPlan.cross(kv, q, mode)
      .join(PairPlan.hintBoundedLike(fwd, q, mode), "q_id")
      .join(PairPlan.hintBoundedLike(g, q, mode), "q_id")
      .select(col("k_id"), zbar.as("zb"), w.as("w"),
        col("qvec"), col("gvec"))
      .groupBy(col("k_id"))
      .agg(GraftAggs.vecWeightedSum(col("zb"), col("qvec")).as("dk"),
        GraftAggs.vecWeightedSum(col("w"), col("gvec")).as("dv"))
  }

  /** CAUSAL (masked) attention — the autoregressive-TRAINING variant (the
    * brief's "beyond the reference" mandate: a causal LM's SDPA masks
    * future positions; the reference kernel is unmasked). Each query
    * attends to keys with k_id ≤ q_id only. The tile fold skips masked
    * pairs BEFORE any score is computed, so the mask prunes ~half the
    * M×N pair work (at 100 TB it is free work-avoidance, not a post-hoc
    * −∞ add the way dense kernels implement it); a query row with no
    * unmasked key gets no row, as if its pairs were filtered out. */
  def attentionCausal(q: DataFrame, kv: DataFrame, scale: Boolean = false,
                      mode: PairPlan.Mode = PairPlan.Auto): DataFrame =
    fold(q, kv, scale, causal = true, mode)

  /** BATCHED attention (reference custom_attention.cpp:9-24: the C++ SDPA
    * accepts ≥2-D inputs and iterates the leading batch dims; each batch
    * attends only within itself). q: (batch_id, q_id, qvec); kv:
    * (batch_id, k_id, kvec, vvec). Returns (batch_id, q_id, z, out).
    *
    * Relationally the batch axis turns the cross join into an EQUI-join on
    * batch_id — strictly better at scale than B independent single-batch
    * runs: one shuffle co-partitions both sides by batch, every batch's
    * M_b×N_b pair stream reduces map-side into per-(batch,q) monoid
    * buffers, and Catalyst picks broadcast vs shuffle from the q side's
    * size. A skewed giant batch degrades to the single-batch profile, no
    * worse (AQE skew-join splits its partitions). */
  def attentionBatched(q: DataFrame, kv: DataFrame,
                       scale: Boolean = false): DataFrame = {
    val raw = VecOps.dot(col("qvec"), col("kvec"))
    val sc = if (scale) raw / sqrt(size(col("qvec")).cast("double")) else raw
    q.join(kv, "batch_id")
      .select(col("batch_id"), col("q_id"), sc.as("sc"), col("vvec"))
      .groupBy("batch_id", "q_id")
      .agg(GraftAggs.logWeightedVec(col("sc"), col("vvec")).as("lw"))
      .select(col("batch_id"), col("q_id"),
        col("lw.z").as("z"), col("lw.v").as("out"))
  }

  /** One attention monoid value per (query row, KV tile), merged per
    * q_id. A partial (z, v) is itself a monoid element, so the pair
    * aggregate merges partials unchanged. Only a causal fold returns null
    * (a tile whose every key is masked; [[PairPlan.tiles]] emits no empty
    * tile), and a query row with only null partials must get no row, as
    * it had no pair: `n` counts its non-null partials. It is counted in
    * the aggregate rather than filtered before it, because a filter on
    * the fold's output is pushed below the projection that computes it
    * (into the join condition) and runs the fold twice. */
  private def fold(q: DataFrame, kv: DataFrame, scale: Boolean,
                   causal: Boolean, mode: PairPlan.Mode): DataFrame = {
    val byQuery = PairPlan.tiles(kv, q, mode)
      .select(col("q_id"), NativeExprs.attentionTile(col("qvec"),
        col("__tile"), col("__tid"), col("q_id"), scale, causal).as("p"))
      .groupBy("q_id")
    val lw = GraftAggs.logWeightedVec(col("p.z"), col("p.v")).as("lw")
    (if (causal) byQuery.agg(lw, count(col("p")).as("n")).filter(col("n") > 0)
     else byQuery.agg(lw))
      .select(col("q_id"), col("lw.z").as("z"), col("lw.v").as("out"))
  }
}
