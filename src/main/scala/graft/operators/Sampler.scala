package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{GraftAggs, NativeExprs, VecOps}

/** Exact categorical sampling from `softmax(pred·trgᵀ)` per row without
  * materializing the logit matrix (reference sampling.py:5-61).
  *
  * The reference merges chunk candidates with probability `e^{z_a −
  * logaddexp(z_a, z_b)}` (sampling.py:25-30) — biased per SURVEY.md §2.4.3.
  * We implement the exact, associative form instead: the Gumbel-max trick
  * as a pure max monoid — `argmax_n(logit_n + Gumbel_n)` is an unbiased
  * softmax sample, and `max` over perturbed keys is trivially commutative/
  * associative, so Spark's partial/final agg needs no custom state at all
  * (`max(struct(perturbed, logit, idx))`).
  *
  * Noise is a deterministic Gumbel stream keyed on (seed, m_id, k_id)
  * rather than the reference's `torch.rand` (sampling.py:5,14) —
  * reproducible across retries AND bit-identically computable by the
  * DuckDB oracle, so this normally "nondeterministic" operator gets a
  * full hash-equality check. The stream is the integer
  * [[graft.functions.Mix60Kernel]] ([[VecOps.pairGumbel]]), evaluated once
  * per (m, k) PAIR.
  *
  * The target side is packed into tiles ([[PairPlan.tiles]]) and one
  * codegen'd fold per (pred row, tile) ([[graft.functions.SamplerTileFold]])
  * gives the tile's Gumbel-max winner and its logsumexp. The winner is the
  * pair plan's own, noise and order bit for bit, so the sampled index is
  * unchanged; the argmax and logsumexp aggregates merge the M × tiles
  * partials in a `HashAggregateExec`.
  *
  * Output matches gemmmr_sampler (sampling.py:59-61): the chosen global
  * index `c` and its softmax probability `weight = e^{z − logsumexp}`.
  */
object Sampler {

  /** pred: (m_id, mvec); trg: (k_id, kvec). Returns (m_id, c, weight). */
  def sampler(pred: DataFrame, trg: DataFrame, seed: String,
              mode: PairPlan.Mode = PairPlan.Auto): DataFrame =
    PairPlan.tiles(trg, pred, mode)
      .select(col("m_id"), NativeExprs.samplerTile(col("mvec"), col("__tile"),
        col("__tid"), col("m_id"), VecOps.seed60(seed)).as("p"))
      .groupBy("m_id")
      // the argmax is the declarative lexicographic-max aggregate, not
      // max(struct): a struct buffer disqualifies HashAggregate and drags
      // the whole aggregation down to SortAggregate (r13 plan read)
      .agg(
        GraftAggs.argMaxPert(col("p.pert"), col("p.sc"), col("p.k_id")).as("top"),
        GraftAggs.logSumExp(col("p.z")).as("tz"))
      .select(col("m_id"), col("top.k_id").as("c"),
        exp(col("top.sc") - col("tz")).as("weight"))

  /** TOP-P (NUCLEUS) sampling — the decoding-time truncation every LLM
    * serving stack runs on top of the categorical sampler: per row, keep
    * the smallest highest-probability prefix whose cumulative softmax
    * mass reaches `p`, then sample from the renormalized nucleus. Extends
    * the reference's sampler (sampling.py:5-61) with the truncation the
    * pure Gumbel-max monoid can't express: nucleus membership needs
    * per-row ORDER STATISTICS, so this is inherently a window (rank) op,
    * not a fold — the honest plan is one hashpartitioning(m_id) exchange
    * carrying the pair stream, with the row max, the softmax total, the
    * ordered cumulative mass, and the final Gumbel-max all computed
    * inside that one partitioning (plan-asserted in the spec). Per-query
    * windows only — never a global sort; M rows out.
    *
    * Determinism: masses are quantized to INTEGER micro-units
    * (floor(e^{sc−tz}·10⁶ + ½)) before the cumulative sum, so the
    * nucleus cut compares exact integers in both engines — a double
    * cumsum would hit engine-specific association order exactly at the
    * cut boundary. The sampled weight divides the SAME two integers in
    * both engines. Caveat (ADVICE r7): the mass integers themselves are
    * downstream of `tz` — an unordered double window SUM plus libm
    * exp/log — so they inherit the repo-wide ln/exp 1-ulp envelope: a
    * value landing within 1 ulp of a ·10⁶ rounding boundary could flip
    * one mass unit and with it nucleus MEMBERSHIP, exactly like the other
    * documented ln() sites. The quantization confines that exposure to
    * the single rounding site (vs. every partial sum of a double cumsum);
    * it does not eliminate it. Gumbel keys come from the
    * [[graft.functions.Mix60Kernel]] pair-noise stream, as in
    * [[sampler]]. */
  def samplerTopP(pred: DataFrame, trg: DataFrame, seed: String,
                  pMicro: Long = 900000L,
                  mode: PairPlan.Mode = PairPlan.Auto): DataFrame = {
    val sc = VecOps.dot(col("mvec"), col("kvec"))
    val part = org.apache.spark.sql.expressions.Window.partitionBy(col("m_id"))
    val ordered = part.orderBy(col("sc").desc, col("k_id"))
    val before = ordered.rowsBetween(Long.MinValue, -1)
    val noise = VecOps.pairGumbel(VecOps.seed60(seed), col("m_id"), col("k_id"))
    PairPlan.cross(trg, pred, mode)
      .select(col("m_id"), col("k_id"), sc.as("sc"))
      .withColumn("mx", max(col("sc")).over(part))
      .withColumn("tz", col("mx") + log(sum(exp(col("sc") - col("mx"))).over(part)))
      .withColumn("mass",
        floor(exp(col("sc") - col("tz")) * 1e6 + lit(0.5)).cast("long"))
      .withColumn("cum_before", coalesce(sum(col("mass")).over(before), lit(0L)))
      .filter(col("cum_before") < lit(pMicro))
      .select(col("m_id"), col("k_id"), col("mass"),
        (col("sc") + noise).as("pert"))
      .groupBy("m_id")
      .agg(max(struct(col("pert"), col("mass"), col("k_id"))).as("top"),
        count(lit(1)).as("n_nucleus"),
        sum(col("mass")).as("tot_mass"))
      .select(col("m_id"), col("top.k_id").as("c"), col("n_nucleus"),
        (col("top.mass").cast("double") / col("tot_mass").cast("double"))
          .as("weight"))
  }
}
