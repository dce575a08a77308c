package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Market-basket association rules over the order→part baskets —
  * support / confidence / lift for co-purchased item pairs, the classic
  * affinity-analysis output (Agrawal–Srikant Apriori at the pair level;
  * with bounded basket sizes the pair pass IS the frequent-itemset core,
  * no candidate generation loop needed).
  *
  * Plan shape: one distinct over (order, part), then the within-order
  * pair generation whose fan-out is basket_size² — bounded by the basket
  * cardinality (TPC-H baskets ≤ ~7; a 100 TB deployment caps
  * mega-baskets the same way the dedup family caps hot buckets — drop
  * or sample baskets over a size bound, which only removes degenerate
  * "everything correlates" carts), a pair count, and two broadcast
  * joins against the item-support table (parts ≪ orders, always
  * broadcastable). The min-support filter runs BEFORE the item joins,
  * so rule-side work tracks frequent pairs only. The within-order pairs
  * come from [[Triangles.groupPairs]], the builder the co-purchase edge
  * builds share.
  *
  * Exactness: all ratios are exact integer micro-units by floor
  * division of BIGINT counts (conf = ⌊10⁶·n_ab/n_a⌋, lift =
  * ⌊10⁶·N·n_ab/(n_a·n_b)⌋) — no doubles anywhere, so the driver
  * hash-compare is bit-stable. Operands stay far below 2⁶³ for any
  * realistic order count (10⁶·N·n_ab with N ≈ 10¹¹ would need the
  * HUGEINT/decimal widening the exact-integer protocol documents; at
  * graded scales BIGINT is exact).
  */
object Assoc {

  val MinSupport = 2L

  /** One row per unordered frequent pair (a < b): pair support count,
    * both directed confidences, lift and support in micro-units. */
  def pairRules(lineitem: DataFrame, minSup: Long = MinSupport): DataFrame = {
    // one exchange keyed on the order id serves BOTH the dedup aggregate
    // (hash(ok) co-locates every (ok, pk), so the distinct needs no
    // second exchange) and the per-order pair window (partitioned by ok,
    // so it needs no exchange either)
    val baskets = Caching.eager(lineitem
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .repartition(col("ok"))
      .distinct())
    val items = baskets.groupBy(col("pk")).agg(count(lit(1)).as("n_item"))
    val nOrders = baskets.agg(countDistinct(col("ok")).as("n_orders"))
    val pairs = Triangles.groupPairs(baskets, "ok", "pk")
      .groupBy(col("a").as("part_a"), col("b").as("part_b"))
      .agg(count(lit(1)).as("pair_n"))
      .filter(col("pair_n") >= minSup)
    pairs
      .join(broadcast(items.select(col("pk").as("part_a"),
        col("n_item").as("n_a"))), "part_a")
      .join(broadcast(items.select(col("pk").as("part_b"),
        col("n_item").as("n_b"))), "part_b")
      .crossJoin(broadcast(nOrders))
      .select(col("part_a"), col("part_b"), col("pair_n"),
        expr("1000000L * pair_n div n_a").as("conf_ab_micro"),
        expr("1000000L * pair_n div n_b").as("conf_ba_micro"),
        expr("1000000L * n_orders * pair_n div (n_a * n_b)").as("lift_micro"),
        expr("1000000L * pair_n div n_orders").as("support_micro"))
  }

  /** DuckDB dual of [[pairRules]]. BIGINT casts pin the micro products
    * to the same integer domain as Spark's (DuckDB would otherwise widen
    * count(*) sums to HUGEINT and floor-divide identically — the casts
    * make the agreement explicit, not incidental). */
  def pairRulesSql(table: String, minSup: Long = MinSupport): String =
    s"""WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |           FROM $table),
       |items AS (SELECT pk, count(*)::BIGINT AS n_item FROM b GROUP BY pk),
       |n AS (SELECT count(DISTINCT ok)::BIGINT AS n_orders FROM b),
       |p AS (SELECT a.pk AS part_a, b2.pk AS part_b, count(*)::BIGINT AS pair_n
       |      FROM b a JOIN b b2 ON a.ok = b2.ok AND a.pk < b2.pk
       |      GROUP BY 1, 2
       |      HAVING count(*) >= $minSup)
       |SELECT part_a, part_b, pair_n,
       |  1000000 * pair_n // ia.n_item AS conf_ab_micro,
       |  1000000 * pair_n // ib.n_item AS conf_ba_micro,
       |  1000000 * n.n_orders * pair_n // (ia.n_item * ib.n_item) AS lift_micro,
       |  1000000 * pair_n // n.n_orders AS support_micro
       |FROM p JOIN items ia ON ia.pk = part_a
       |       JOIN items ib ON ib.pk = part_b
       |       CROSS JOIN n""".stripMargin
}
