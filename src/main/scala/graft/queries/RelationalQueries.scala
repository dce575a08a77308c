package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VecOps
import graft.sources.Tables

/** Classic relational analytics over the TPC-H-ish fixture tables —
  * scan→filter→multi-join→aggregate→top-k shapes proving the engine is a
  * general analytics engine, not only the kernel surface.
  *
  * Scale notes: joins are key equi-joins (orderkey/custkey/nationkey);
  * dimension sides (nation, region, customer) broadcast under AQE; float
  * sums over ~10^5 rows are rounded coarsely (nearest 100 for money sums)
  * because cross-engine summation order differs by ~1e-2 absolute at this
  * magnitude — the rounding grid must dominate the reassociation error.
  */
object RelationalQueries {

  /** TPC-H Q1-style pricing summary. */
  private def q1(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        VecOps.qround(sum(col("l_quantity")), 2).as("sum_qty"),
        VecOps.qround(sum(col("l_extendedprice")), -2).as("sum_base"),
        VecOps.qround(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), -2)
          .as("sum_disc"),
        count(lit(1)).as("n"))

  private val q1Oracle =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${VecOps.qroundSql("sum(l_quantity)", 2)} AS sum_qty,
       |  ${VecOps.qroundSql("sum(l_extendedprice)", -2)} AS sum_base,
       |  ${VecOps.qroundSql("sum(l_extendedprice * (1.0 - l_discount))", -2)} AS sum_disc,
       |  count(*) AS n
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       |GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** Top-10 customers by total order value (join → agg → deterministic
    * rank → limit). orderBy+limit FIRST (plans as distributed
    * TakeOrderedAndProject — no global single-partition window over all
    * customers); the rank window then runs over only the 10 survivors. */
  private def topCustomers(s: SparkSession, dir: String): DataFrame = {
    // rank on exact integer pennies, not the double sum — same
    // tie-determinism protocol as shippingPriority (sf1 replicas tie
    // mathematically; engine-specific double summation order otherwise
    // permutes the rank within a tie group)
    val w = Window.orderBy(desc("rev_c"), col("c_custkey"))
    Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(count(lit(1)).as("n_orders"), sum(col("o_totalprice")).as("revenue_raw"),
        sum(floor(col("o_totalprice") * lit(100.0) + lit(0.5)).cast("long"))
          .as("rev_c"))
      .orderBy(desc("rev_c"), col("c_custkey"))
      .limit(10)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col("c_custkey"), col("c_name"), col("n_orders"),
        VecOps.qround(col("revenue_raw"), 2).as("revenue"))
  }

  private val topCustomersOracle =
    s"""WITH a AS (SELECT c_custkey, c_name, count(*) AS n_orders,
       |             sum(o_totalprice) AS revenue_raw,
       |             sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
       |               AS rev_c
       |           FROM orders JOIN customer ON o_custkey = c_custkey
       |           GROUP BY c_custkey, c_name),
       |r AS (SELECT *, row_number() OVER (ORDER BY rev_c DESC, c_custkey) AS rank
       |      FROM a)
       |SELECT CAST(rank AS BIGINT) AS rank, c_custkey, c_name, n_orders,
       |       ${VecOps.qroundSql("revenue_raw", 2)} AS revenue
       |FROM r WHERE rank <= 10""".stripMargin

  /** Revenue per region/nation through the full 5-table join chain. */
  private def regionRevenue(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(s, dir), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.region(s, dir), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        VecOps.qround(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), -2)
          .as("revenue"),
        count(lit(1)).as("n"))

  private val regionRevenueOracle =
    s"""SELECT r_name, n_name,
       |  ${VecOps.qroundSql("sum(l_extendedprice * (1.0 - l_discount))", -2)} AS revenue,
       |  count(*) AS n
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY r_name, n_name""".stripMargin

  /** TPC-H Q9-style product-profit query (VERDICT r3 next-steps #5 — the
    * last two unqueried fixture tables): part ⋈ lineitem ⋈ supplier ⋈
    * orders ⋈ nation, profit by supplier nation × order year, filtered on a
    * part-name pattern. The fixture has no `partsupp`, so the cost side is
    * `p_retailprice × l_quantity` instead of Q9's `ps_supplycost` — same
    * join/filter/agg shape. The `%red%` filter is applied to `part` before
    * any join (and pushes into the parquet scan); part/supplier/nation are
    * dimension-sized and broadcast under AQE, so the only shuffle is the
    * final (nation, year) aggregation. */
  private def partProfit(s: SparkSession, dir: String): DataFrame = {
    val profit =
      col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
        col("p_retailprice") * col("l_quantity")
    Tables.lineitem(s, dir)
      .join(Tables.part(s, dir).filter(col("p_name").like("%red%")),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.nation(s, dir), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(VecOps.qround(sum(profit), -2).as("profit"), count(lit(1)).as("n"))
  }

  private val partProfitOracle =
    s"""SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       |  ${VecOps.qroundSql(
          "sum(l_extendedprice * (1.0 - l_discount) - p_retailprice * l_quantity)", -2)} AS profit,
       |  count(*) AS n
       |FROM lineitem
       |JOIN part ON l_partkey = p_partkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN nation ON s_nationkey = n_nationkey
       |WHERE p_name LIKE '%red%'
       |GROUP BY n_name, o_year""".stripMargin

  /** TPC-H Q3-style shipping priority: segment-filtered customers ⋈ orders
    * before the cutoff ⋈ lineitems shipped after it, top-10 open orders by
    * outstanding revenue. Both date filters and the segment filter sit
    * before their joins (pushed to the parquet scans); customer is
    * dimension-sized and broadcasts; orderBy+limit plans as distributed
    * TakeOrderedAndProject — no global sort. */
  private val Q3Cutoff = "1998-03-15"

  private def shippingPriority(s: SparkSession, dir: String): DataFrame = {
    val cut = lit(Q3Cutoff).cast("timestamp")
    // rank on the EXACT integer-penny revenue (lineRevPennies protocol),
    // not the double sum: mathematically-tied orders (the sf1 replica
    // fixture has ten of each) land on engine-specific last-ulp doubles
    // under different summation orders, permuting a double-keyed rank
    // between Spark and the oracle — integer ties tie exactly, and the
    // orderkey tiebreak then totalizes the order (caught at the r14 sf1
    // gate as 9 positional rank diffs)
    val w = Window.orderBy(desc("rev_c"), col("l_orderkey"))
    Tables.lineitem(s, dir).filter(col("l_shipdate") > cut)
      .join(Tables.orders(s, dir).filter(col("o_orderdate") < cut),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir)
          .filter(col("c_mktsegment") === "BUILDING"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue_raw"),
        sum(lineRevPennies).as("rev_c"))
      .orderBy(desc("rev_c"), col("l_orderkey"))
      .limit(10)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_orderpriority"),
        VecOps.qround(col("revenue_raw"), 2).as("revenue"))
  }

  private val shippingPriorityOracle =
    s"""WITH a AS (SELECT l_orderkey, o_orderdate, o_orderpriority,
       |             sum(l_extendedprice * (1.0 - l_discount)) AS revenue_raw,
       |             sum(CAST(floor(l_extendedprice * (1.0 - l_discount)
       |                            * 100.0 + 0.5) AS BIGINT)) AS rev_c
       |           FROM lineitem
       |           JOIN orders ON l_orderkey = o_orderkey
       |           JOIN customer ON o_custkey = c_custkey
       |           WHERE c_mktsegment = 'BUILDING'
       |             AND o_orderdate < TIMESTAMP '$Q3Cutoff 00:00:00'
       |             AND l_shipdate > TIMESTAMP '$Q3Cutoff 00:00:00'
       |           GROUP BY l_orderkey, o_orderdate, o_orderpriority),
       |r AS (SELECT *, row_number() OVER (ORDER BY rev_c DESC, l_orderkey) AS rank
       |      FROM a)
       |SELECT CAST(rank AS BIGINT) AS rank, l_orderkey,
       |       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority,
       |       ${VecOps.qroundSql("revenue_raw", 2)} AS revenue
       |FROM r WHERE rank <= 10""".stripMargin

  /** ROLLUP subtotals — the grouping-sets surface: per (flag, status)
    * pricing stats plus per-flag subtotals and the grand total in one
    * pass. Spark plans a single Expand + one aggregation (each input row
    * fans out once per grouping set; partial aggs still combine map-side),
    * not one job per set. `gid` is grouping_id() — bit k set when the k-th
    * rollup column is aggregated away (first column = MSB in both
    * engines) — which also disambiguates a genuine NULL key from a
    * subtotal row. */
  private def q1Rollup(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping_id().cast("long").as("gid"),
        VecOps.qround(sum(col("l_quantity")), 2).as("sum_qty"),
        VecOps.qround(sum(col("l_extendedprice")), -2).as("sum_base"),
        count(lit(1)).as("n"))
      .select(col("gid"), col("l_returnflag"), col("l_linestatus"),
        col("sum_qty"), col("sum_base"), col("n"))

  private val q1RollupOracle =
    s"""SELECT CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       |  l_returnflag, l_linestatus,
       |  ${VecOps.qroundSql("sum(l_quantity)", 2)} AS sum_qty,
       |  ${VecOps.qroundSql("sum(l_extendedprice)", -2)} AS sum_base,
       |  count(*) AS n
       |FROM lineitem
       |GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin

  /** TPC-H Q6-style forecast-revenue: the pure-pushdown query — every
    * predicate (date range, discount band, quantity cap) reaches the
    * parquet scan as a PushedFilter, the projection is 2 columns, and the
    * plan is scan → partial agg → single-row final. The canonical "is the
    * scan doing the work" probe at 100 TB. */
  private def q6(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(
        VecOps.qround(sum(col("l_extendedprice") * col("l_discount")), 2)
          .as("revenue"),
        count(lit(1)).as("n"))

  private val q6Oracle =
    s"""SELECT ${VecOps.qroundSql("sum(l_extendedprice * l_discount)", 2)} AS revenue,
       |  count(*) AS n
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
       |  AND l_discount BETWEEN 0.05 AND 0.07
       |  AND l_quantity < 24""".stripMargin

  /** LEFT OUTER join with a real null population: customers against their
    * big-ticket orders (totalprice > threshold — ~1/3 of customers have
    * none at sf0.01). Exercises outer-join null semantics through the
    * whole grade path: null-aware conditional counting, countDistinct over
    * a when(), and the dim-side broadcast still applies (the filtered
    * orders side is the small one). */
  private val BigOrder = 450000.0

  private def customerBigOrders(s: SparkSession, dir: String): DataFrame = {
    val big = Tables.orders(s, dir)
      .filter(col("o_totalprice") > BigOrder)
      .select(col("o_custkey"), col("o_orderkey"))
    Tables.customer(s, dir)
      .join(big, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_mktsegment"))
      .agg(
        countDistinct(col("c_custkey")).as("n_customers"),
        countDistinct(when(col("o_orderkey").isNull, col("c_custkey")))
          .as("n_without"),
        count(col("o_orderkey")).as("n_big_orders"))
  }

  private val customerBigOrdersOracle =
    s"""SELECT c_mktsegment,
       |  count(DISTINCT c_custkey) AS n_customers,
       |  count(DISTINCT CASE WHEN o_orderkey IS NULL THEN c_custkey END) AS n_without,
       |  count(o_orderkey) AS n_big_orders
       |FROM customer LEFT JOIN
       |  (SELECT o_custkey, o_orderkey FROM orders WHERE o_totalprice > $BigOrder) o
       |  ON c_custkey = o_custkey
       |GROUP BY c_mktsegment""".stripMargin

  /** TPC-H Q4-style priority check: orders with AT LEAST ONE late line
    * item (shipped > 60 days after the order date), counted per priority.
    * A LEFT SEMI join with a mixed equi + non-equi condition — the EXISTS
    * shape: the probe side never duplicates an order no matter how many
    * lines qualify, and only the order key + date cross the join. (The
    * fixture has no commit/receipt dates; ship-lag stands in for Q4's
    * late-commit predicate — same join/filter/agg shape.) */
  private def latePriority(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir),
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))

  private val latePriorityOracle =
    s"""SELECT o_orderpriority, count(*) AS n
       |FROM orders
       |WHERE EXISTS (SELECT 1 FROM lineitem
       |              WHERE l_orderkey = o_orderkey
       |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
       |GROUP BY o_orderpriority""".stripMargin

  /** TPC-H Q21-style "suppliers who kept orders waiting": suppliers that
    * were the ONLY late supplier in a multi-supplier order. The textbook
    * form is a join + EXISTS + NOT EXISTS (two correlated self-joins of
    * the largest table); written Spark-first it is ONE orderkey-keyed
    * aggregation over lineitem — per order, count distinct suppliers,
    * count distinct LATE suppliers, and keep the single late supplier via
    * a conditional min — then a supplier-keyed count. Three shuffles
    * total, lineitem scanned once, no self-join anywhere; at 100 TB the
    * two EXISTS probes would each re-shuffle the full lineitem table.
    * (Ship-lag > 60 days stands in for Q21's receipt>commit, as in
    * `tpch_q4_late`.) */
  private def supplierWaiting(s: SparkSession, dir: String): DataFrame = {
    val k = 10
    // no broadcast hint on orders: it is a FACT table (≈ lineitem/4), not
    // a dimension — at 100 TB this must be a shuffle join on orderkey;
    // AQE picks broadcast at fixture scale on its own
    val flagged = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey").as("okey"), col("l_suppkey"),
        (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
          .as("late"))
    // the two COUNT(DISTINCT)s are written as the two-level aggregate
    // (dedupe (okey, suppkey) first, then plain counts): Spark plans
    // multi-distinct via Expand — 2 rows per input line — and AQE's
    // byte-coalesce ran the expanded aggregate as a near-serial 3-task
    // stage (1.6 s of the query's 2.4 s wall, job-profiled r15). Both
    // levels map-side combine, no Expand, and the first level's
    // (okey, suppkey) clustering feeds the second with one exchange.
    val per = flagged
      .groupBy(col("okey"), col("l_suppkey"))
      .agg(max(col("late")).as("any_late"))
      .groupBy(col("okey"))
      .agg(count(lit(1)).as("n_supps"),
        count(when(col("any_late"), lit(1))).as("n_late"),
        min(when(col("any_late"), col("l_suppkey"))).as("late_supp"))
    val w = Window.orderBy(desc("n_waiting"), col("s_name"))
    per.filter(col("n_supps") > 1 && col("n_late") === 1)
      .groupBy(col("late_supp").as("s_suppkey"))
      .agg(count(lit(1)).as("n_waiting"))
      .join(broadcast(Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_name"))), "s_suppkey")
      .orderBy(desc("n_waiting"), col("s_name")).limit(k)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col("s_name"), col("n_waiting"))
  }

  private val supplierWaitingOracle =
    s"""WITH f AS (SELECT l_orderkey AS okey, l_suppkey,
       |             l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
       |           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |per AS (SELECT okey, count(DISTINCT l_suppkey) AS n_supps,
       |          count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late,
       |          min(CASE WHEN late THEN l_suppkey END) AS late_supp
       |        FROM f GROUP BY okey),
       |c AS (SELECT late_supp AS s_suppkey, count(*) AS n_waiting
       |      FROM per WHERE n_supps > 1 AND n_late = 1 GROUP BY 1),
       |r AS (SELECT s_name, n_waiting,
       |        row_number() OVER (ORDER BY n_waiting DESC, s_name) AS rank
       |      FROM c JOIN supplier USING (s_suppkey))
       |SELECT CAST(rank AS BIGINT) AS rank, s_name, n_waiting
       |FROM r WHERE rank <= 10""".stripMargin

  /** MERGE / upsert as a JOIN REWRITE — SCD-1 dimension maintenance on
    * immutable parquet (what `MERGE INTO` does in table formats, expressed
    * Spark-first): base snapshot FULL OUTER JOIN the change batch on the
    * key, changed rows take the update, unmatched updates insert, the rest
    * carry forward; each row labeled updated/inserted/unchanged. ONE
    * key-shuffled join at any scale — and with both sides bucketBy(key)
    * (see `bucketed_join`) the rewrite runs with zero Exchange. The change
    * batch is derived deterministically from the fixture (every 10th key
    * gets +100 balance; every 100th key spawns a NEW row whose key is the
    * NEGATED source key — TPC-H custkeys are strictly positive, so the
    * insert namespace is disjoint at ANY scale factor; the previous
    * key+1e6 scheme collided with real custkeys past sf≈7, ADVICE r5). */
  private def customerUpsert(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_acctbal"))
    val updates = base.filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey"), (col("c_acctbal") + 100.0).as("c_acctbal"))
      .union(base.filter(col("c_custkey") % 100 === 0)
        .select((-col("c_custkey")).as("c_custkey"),
          col("c_acctbal")))
    val b = base.select(col("c_custkey"), col("c_acctbal").as("bal_b"))
    val u = updates.select(col("c_custkey"), col("c_acctbal").as("bal_u"))
    b.join(u, Seq("c_custkey"), "full_outer")
      .select(col("c_custkey"),
        VecOps.qround(coalesce(col("bal_u"), col("bal_b")), 2).as("c_acctbal"),
        when(col("bal_b").isNull, "inserted")
          .when(col("bal_u").isNull, "unchanged")
          .otherwise("updated").as("status"))
  }

  private val customerUpsertOracle =
    s"""WITH b AS (SELECT c_custkey, c_acctbal FROM customer),
       |u AS (SELECT c_custkey, c_acctbal + 100.0 AS c_acctbal
       |      FROM customer WHERE c_custkey % 10 = 0
       |      UNION ALL
       |      SELECT -c_custkey, c_acctbal
       |      FROM customer WHERE c_custkey % 100 = 0)
       |SELECT coalesce(u.c_custkey, b.c_custkey) AS c_custkey,
       |       ${VecOps.qroundSql("coalesce(u.c_acctbal, b.c_acctbal)", 2)}
       |         AS c_acctbal,
       |       CASE WHEN b.c_custkey IS NULL THEN 'inserted'
       |            WHEN u.c_custkey IS NULL THEN 'unchanged'
       |            ELSE 'updated' END AS status
       |FROM b FULL OUTER JOIN u ON b.c_custkey = u.c_custkey""".stripMargin

  /** MERGE-ON-READ — the other half of the lakehouse upsert trade
    * ([[customerUpsert]] is merge-on-WRITE: one full-outer rewrite per
    * batch, write-amplified, read-cheap). Here the writes are append-only
    * versioned deltas — base as `version=0`, each change batch appended
    * as its own partition, deletes as TOMBSTONE rows — and the READ view
    * reconciles: latest version per key wins, tombstoned keys drop. This
    * is the write-cheap/read-amplified shape streaming CDC sinks use
    * until `docs_compact`-style maintenance folds the deltas down.
    *
    * Scale: reconciliation is ONE key shuffle (the row_number window);
    * the version column is the partition column, so time travel (`WHERE
    * version <= v`) is partition pruning, and compaction is the graded
    * compact verb applied to this layout. The plan never rewrites the
    * base — exactly the point. */
  /** INCREMENTAL MATERIALIZED-VIEW MAINTENANCE of an aggregate-join view
    * — the IVM counterpart of the upsert family below: revenue-per-customer
    * over orders ⋈ lineitem, refreshed when a batch of NEW orders arrives
    * by MERGING the materialized view with the delta's aggregate
    * (V_new = V_old ⊕ agg(Δorders ⋈ lineitem)) instead of recomputing.
    * The aggregate is (count, penny-sum) — a commutative monoid — so the
    * merge is just a re-aggregation of the union: the whole repo's
    * partial→final contract, applied across TIME instead of partitions.
    *
    * Refresh cost ∝ delta: the plan reads the materialized view and the
    * delta partition — never the old orders (asserted by path in
    * MvRefreshSpec); the lineitem side of ΔA⋈B joins against the
    * BROADCAST delta keys, so it contributes a map-only scan, no shuffle.
    * Exactness across the merge: per-line revenue is quantized to integer
    * PENNIES up front (floor(x·100+½), pure IEEE, identical both
    * engines), so the old/delta/merge summation order cannot differ from
    * the oracle's one-shot recompute — LONG holds ~10¹² lines (~100 TB of
    * lineitem) before the penny sums would need decimal. */
  private val MvCutoff = "2001-01-01"

  private def lineRevPennies: org.apache.spark.sql.Column =
    floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * lit(100.0) +
      lit(0.5)).cast("long")

  private[graft] def mvViewOf(orders: DataFrame, li: DataFrame): DataFrame =
    orders.select(col("o_orderkey"), col("o_custkey"))
      .join(li.select(col("l_orderkey"), lineRevPennies.as("rev_p")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_lines"), sum(col("rev_p")).as("rev_c"))

  private def revenueMvRefresh(s: SparkSession, dir: String): DataFrame = {
    val oPath = graft.sources.Scratch.dir("graft_mv_oldorders")
    val dPath = graft.sources.Scratch.dir("graft_mv_delta")
    val vPath = graft.sources.Scratch.dir("graft_mv_view")
    val ord = Tables.orders(s, dir)
    val li = Tables.lineitem(s, dir)
    val cutoff = lit(MvCutoff).cast("timestamp")
    ord.filter(col("o_orderdate") < cutoff).write.mode("overwrite").parquet(oPath)
    ord.filter(col("o_orderdate") >= cutoff).write.mode("overwrite").parquet(dPath)
    // day 0: materialize the view from the OLD orders partition
    mvViewOf(s.read.parquet(oPath), li).write.mode("overwrite").parquet(vPath)
    // day N refresh: view ⊕ delta aggregate — old orders never read again
    mvRefreshPlan(s, vPath, dPath, li)
  }

  /** the refresh plan alone (factored out so MvRefreshSpec can assert
    * which paths its scans touch). */
  private[graft] def mvRefreshPlan(s: SparkSession, vPath: String,
                                   dPath: String, li: DataFrame): DataFrame =
    s.read.parquet(vPath)
      .unionByName(mvViewOf(s.read.parquet(dPath), li))
      .groupBy(col("o_custkey"))
      .agg(sum(col("n_lines")).as("n_lines"), sum(col("rev_c")).as("rev_c"))
      .select(col("o_custkey"), col("n_lines"),
        VecOps.qround(col("rev_c").cast("double") / lit(100.0), 2).as("revenue"))

  private val revenueMvOracle =
    s"""WITH r AS (SELECT o_custkey, count(*) AS n_lines,
       |             sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0
       |                            + 0.5) AS BIGINT)) AS rev_c
       |           FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |           GROUP BY o_custkey)
       |SELECT o_custkey, n_lines::BIGINT AS n_lines,
       |  ${VecOps.qroundSql("rev_c::DOUBLE / 100.0", 2)} AS revenue
       |FROM r""".stripMargin

  /** PARETO / CUMULATIVE-SHARE ANALYSIS of supplier revenue
    * (`supplier_pareto`): suppliers ranked by revenue, each annotated
    * with its cumulative revenue share and whether it belongs to the
    * minimal prefix covering 80% of total revenue — the 80/20 view every
    * spend dashboard opens with. Revenue is integer PENNIES up front
    * (the [[lineRevPennies]] protocol), the share an exact micro-unit
    * division, and the top-80 flag the exact integer inequality
    * 10·(cum − rev) < 8·total (the supplier is needed iff the prefix
    * BEFORE it is still under 80%). The unpartitioned rank window runs
    * over the per-supplier AGGREGATE — supplier-count rows, the same
    * post-agg exact-rank pattern as the other ≤1000-row order windows;
    * the event-volume side is one map-combined groupBy. */
  private def supplierPareto(li: DataFrame): DataFrame = {
    val rev = li.groupBy(col("l_suppkey").as("suppkey"))
      .agg(sum(lineRevPennies).as("rev_c"))
    val w = Window.orderBy(desc("rev_c"), col("suppkey"))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rev
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum_c", sum(col("rev_c")).over(cum))
      .crossJoin(broadcast(rev.agg(sum(col("rev_c")).as("total_c"))))
      .select(col("suppkey"), col("rev_c"), col("rank"),
        // DECIMAL(38) widening before the ×1e6: cum_c is total-revenue-
        // sized (~2.3e13 pennies at sf1), so the long multiply overflows
        // at exactly the 10× gate (caught by the r14 sf1 run); the
        // decimal product is exact and DIV floors back to BIGINT
        expr("CAST(CAST(cum_c AS DECIMAL(38,0)) * 1000000 DIV total_c AS BIGINT)")
          .as("cum_share_micro"),
        // the top-80 inequality gets the same DECIMAL(38) widening: at the
        // ~3e17-penny envelope the comments target, 10·cum_c leaves only
        // ~3× LONG headroom and would throw under ANSI (ADVICE r14)
        when(expr("CAST(cum_c AS DECIMAL(38,0)) - rev_c") * 10 <
          expr("CAST(total_c AS DECIMAL(38,0))") * 8, 1L)
          .otherwise(0L).as("in_top80"))
  }

  private val supplierParetoOracle =
    s"""WITH r AS (SELECT l_suppkey AS suppkey,
       |             sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0
       |                            + 0.5) AS BIGINT)) AS rev_c
       |           FROM lineitem GROUP BY 1),
       |t AS (SELECT CAST(sum(rev_c) AS BIGINT) AS total_c FROM r),
       |w AS (SELECT suppkey, CAST(rev_c AS BIGINT) AS rev_c,
       |        row_number() OVER (ORDER BY rev_c DESC, suppkey) AS rank,
       |        CAST(sum(rev_c) OVER (ORDER BY rev_c DESC, suppkey
       |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_c
       |      FROM r)
       |SELECT suppkey, rev_c, rank::BIGINT AS rank,
       |  CAST(cum_c::HUGEINT * 1000000 // total_c AS BIGINT)
       |    AS cum_share_micro,
       |  CASE WHEN 10 * (cum_c::HUGEINT - rev_c) < 8 * total_c::HUGEINT
       |       THEN 1 ELSE 0 END::BIGINT AS in_top80
       |FROM w CROSS JOIN t""".stripMargin

  private def customerUpsertMor(s: SparkSession, dir: String): DataFrame = {
    val root = graft.sources.Scratch.dir("graft_mor")
    val base = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_acctbal"))
    def write(df: DataFrame, v: Int): Unit =
      df.withColumn("version", lit(v.toLong))
        .write.mode("append").partitionBy("version").parquet(root)
    write(base.withColumn("del", lit(false)), 0)
    write(base.filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey"), (col("c_acctbal") + 100.0).as("c_acctbal"))
      .union(base.filter(col("c_custkey") % 100 === 0)
        .select((-col("c_custkey")).as("c_custkey"), col("c_acctbal")))
      .withColumn("del", lit(false)), 1)
    write(base
      .filter(col("c_custkey") % 20 === 0 && col("c_custkey") % 500 =!= 0)
      .select(col("c_custkey"), (col("c_acctbal") + 150.0).as("c_acctbal"),
        lit(false).as("del"))
      .union(base.filter(col("c_custkey") % 500 === 0)
        .select(col("c_custkey"), col("c_acctbal"), lit(true).as("del"))), 2)
    val w = Window.partitionBy(col("c_custkey")).orderBy(desc("version"))
    s.read.parquet(root)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && !col("del"))
      .select(col("c_custkey"),
        VecOps.qround(col("c_acctbal"), 2).as("c_acctbal"),
        col("version").cast("long").as("version"))
  }

  private val customerUpsertMorOracle =
    s"""WITH v0 AS (SELECT c_custkey, c_acctbal, 0 AS version, FALSE AS del
       |            FROM customer),
       |v1 AS (SELECT c_custkey, c_acctbal + 100.0 AS c_acctbal, 1 AS version,
       |              FALSE AS del
       |       FROM customer WHERE c_custkey % 10 = 0
       |       UNION ALL
       |       SELECT -c_custkey, c_acctbal, 1, FALSE
       |       FROM customer WHERE c_custkey % 100 = 0),
       |v2 AS (SELECT c_custkey, c_acctbal + 150.0, 2, FALSE
       |       FROM customer WHERE c_custkey % 20 = 0 AND c_custkey % 500 <> 0
       |       UNION ALL
       |       SELECT c_custkey, c_acctbal, 2, TRUE
       |       FROM customer WHERE c_custkey % 500 = 0),
       |a AS (SELECT * FROM v0 UNION ALL SELECT * FROM v1
       |      UNION ALL SELECT * FROM v2),
       |r AS (SELECT *, row_number() OVER (PARTITION BY c_custkey
       |        ORDER BY version DESC) AS rn FROM a)
       |SELECT c_custkey, ${VecOps.qroundSql("c_acctbal", 2)} AS c_acctbal,
       |       CAST(version AS BIGINT) AS version
       |FROM r WHERE rn = 1 AND NOT del""".stripMargin

  /** SCD TYPE 2 — the history-preserving third member of the upsert family
    * ([[customerUpsert]] = SCD-1 overwrite, [[customerUpsertMor]] = SCD-1
    * deferred to read time): every version of a key's value becomes a row
    * with a [valid_from, valid_to) version interval, current rows open
    * (valid_to NULL). Built from the same versioned deltas as the MOR
    * path — ONE key-partitioned lead() window converts the version stream
    * into intervals; tombstoned rows close their interval and emit no
    * successor. This is the dimension-table shape an auditable warehouse
    * keeps ("what was this customer's balance when the order shipped" —
    * join on version BETWEEN valid_from AND valid_to − 1). */
  private def customerScd2(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_acctbal"))
    val v0 = base.select(col("c_custkey"), col("c_acctbal"),
      lit(0L).as("version"), lit(false).as("del"))
    val v1 = base.filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey"), (col("c_acctbal") + 100.0).as("c_acctbal"),
        lit(1L).as("version"), lit(false).as("del"))
      .union(base.filter(col("c_custkey") % 100 === 0)
        .select((-col("c_custkey")).as("c_custkey"), col("c_acctbal"),
          lit(1L).as("version"), lit(false).as("del")))
    val v2 = base
      .filter(col("c_custkey") % 20 === 0 && col("c_custkey") % 500 =!= 0)
      .select(col("c_custkey"), (col("c_acctbal") + 150.0).as("c_acctbal"),
        lit(2L).as("version"), lit(false).as("del"))
      .union(base.filter(col("c_custkey") % 500 === 0)
        .select(col("c_custkey"), col("c_acctbal"),
          lit(2L).as("version"), lit(true).as("del")))
    // tiebreak on c_acctbal: key 0 is its own negation, so its v1 update
    // and v1 "insert" share (key, version) — without a total order the
    // two engines hand valid_to to different rows
    val w = Window.partitionBy(col("c_custkey"))
      .orderBy(col("version"), col("c_acctbal"))
    v0.union(v1).union(v2)
      .withColumn("valid_to", lead(col("version"), 1).over(w))
      .filter(!col("del"))
      .select(col("c_custkey"),
        VecOps.qround(col("c_acctbal"), 2).as("c_acctbal"),
        col("version").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
  }

  private val customerScd2Oracle =
    s"""WITH v0 AS (SELECT c_custkey, c_acctbal, 0 AS version, FALSE AS del
       |            FROM customer),
       |v1 AS (SELECT c_custkey, c_acctbal + 100.0 AS c_acctbal, 1 AS version,
       |              FALSE AS del
       |       FROM customer WHERE c_custkey % 10 = 0
       |       UNION ALL
       |       SELECT -c_custkey, c_acctbal, 1, FALSE
       |       FROM customer WHERE c_custkey % 100 = 0),
       |v2 AS (SELECT c_custkey, c_acctbal + 150.0, 2, FALSE
       |       FROM customer WHERE c_custkey % 20 = 0 AND c_custkey % 500 <> 0
       |       UNION ALL
       |       SELECT c_custkey, c_acctbal, 2, TRUE
       |       FROM customer WHERE c_custkey % 500 = 0),
       |a AS (SELECT * FROM v0 UNION ALL SELECT * FROM v1
       |      UNION ALL SELECT * FROM v2),
       |iv AS (SELECT *, lead(version) OVER (PARTITION BY c_custkey
       |         ORDER BY version, c_acctbal) AS valid_to FROM a)
       |SELECT c_custkey, ${VecOps.qroundSql("c_acctbal", 2)} AS c_acctbal,
       |       CAST(version AS BIGINT) AS valid_from,
       |       CAST(valid_to AS BIGINT) AS valid_to,
       |       valid_to IS NULL AS is_current
       |FROM iv WHERE NOT del""".stripMargin

  /** POINT-IN-TIME SCD2 LOOKUP (`orders_pit_scd2`): every order enriched
    * with the customer dimension row that was VALID AT the order's epoch
    * — the correctness pattern that separates a warehouse from a
    * snapshot join (joining `is_current` rows backdates later updates
    * onto old facts). The order's version epoch derives deterministically
    * from `o_orderdate` (`year % 3`, spanning the SCD fixture's three
    * versions); the join is an equi-join on custkey with the validity
    * range as a residual filter — planned as one BroadcastHashJoin over
    * the dimension-sized SCD2 table (at 100 TB: the dimension still
    * broadcasts; facts never shuffle for a PIT lookup). Deleted-at-v2
    * customers correctly drop their epoch-2 orders; money sums follow
    * the −2 qround protocol. */
  private def ordersPitScd2(s: SparkSession, dir: String): DataFrame = {
    val scd = customerScd2(s, dir)
    val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"),
      (year(col("o_orderdate")) % 3).cast("long").as("v"),
      col("o_totalprice"))
    o.join(broadcast(scd),
        col("o_custkey") === col("c_custkey") &&
          col("valid_from") <= col("v") &&
          (col("valid_to").isNull || col("valid_to") > col("v")))
      .groupBy(col("v"))
      .agg(count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"),
        VecOps.qround(sum(col("o_totalprice")), -2).as("order_value"),
        VecOps.qround(sum(col("c_acctbal")), -2).as("balance_at_time"))
  }

  private val ordersPitScd2Oracle =
    s"""WITH scd AS ($customerScd2Oracle),
       |o AS (SELECT o_orderkey, o_custkey,
       |        CAST(year(o_orderdate) % 3 AS BIGINT) AS v, o_totalprice
       |      FROM orders)
       |SELECT v, count(*)::BIGINT AS n_orders,
       |  count(DISTINCT o_custkey)::BIGINT AS n_customers,
       |  ${VecOps.qroundSql("sum(o_totalprice)", -2)} AS order_value,
       |  ${VecOps.qroundSql("sum(c_acctbal)", -2)} AS balance_at_time
       |FROM o JOIN scd ON o_custkey = c_custkey
       |  AND valid_from <= v AND (valid_to IS NULL OR valid_to > v)
       |GROUP BY v""".stripMargin

  /** TPC-H Q5-style local-supplier volume: the six-table join with the
    * non-key correlation condition `c_nationkey = s_nationkey` (revenue
    * only counts when the customer and supplier share a nation) — the
    * shape that exercises join ORDER mattering. Plan: the region filter
    * reduces region→nation to a handful of broadcast rows, supplier is
    * dimension-sized and broadcast, the date filter pushes into the
    * orders scan, and the only real shuffles are the two fact joins
    * (orders⋈customer, lineitem⋈orders) plus the final n_name
    * aggregation. Revenue follows the `region_revenue` determinism
    * pattern (sum then qround −2). */
  private def localSupplierVolume(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
        col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.supplier(s, dir),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(Tables.nation(s, dir), col("s_nationkey") === col("n_nationkey"))
      .join(Tables.region(s, dir).filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(
        VecOps.qround(
          sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), -2)
          .as("revenue"),
        count(lit(1)).as("n"))

  private val localSupplierVolumeOracle =
    s"""SELECT n_name,
       |  ${VecOps.qroundSql("sum(l_extendedprice * (1.0 - l_discount))", -2)} AS revenue,
       |  count(*) AS n
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON o_orderkey = l_orderkey
       |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE r_name = 'ASIA'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
       |GROUP BY n_name""".stripMargin

  /** TPC-H Q10-style returned-item revenue: which customers returned the
    * most value in a quarter — the churn-risk report. Filters push to BOTH
    * fact scans (`l_returnflag = 'R'` into lineitem, the date window into
    * orders), the one fact⋈fact shuffle joins them on orderkey, customer
    * and nation broadcast, and the top-20 is a distributed
    * TakeOrderedAndProject on the RAW revenue (rank before rounding, the
    * `top_customers` determinism pattern). */
  private def returnedRevenue(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(desc("revenue_raw"), col("c_custkey"))
    Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
      .join(Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(s, dir), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue_raw"))
      .orderBy(desc("revenue_raw"), col("c_custkey")).limit(20)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col("c_custkey"), col("c_name"), col("n_name"),
        VecOps.qround(col("revenue_raw"), 2).as("revenue"))
  }

  private val returnedRevenueOracle =
    s"""WITH a AS (SELECT c_custkey, c_name, n_name,
       |             sum(l_extendedprice * (1.0 - l_discount)) AS revenue_raw
       |           FROM lineitem
       |           JOIN orders ON l_orderkey = o_orderkey
       |           JOIN customer ON o_custkey = c_custkey
       |           JOIN nation ON c_nationkey = n_nationkey
       |           WHERE l_returnflag = 'R'
       |             AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |             AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
       |           GROUP BY c_custkey, c_name, n_name),
       |r AS (SELECT *, row_number() OVER (ORDER BY revenue_raw DESC, c_custkey) AS rank
       |      FROM a)
       |SELECT CAST(rank AS BIGINT) AS rank, c_custkey, c_name, n_name,
       |       ${VecOps.qroundSql("revenue_raw", 2)} AS revenue
       |FROM r WHERE rank <= 20""".stripMargin

  /** TPC-H Q7-style volume shipping: bilateral trade between two nations
    * by ship year — the TWO-ROLE dimension shape (nation joins the fact
    * once through the supplier and once through the customer). Each
    * nation alias is pre-filtered to the two nations of interest BEFORE
    * its join, so at 100 TB both dimension joins are selective broadcast
    * semi-filters on the fact (Catalyst cannot derive those IN-filters
    * from the cross-side disjunction on its own); the residual
    * pair-disjunction then runs on the already-reduced rows. */
  private def volumeShipping(s: SparkSession, dir: String): DataFrame = {
    val pair = Seq("NATION_3", "NATION_8")
    val n1 = Tables.nation(s, dir).filter(col("n_name").isin(pair: _*))
      .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(s, dir).filter(col("n_name").isin(pair: _*))
      .select(col("n_nationkey").as("c_nkey"), col("n_name").as("cust_nation"))
    Tables.lineitem(s, dir)
      .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nkey"))
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(
        VecOps.qround(
          sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"),
        count(lit(1)).as("n"))
  }

  private val volumeShippingOracle =
    s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
       |  ${VecOps.qroundSql("sum(l_extendedprice * (1.0 - l_discount))", 2)} AS revenue,
       |  count(*) AS n
       |FROM lineitem
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation n1 ON s_nationkey = n1.n_nationkey
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation n2 ON c_nationkey = n2.n_nationkey
       |WHERE n1.n_name IN ('NATION_3', 'NATION_8')
       |  AND n2.n_name IN ('NATION_3', 'NATION_8')
       |  AND n1.n_name <> n2.n_name
       |GROUP BY 1, 2, 3""".stripMargin

  /** TPC-H Q8-style market share: per order year, the fraction of one
    * region's ECONOMY-part import volume supplied by one nation. The
    * share divides two sums computed in ONE pass (conditional aggregate,
    * no second scan); numerator and denominator are cent-quantized before
    * the division so both engines divide bit-identical doubles. Region
    * and part filters reach their dimension scans; the fact side is
    * filtered by two broadcast joins before the fact⋈fact shuffle. */
  private def marketShare(s: SparkSession, dir: String): DataFrame = {
    val n1 = Tables.nation(s, dir)
      .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
    val asiaKeys = Tables.nation(s, dir)
      .join(Tables.region(s, dir).filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("c_nkey"))
    val vol = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir).filter(col("p_type") === "ECONOMY")),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nkey"))
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(asiaKeys), col("c_nationkey") === col("c_nkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        VecOps.qround(
          sum(when(col("supp_nation") === "NATION_3", vol).otherwise(lit(0.0))), 2)
          .as("num"),
        VecOps.qround(sum(vol), 2).as("den"),
        count(lit(1)).as("n"))
      .select(col("o_year"),
        VecOps.qround(col("num") / col("den"), 6).as("mkt_share"), col("n"))
  }

  private val marketShareOracle = {
    val num = VecOps.qroundSql(
      "sum(CASE WHEN n1.n_name = 'NATION_3' " +
        "THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END)", 2)
    val den = VecOps.qroundSql("sum(l_extendedprice * (1.0 - l_discount))", 2)
    s"""WITH a AS (
       |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       |    $num AS num, $den AS den, count(*) AS n
       |  FROM lineitem
       |  JOIN part ON l_partkey = p_partkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
       |  JOIN region ON n2.n_regionkey = r_regionkey
       |  WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
       |  GROUP BY 1)
       |SELECT o_year, ${VecOps.qroundSql("num / den", 6)} AS mkt_share, n
       |FROM a""".stripMargin
  }

  /** TPC-H Q12-style shipping-mode priority split — the last of the 22
    * TPC-H query shapes: per ship mode, how many lines belong to
    * critical-priority orders vs everything else, over a one-year shipping
    * window. The fixture has no `l_shipmode`/`l_commitdate`, so
    * `l_returnflag` stands in for the mode (filtered to two values, as
    * Q12 filters to two modes) and the ship-date window stands in for the
    * receipt-date window — same plan shape: one fact⋈fact equi-join on
    * orderkey with BOTH filters pushed into the lineitem scan, then a
    * two-way conditional count per mode. All-integer outputs — no float
    * grading risk. At 100 TB the orderkey join shuffles both sides once;
    * the CASE-sums fold map-side so only modes×2 longs cross the final
    * exchange. */
  private def q12Modes(s: SparkSession, dir: String): DataFrame = {
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.lineitem(s, dir)
      .filter(col("l_returnflag").isin("A", "R") &&
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag").as("ship_mode"))
      .agg(
        sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
  }

  private val q12ModesOracle =
    """SELECT l_returnflag AS ship_mode,
      |  sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |           THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
      |  sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |           THEN 0 ELSE 1 END)::BIGINT AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_returnflag IN ('A', 'R')
      |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY l_returnflag""".stripMargin

  /** PageRank iterations graded by `link_rank` — matches the other
    * composed trainer loops' depth (kmeans_train, pq_train). */
  private val LinkRankIters = 3
  /** k-core threshold: below the co-purchase degree median (≈ 115-119 at
    * the graded SFs) so the peel does real work but a core SURVIVES at
    * sf0.01/0.1 (3-4 rounds; k=80 took 6 for the same surviving core
    * shape — the lower rung buys ~1.5 s of suite wall for an equally
    * graded cascade); at sf0.001 (median 89) the cascade legitimately
    * empties the graph in 8 rounds — both regimes inside the cap. */
  private val KCoreK = 70
  private val KCoreMaxRounds = 12
  /** fixed synchronous LPA rounds (fixpoint is not determinism-safe:
    * sync LPA can 2-cycle; both engines unroll these exact rounds). */
  private val LpaRounds = 3

  /** ε-stop parameters graded by `link_rank_conv`: stop when the max rank
    * movement < 9.0·(1/N). Measured movement·N decays ≈0.85×/round from
    * ~17–19 on the fixture graph, so the criterion fires at round 5 at
    * sf0.001 vs round 6 at sf0.01/sf0.1 — data-decided; 8 bounds the
    * chain and the oracle's CTE depth. */
  private val LinkRankEpsRel = 9.0
  private val LinkRankConvMax = 8

  /** top-k cut for `parts_linkpred` predictions. */
  private val LinkPredTopK = 20
  /** BFS depth for `parts_bfs` (bounds the chain and the oracle's CTE
    * depth; the strong-tie graph's reachable set saturates inside it). */
  private val BfsMaxHops = 4
  /** seed brand for `parts_bfs` — present at every SF (12/66/767 parts). */
  private val BfsBrand = "Brand#13"

  /** The STRONG-TIE co-purchase graph (pairs co-purchased in ≥2 distinct
    * orders) — the support-filtered graph `parts_lpa`/`parts_components`
    * already analyze, and the wedge-volume mitigation `parts_linkpred`
    * depends on (raw-graph wedges measured 1.5·10⁸ at sf0.1; strong-tie
    * wedges ~10³). Built ONCE per session: five graded graph queries
    * (`parts_components`/`_lpa`/`_linkpred`/`_bfs` and the histogram
    * rollups) consume the identical edge set — the pair build is the
    * expensive pass, the per-analysis work is edge-linear
    * (Caching.sessionMemo; the edge table is the persisted graph artifact
    * a production pipeline reads anyway). */
  private def strongEdges(s: SparkSession, dir: String): DataFrame =
    graft.operators.Caching.sessionMemo(s, s"strong_edges:$dir")(
      graft.operators.Triangles.strongEdges(
        Tables.lineitem(s, dir), "l_orderkey", "l_partkey"))

  /** Distinct (support≥1) co-purchase edges for triangles/k-core — the
    * same one-build-per-session stance as [[strongEdges]]. */
  private def coEdgesMemo(s: SparkSession, dir: String): DataFrame =
    graft.operators.Caching.sessionMemo(s, s"co_edges:$dir")(
      graft.operators.Triangles.coEdges(
        Tables.lineitem(s, dir), "l_orderkey", "l_partkey"))

  private val strongEdgesSql =
    """SELECT a.l_partkey AS a, b.l_partkey AS b
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin

  /** RFM CUSTOMER SEGMENTATION (`customer_rfm`) — the classic
    * recency/frequency/monetary quintile grid collapsed to named
    * segments: per customer, R = quintile of last-order time, F = of
    * order count, M = of exact spend cents; the CASE ladder maps the
    * (R, F) corners to the marketing segments (champion / recent-low-
    * freq / at-risk / hibernating) and reports one row per segment with
    * customer, order, and revenue totals.
    *
    * Exactness: recency is the exact epoch second, spend is exact cents
    * (the money protocol), and each ntile orders by (metric, custkey) —
    * a total order, so bucket boundaries are engine-identical (both
    * engines define ntile with the first buckets absorbing remainders).
    * The three quintile windows are the documented exact-rank anchors
    * (customer_ntile's stance): single-pass over the |customers|-sized
    * AGGREGATE, not the fact table; at 100 TB the cuts come from the GK
    * sketch family (`quality_logreg_apply_gk` grades that swap) and the
    * scores become broadcast range lookups. */
  private def customerRfm(s: SparkSession, dir: String): DataFrame = {
    val cents = floor(col("o_totalprice") * lit(100.0) + lit(0.5)).cast("long")
    val per = Tables.orders(s, dir).groupBy(col("o_custkey"))
      .agg(max(unix_timestamp(col("o_orderdate"))).as("last_s"),
        count(lit(1)).as("freq"), sum(cents).as("money_cents"))
    val scored = per
      .withColumn("r_score",
        ntile(5).over(Window.orderBy(col("last_s"), col("o_custkey"))).cast("long"))
      .withColumn("f_score",
        ntile(5).over(Window.orderBy(col("freq"), col("o_custkey"))).cast("long"))
      .withColumn("m_score",
        ntile(5).over(Window.orderBy(col("money_cents"), col("o_custkey"))).cast("long"))
    val seg = when(col("r_score") >= 4 && col("f_score") >= 4 &&
        col("m_score") >= 4, "champion")
      .when(col("r_score") >= 4 && col("f_score") <= 2, "recent_low_freq")
      .when(col("r_score") <= 2 && col("f_score") >= 4, "at_risk")
      .when(col("r_score") <= 2 && col("f_score") <= 2, "hibernating")
      .otherwise("regular")
    scored.groupBy(seg.as("segment"))
      .agg(count(lit(1)).as("n_customers"), sum(col("freq")).as("n_orders"),
        sum(col("money_cents")).as("revenue_cents"))
  }

  private val customerRfmOracle =
    s"""WITH per AS (SELECT o_custkey,
       |    max(CAST(floor(epoch(o_orderdate)) AS BIGINT)) AS last_s,
       |    count(*)::BIGINT AS freq,
       |    CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
       |      AS BIGINT) AS money_cents
       |  FROM orders GROUP BY 1),
       |sc AS (SELECT freq, money_cents,
       |    ntile(5) OVER (ORDER BY last_s, o_custkey) AS r_score,
       |    ntile(5) OVER (ORDER BY freq, o_custkey) AS f_score,
       |    ntile(5) OVER (ORDER BY money_cents, o_custkey) AS m_score
       |  FROM per)
       |SELECT CASE
       |    WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
       |    WHEN r_score >= 4 AND f_score <= 2 THEN 'recent_low_freq'
       |    WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
       |    WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
       |    ELSE 'regular' END AS segment,
       |  count(*)::BIGINT AS n_customers,
       |  CAST(sum(freq) AS BIGINT) AS n_orders,
       |  CAST(sum(money_cents) AS BIGINT) AS revenue_cents
       |FROM sc GROUP BY 1""".stripMargin

  /** GK rank-error budget of the sketch-quintile RFM variant below. */
  private val RfmGkEps = 0.01

  /** THE 100 TB PATH OF [[customerRfm]], MADE REAL AND GRADED (VERDICT
    * r13 "Next" #4 — the last exact-rank anchor without a graded sketch
    * sibling): the three quintile ladders come from Greenwald–Khanna
    * sketches instead of the three unpartitioned `ntile(5)` window
    * sorts. All three metrics ride ONE pass — the per-customer aggregate
    * is stacked to (metric, v) rows, sketched per (metric, shard),
    * union-MERGED per metric (the [[graft.functions.GkOps]] rollup:
    * O((1/ε)·log(εN)) bytes per shard across one shuffle, no global sort
    * anywhere), and the four quintile edges per metric become broadcast
    * range lookups. Cut quality is GRADED, not claimed, by the
    * rank-interval theorem (the `events_psi_gk` /
    * `quality_logreg_apply_gk` protocol): each edge's exact rank
    * interval [lo+1, hi] must intersect [j·n/5 − tol·n − 1,
    * j·n/5 + tol·n + 1] with tol = 2ε (GK merge error compounds).
    * Sketch content is insertion-order-dependent, so the graded output
    * is the theorem BOOLEANS plus exact LONG anchors (n and Σv per
    * metric — pinning the per-customer aggregate itself), never raw
    * sketch values. */
  private def customerRfmGk(s: SparkSession, dir: String): DataFrame =
    customerRfmGkFrom(Tables.orders(s, dir))

  /** [[customerRfmGk]] over an explicit orders frame (spec probe). */
  private[graft] def customerRfmGkFrom(orders: DataFrame): DataFrame = {
    import graft.functions.GkOps._
    val cents = floor(col("o_totalprice") * lit(100.0) + lit(0.5)).cast("long")
    val per = orders.groupBy(col("o_custkey"))
      .agg(max(unix_timestamp(col("o_orderdate"))).as("last_s"),
        count(lit(1)).as("freq"), sum(cents).as("money_cents"))
    val m = per.select(col("o_custkey"), expr(
      "stack(3, 'recency', last_s, 'frequency', freq, " +
        "'monetary', money_cents) AS (metric, v)"))
    val edges = m.withColumn("shard", pmod(col("o_custkey"), lit(8L)))
      .groupBy(col("metric"), col("shard"))
      .agg(gkSketch(col("v").cast("double"), RfmGkEps).as("sk"))
      .groupBy(col("metric"))
      .agg(gkMerge(col("sk")).as("msk"))
      .select(col("metric"), array((1 to 4).map(j =>
        gkQuery(col("msk"), j / 5.0)): _*).as("edges"))
    val aggs = (1 to 4).flatMap { j =>
      val ed = element_at(col("edges"), j)
      Seq(
        sum(when(col("v").cast("double") < ed, 1L).otherwise(0L)).as(s"lo_$j"),
        sum(when(col("v").cast("double") <= ed, 1L).otherwise(0L)).as(s"hi_$j"))
    }
    val a = m.join(broadcast(edges), "metric")
      .groupBy(col("metric"))
      .agg(count(lit(1)).as("n"), (sum(col("v")).as("v_sum") +: aggs): _*)
    val stacked = a.selectExpr("metric", "n", "v_sum",
      s"stack(4, ${(1 to 4).map(j => s"${j}L, lo_$j, hi_$j").mkString(", ")}) AS (j, lo, hi)")
    val nd = col("n").cast("double")
    val p = col("j").cast("double") / lit(5.0)
    val tol = lit(2 * RfmGkEps)
    stacked.select(col("metric"), col("j"), col("n").as("n_customers"),
      col("v_sum"),
      expr("greatest(j * n div 5, 1L)").as("target_rank"),
      ((col("lo").cast("double") + lit(1.0) <= (p + tol) * nd + lit(1.0)) &&
        (col("hi").cast("double") >= (p - tol) * nd - lit(1.0)))
        .as("merged_edge_ok"))
  }

  private val customerRfmGkOracle =
    s"""WITH per AS (SELECT o_custkey,
       |    max(CAST(floor(epoch(o_orderdate)) AS BIGINT)) AS last_s,
       |    count(*)::BIGINT AS freq,
       |    CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
       |      AS BIGINT) AS money_cents
       |  FROM orders GROUP BY 1),
       |m AS (SELECT 'recency' AS metric, last_s AS v FROM per
       |  UNION ALL SELECT 'frequency', freq FROM per
       |  UNION ALL SELECT 'monetary', money_cents FROM per),
       |nn AS (SELECT metric, count(*)::BIGINT AS n,
       |    CAST(sum(v) AS BIGINT) AS v_sum FROM m GROUP BY 1)
       |SELECT metric, j::BIGINT AS j, nn.n AS n_customers, nn.v_sum,
       |  greatest(j * nn.n // 5, 1)::BIGINT AS target_rank,
       |  TRUE AS merged_edge_ok
       |FROM (SELECT unnest(generate_series(1, 4)) AS j), nn""".stripMargin

  /** HERFINDAHL–HIRSCHMAN CONCENTRATION INDEX per region
    * (`supplier_hhi`) — the antitrust-style market-concentration scalar
    * next to `supplier_pareto`'s cumulative-share curve: HHI = Σ share²
    * over each region's suppliers, plus the largest single share. An HHI
    * near 1/n is a competitive region; near 1 a monopolized one.
    *
    * Exactness: per-supplier revenue is the exact micro-cent integer
    * floor(extprice·(1−disc)·10⁴ + 0.5) summed in LONG (the money
    * protocol one digit deeper — the discount product has 4 decimals);
    * shares divide those identical integers as doubles, and the Σ share²
    * reassociation error (~10⁻¹⁶ over ≤10³ positive terms ≤ 1) sits ten
    * orders below the 1e-6 output grid; top share is a floored integer
    * division. Shape: one map-combined fact aggregate to |suppliers|
    * rows, three broadcast dim joins, one keyed window + final aggregate
    * — the fact table is scanned once. */
  private def supplierHhi(s: SparkSession, dir: String): DataFrame = {
    val revMicro = floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      * lit(10000.0) + lit(0.5)).cast("long")
    val perSup = Tables.lineitem(s, dir)
      .select(col("l_suppkey"), revMicro.as("rv"))
      .groupBy(col("l_suppkey")).agg(sum(col("rv")).as("rev"))
      .join(broadcast(Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_regionkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)
        .select(col("r_regionkey"), col("r_name"))),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name").as("region"), col("rev"))
    val sh = col("rev").cast("double") / col("tot").cast("double")
    perSup
      .withColumn("tot", sum(col("rev")).over(Window.partitionBy(col("region"))))
      .groupBy(col("region"), col("tot").as("rev_micro"))
      .agg(count(lit(1)).as("n_suppliers"),
        VecOps.qround(sum(sh * sh), 6).as("hhi"),
        max(col("rev")).as("mx"))
      .select(col("region"), col("n_suppliers"), col("rev_micro"),
        col("hhi"),
        // same DECIMAL widening as supplier_pareto: mx is micro-cent
        // revenue (~2.3e11 at sf1) — the long ×1e6 held at the sf1 gate
        // with only ~40× headroom, which a 100 TB fact table spends
        expr("CAST(CAST(mx AS DECIMAL(38,0)) * 1000000 DIV rev_micro AS BIGINT)")
          .as("top_share_micro"))
  }

  private val supplierHhiOracle =
    s"""WITH ps AS (SELECT l_suppkey,
       |    CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount)
       |      * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) AS rev
       |  FROM lineitem GROUP BY 1),
       |j AS (SELECT r.r_name AS region, ps.rev
       |      FROM ps JOIN supplier s ON s.s_suppkey = ps.l_suppkey
       |        JOIN nation n ON n.n_nationkey = s.s_nationkey
       |        JOIN region r ON r.r_regionkey = n.n_regionkey),
       |t AS (SELECT region, rev,
       |        CAST(sum(rev) OVER (PARTITION BY region) AS BIGINT) AS tot
       |      FROM j)
       |SELECT region, count(*)::BIGINT AS n_suppliers, tot AS rev_micro,
       |  ${VecOps.qroundSql(
          "sum((rev::DOUBLE / tot::DOUBLE) * (rev::DOUBLE / tot::DOUBLE))", 6)}
       |    AS hhi,
       |  CAST(max(rev)::HUGEINT * 1000000 // tot AS BIGINT)
       |    AS top_share_micro
       |FROM t GROUP BY region, tot""".stripMargin

  /** COHORT RETENTION MATRIX (`orders_cohort`) — the classic
    * triangle: customers grouped by FIRST-order month, activity counted
    * at each month offset since — the longitudinal view
    * `events_retention` gives for event users, here on the orders fact
    * (the view a subscription/commerce analyst reads first). One row per
    * (cohort month, month offset) with the distinct active customers.
    *
    * Exactness: months truncate calendars, offsets are exact integer
    * month arithmetic, counts are distinct customers — no floats at all.
    * Shape: one map-combined (customer, month) distinct, one |customers|
    * aggregate for the cohort, one broadcast-scale join back, one final
    * aggregate — the fact table is scanned once. */
  private def ordersCohort(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(col("o_custkey"), date_trunc("MONTH", col("o_orderdate")).as("m"))
      .distinct()
    val first = o.groupBy(col("o_custkey")).agg(min(col("m")).as("cohort"))
    o.join(first, "o_custkey")
      .select(col("cohort"),
        ((year(col("m")) - year(col("cohort"))) * 12 +
          (month(col("m")) - month(col("cohort")))).cast("long")
          .as("month_offset"))
      .groupBy(col("cohort"), col("month_offset"))
      .agg(count(lit(1)).as("n_active"))
      .select(date_format(col("cohort"), "yyyy-MM").as("cohort"),
        col("month_offset"), col("n_active"))
  }

  private val ordersCohortOracle =
    s"""WITH o AS (SELECT DISTINCT o_custkey,
       |             date_trunc('month', o_orderdate) AS m FROM orders),
       |f AS (SELECT o_custkey, min(m) AS cohort FROM o GROUP BY 1),
       |a AS (SELECT f.cohort,
       |        (date_part('year', o.m) - date_part('year', f.cohort)) * 12
       |          + (date_part('month', o.m) - date_part('month', f.cohort))
       |          AS month_offset
       |      FROM o JOIN f ON o.o_custkey = f.o_custkey)
       |SELECT strftime(cohort, '%Y-%m') AS cohort,
       |  CAST(month_offset AS BIGINT) AS month_offset,
       |  count(*)::BIGINT AS n_active
       |FROM a GROUP BY 1, 2""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // cohort retention triangle: first-order month x month offset
    "orders_cohort" -> (ordersCohort _),
    // Herfindahl market-concentration index per region, exact micro-cents
    "supplier_hhi" -> (supplierHhi _),
    // RFM quintile segmentation over exact cents/epochs
    "customer_rfm" -> (customerRfm _),
    // the quintile ladders from per-shard GK sketches (the 100 TB path of
    // customer_rfm), graded by the rank-interval theorem per edge
    "customer_rfm_gk" -> (customerRfmGk _),
    "link_rank" -> ((s, dir) =>
      graft.operators.LinkRank.ranks(Tables.lineitem(s, dir), LinkRankIters)),
    // CONVERGENCE-GATED PageRank: iterate until the rank vector moves
    // less than epsRel/N, emit (iters, node, r) — the kmeans_train_conv
    // stance for the link-analysis loop
    "link_rank_conv" -> ((s, dir) =>
      graft.operators.LinkRank.ranksConverged(Tables.lineitem(s, dir),
        LinkRankEpsRel, LinkRankConvMax)),
    // degree-oriented triangle counting over the part co-purchase graph
    "parts_triangles" -> ((s, dir) =>
      graft.operators.Triangles.triangleCount(coEdgesMemo(s, dir))),
    // k-core decomposition of the co-purchase graph: peel degree<k
    // nodes to fixpoint, report the core summary + round count
    "parts_kcore" -> ((s, dir) =>
      graft.operators.Triangles.kCore(coEdgesMemo(s, dir),
        KCoreK, KCoreMaxRounds)),
    // CONNECTED COMPONENTS of the support>=2 co-purchase graph, reported
    // as a component-size histogram — the corpus-health view of graph
    // structure (the fixture shows a PHASE TRANSITION: sf0.01's denser
    // part reuse forms one giant component, sf0.1 shatters into small
    // ones). Support counting is a map-side-combined pair groupBy; the
    // components come from the shared pointer-jumping min-label CC
    "parts_components" -> ((s, dir) =>
      graft.operators.Dedup.connectedComponents(
        strongEdges(s, dir)
          .select(col("a").as("doc_a"), col("b").as("doc_b")))
        .groupBy(col("label")).agg(count(lit(1)).as("comp_size"))
        .groupBy(col("comp_size")).agg(count(lit(1)).as("n_comps"))),
    // market-basket association rules: support/confidence/lift per
    // frequent co-purchase pair, exact integer micro-units
    "parts_assoc" -> ((s, dir) =>
      graft.operators.Assoc.pairRules(Tables.lineitem(s, dir))),
    // label-propagation communities over the support>=2 co-purchase
    // graph (3 synchronous rounds, min-label tiebreak), reported as the
    // community-size histogram — CC's "connected?" refined to "densely
    // connected to whom?"
    "parts_lpa" -> ((s, dir) =>
      graft.operators.Triangles.labelPropagation(strongEdges(s, dir), LpaRounds)
        .groupBy(col("label")).agg(count(lit(1)).as("comm_size"))
        .groupBy(col("comm_size")).agg(count(lit(1)).as("n_comms"))),
    // common-neighbor/Jaccard link prediction over the strong-tie graph:
    // top-k non-adjacent pairs at distance 2 by neighborhood overlap
    "parts_linkpred" -> ((s, dir) =>
      graft.operators.Triangles.linkPredict(strongEdges(s, dir), LinkPredTopK)),
    // multi-source BFS hop histogram from the seed brand's parts over
    // the strong-tie graph, unreached remainder at hop -1
    "parts_bfs" -> ((s, dir) =>
      graft.operators.Triangles.bfsHops(strongEdges(s, dir),
        Tables.part(s, dir).filter(col("p_brand") === BfsBrand)
          .select(col("p_partkey").as("node")),
        BfsMaxHops)),
    "volume_shipping" -> (volumeShipping _),
    "market_share" -> (marketShare _),
    "returned_revenue" -> (returnedRevenue _),
    "local_supplier_volume" -> (localSupplierVolume _),
    "tpch_q1" -> q1,
    "tpch_q6" -> q6,
    "tpch_q4_late" -> latePriority,
    "tpch_q12_modes" -> q12Modes,
    "customer_big_orders" -> customerBigOrders,
    "tpch_q1_rollup" -> q1Rollup,
    "top_customers" -> topCustomers,
    "region_revenue" -> regionRevenue,
    "part_profit" -> partProfit,
    "shipping_priority" -> shippingPriority,
    "supplier_waiting" -> supplierWaiting,
    // 80/20 cumulative-share ranking in exact pennies/micro-shares
    "supplier_pareto" -> ((s, dir) => supplierPareto(Tables.lineitem(s, dir))),
    "customer_upsert" -> customerUpsert _,
    // incremental materialized-view refresh: V_old (+) delta aggregate
    "revenue_mv_refresh" -> revenueMvRefresh _,
    "customer_upsert_mor" -> customerUpsertMor _,
    "customer_scd2" -> customerScd2 _,
    // point-in-time SCD2 dimension lookup per order epoch
    "orders_pit_scd2" -> ordersPitScd2 _
  )

  val oracles: Map[String, String] = Map(
    "orders_cohort" -> ordersCohortOracle,
    "supplier_hhi" -> supplierHhiOracle,
    "customer_rfm" -> customerRfmOracle,
    "customer_rfm_gk" -> customerRfmGkOracle,
    "parts_assoc" -> graft.operators.Assoc.pairRulesSql("lineitem"),
    "supplier_pareto" -> supplierParetoOracle,
    "parts_lpa" ->
      s"""SELECT comm_size, count(*)::BIGINT AS n_comms FROM (
         |  SELECT label, count(*)::BIGINT AS comm_size FROM (
         |    ${graft.operators.Triangles.labelPropagationSql(strongEdgesSql, LpaRounds)}
         |  ) GROUP BY label) GROUP BY comm_size""".stripMargin,
    "parts_linkpred" ->
      graft.operators.Triangles.linkPredictSql(strongEdgesSql, LinkPredTopK),
    "parts_bfs" ->
      graft.operators.Triangles.bfsHopsSql(strongEdgesSql,
        s"SELECT p_partkey AS node FROM part WHERE p_brand = '$BfsBrand'",
        BfsMaxHops),
    "link_rank" -> graft.operators.LinkRank.ranksSql(LinkRankIters),
    "link_rank_conv" -> graft.operators.LinkRank.ranksConvSql(
      LinkRankEpsRel, LinkRankConvMax),
    // the oracle needs no orientation: with edges normalized a < b, the
    // ordered triple join a<b<c touches each triangle exactly once
    "parts_kcore" ->
      graft.operators.Triangles.kCoreSql(KCoreK, KCoreMaxRounds),
    "parts_triangles" ->
      """WITH e AS (SELECT DISTINCT l.l_partkey AS a, r.l_partkey AS b
        |           FROM lineitem l JOIN lineitem r
        |           ON l.l_orderkey = r.l_orderkey AND l.l_partkey < r.l_partkey)
        |SELECT (SELECT count(*) FROM e)::BIGINT AS n_edges,
        |  (SELECT count(*) FROM e e1
        |   JOIN e e2 ON e1.b = e2.a
        |   JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)::BIGINT AS n_triangles""".stripMargin,
    "parts_components" ->
      """WITH RECURSIVE
        |e AS (SELECT a.l_partkey AS s0, b.l_partkey AS d0, count(*) AS c
        |      FROM lineitem a JOIN lineitem b
        |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |      GROUP BY 1, 2),
        |ed AS (SELECT s0, d0 FROM e WHERE c >= 2),
        |sym AS (SELECT s0 AS src, d0 AS dst FROM ed
        |        UNION ALL SELECT d0, s0 FROM ed),
        |reach(id, label) AS (
        |  SELECT DISTINCT src, src FROM sym
        |  UNION
        |  SELECT sym.src, reach.label
        |  FROM sym JOIN reach ON reach.id = sym.dst),
        |cmp AS (SELECT id, min(label) AS comp FROM reach GROUP BY id),
        |sz AS (SELECT comp, count(*)::BIGINT AS comp_size FROM cmp GROUP BY comp)
        |SELECT comp_size, count(*)::BIGINT AS n_comps
        |FROM sz GROUP BY comp_size""".stripMargin,
    "volume_shipping" -> volumeShippingOracle,
    "market_share" -> marketShareOracle,
    "local_supplier_volume" -> localSupplierVolumeOracle,
    "returned_revenue" -> returnedRevenueOracle,
    "customer_upsert_mor" -> customerUpsertMorOracle,
    "customer_scd2" -> customerScd2Oracle,
    "orders_pit_scd2" -> ordersPitScd2Oracle,
    "revenue_mv_refresh" -> revenueMvOracle,
    "tpch_q1" -> q1Oracle,
    "tpch_q6" -> q6Oracle,
    "tpch_q4_late" -> latePriorityOracle,
    "tpch_q12_modes" -> q12ModesOracle,
    "customer_big_orders" -> customerBigOrdersOracle,
    "tpch_q1_rollup" -> q1RollupOracle,
    "top_customers" -> topCustomersOracle,
    "region_revenue" -> regionRevenueOracle,
    "part_profit" -> partProfitOracle,
    "shipping_priority" -> shippingPriorityOracle,
    "supplier_waiting" -> supplierWaitingOracle,
    "customer_upsert" -> customerUpsertOracle
  )
}
