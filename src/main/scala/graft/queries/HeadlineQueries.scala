package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.dsl.{KGlobalTable, KStream}
import graft.plans.Hints.broadcastIfSmall
import graft.plans.Materialize
import graft.queries.Tables.t

/** Headline analytical queries (TPC-H-shaped) exercising the engine the way
  * a warehouse user would: scan → filter (pushed to parquet) → partial-agg
  * shuffle → broadcast joins for dims. These are the bench workhorses.
  *
  * Numeric policy for oracle parity: money math is done in DECIMAL (base
  * columns carry exactly 2 decimals, so decimal casts and products are
  * exact in both engines) and cast to DOUBLE only at the very end —
  * identical bits regardless of aggregation order, unlike double sums.
  */
object HeadlineQueries {

  private val dec = DecimalType(18, 2)

  val all: Seq[Q] = Seq(

    // TPC-H Q1 shape: pricing summary. One partial-agg shuffle over 4 rows
    // of groups; all heavy math inside whole-stage codegen.
    Q("q1_pricing_summary", Some("""
      |SELECT l_returnflag, l_linestatus,
      |  sum(l_quantity) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |           CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |           CAST(CAST(1 - l_discount AS DECIMAL(18,2)) *
      |                CAST(1 + l_tax AS DECIMAL(18,2)) AS DECIMAL(8,4))) AS DOUBLE) AS sum_charge,
      |  count(*) AS count_order
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
      |GROUP BY l_returnflag, l_linestatus
      |""".stripMargin.trim))(
      (s, d) => {
        val price = col("l_extendedprice").cast(dec)
        val disc = (lit(1) - col("l_discount")).cast(dec)
        val taxf = (lit(1) + col("l_tax")).cast(dec)
        t(s, d, "lineitem")
          .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            sum("l_quantity").as("sum_qty"),
            sum(price).cast("double").as("sum_base_price"),
            sum(price * disc).cast("double").as("sum_disc_price"),
            sum(price * (disc * taxf).cast(DecimalType(8, 4))).cast("double").as("sum_charge"),
            count(lit(1)).as("count_order"))
      }),

    // TPC-H Q3 shape: top-10 revenue orders for one segment. customer dim
    // is broadcast (global-table pattern); top-k via orderBy+limit, which
    // Spark executes as per-partition TakeOrdered — no full sort.
    Q("q3_top_orders", Some("""
      |SELECT o_orderkey,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |           CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  o_orderdate, o_orderpriority
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY o_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, o_orderkey LIMIT 10
      |""".stripMargin.trim))(
      (s, d) => {
        val cust = KGlobalTable.fromStatic(
          t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
            .select("c_custkey"), "c_custkey")
        val orders = KStream(t(s, d, "orders"), "o_orderkey")
          .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
          .joinGlobalTable(cust, col("o_custkey")).toDF
        val rev = (col("l_extendedprice").cast(dec) *
          (lit(1) - col("l_discount")).cast(dec))
        t(s, d, "lineitem")
          .join(orders, col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
          .agg(sum(rev).cast("double").as("revenue"))
          .select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority")
          .orderBy(col("revenue").desc, col("o_orderkey"))
          .limit(10)
      }),

    // TPC-H Q5 shape: revenue per nation for one region. Only the bounded
    // dims (region, nation) may be hinted; the customer slice and the
    // order→nation map are sf-scaled (~1/5 of ALL customers/orders), so
    // they carry NO forced broadcast — the planner/AQE pick shuffled joins
    // at 100 TB and runtime-broadcast at small SF.
    Q("q5_region_revenue", Some("""
      |SELECT n_name,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |           CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM region JOIN nation ON n_regionkey = r_regionkey
      |JOIN customer ON c_nationkey = n_nationkey
      |JOIN orders ON o_custkey = c_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE r_name = 'ASIA'
      |GROUP BY n_name
      |""".stripMargin.trim))(
      (s, d) => {
        val dims = t(s, d, "region").filter(col("r_name") === "ASIA")
          .join(t(s, d, "nation"), col("n_regionkey") === col("r_regionkey"))
          .join(t(s, d, "customer"), col("c_nationkey") === col("n_nationkey"))
          .select("c_custkey", "n_name")
        val orders = t(s, d, "orders")
          .join(dims, col("o_custkey") === col("c_custkey"))
          .select("o_orderkey", "n_name")
        val rev = (col("l_extendedprice").cast(dec) *
          (lit(1) - col("l_discount")).cast(dec))
        t(s, d, "lineitem")
          .join(orders, col("l_orderkey") === col("o_orderkey"))
          .groupBy("n_name")
          .agg(sum(rev).cast("double").as("revenue"))
      }),

    // TPC-H Q6 shape: pure scan-filter-agg, no join, no group — the
    // pushdown/codegen speed-of-light test. Decimal math for exact parity.
    Q("q6_forecast_revenue", Some("""
      |SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |         CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate < TIMESTAMP '1998-01-01'
      |  AND l_discount BETWEEN 0.02 AND 0.04 AND l_quantity < 24
      |""".stripMargin.trim))(
      (s, d) =>
        t(s, d, "lineitem")
          .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
            col("l_discount").between(0.02, 0.04) && col("l_quantity") < 24)
          .agg(
            sum(col("l_extendedprice").cast(dec) * col("l_discount").cast(dec))
              .cast("double").as("revenue"),
            count(lit(1)).as("n_items"))),

    // TPC-H Q10 shape: top-20 customers by returned-item revenue. Only
    // nation (bounded) is hinted; the customer dim is sf-scaled, so the
    // fact⋈customer join is left to the planner/AQE. One agg shuffle,
    // TakeOrdered for the limit.
    Q("q10_returned_revenue", Some("""
      |SELECT c_custkey, c_name, n_name,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |           CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |JOIN orders ON o_custkey = c_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE l_returnflag = 'R' AND o_orderdate >= TIMESTAMP '1997-06-01'
      |GROUP BY c_custkey, c_name, n_name
      |ORDER BY revenue DESC, c_custkey LIMIT 20
      |""".stripMargin.trim))(
      (s, d) => {
        val rev = (col("l_extendedprice").cast(dec) *
          (lit(1) - col("l_discount")).cast(dec))
        val custDim = t(s, d, "customer")
          .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
          .select("c_custkey", "c_name", "n_name")
        t(s, d, "lineitem").filter(col("l_returnflag") === "R")
          .join(t(s, d, "orders")
              .filter(col("o_orderdate") >= lit("1997-06-01").cast("timestamp"))
              .select("o_orderkey", "o_custkey"),
            col("l_orderkey") === col("o_orderkey"))
          .join(custDim, col("o_custkey") === col("c_custkey"))
          .groupBy("c_custkey", "c_name", "n_name")
          .agg(sum(rev).cast("double").as("revenue"))
          .orderBy(col("revenue").desc, col("c_custkey"))
          .limit(20)
      }),

    // TPC-H Q14 shape: promo revenue share — lineitem joined to the part
    // dim (broadcast), conditional aggregation, ratio of decimal sums.
    Q("q14_promo_share", Some("""
      |SELECT CAST(CAST(sum(CASE WHEN p_type LIKE 'PROMO%' THEN
      |    CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))
      |  ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) * 100.0 /
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |           CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS DOUBLE) AS promo_share,
      |  count(*) AS n_items
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1997-03-01'
      |  AND l_shipdate < TIMESTAMP '1997-06-01'
      |""".stripMargin.trim))(
      (s, d) => {
        val rev = (col("l_extendedprice").cast(dec) *
          (lit(1) - col("l_discount")).cast(dec))
        t(s, d, "lineitem")
          .filter(col("l_shipdate") >= lit("1997-03-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-06-01").cast("timestamp"))
          .join(broadcastIfSmall(t(s, d, "part").select("p_partkey", "p_type")),
            col("l_partkey") === col("p_partkey"))
          .agg(
            (sum(when(col("p_type").startsWith("PROMO"), rev)
              .otherwise(lit(0).cast(dec))).cast("double") * 100.0 /
              sum(rev).cast("double")).cast("double").as("promo_share"),
            count(lit(1)).as("n_items"))
      }),

    // TPC-H Q18 shape: customers with very large orders — an aggregate
    // HAVING filter used as a semi-join back onto the fact tables. The
    // qualifying-order set and the customer dim both grow with SF, so
    // neither is force-broadcast: the planner/AQE decide from real sizes
    // (runtime-broadcast when the HAVING output is actually tiny).
    Q("q18_large_orders", Some("""
      |WITH big AS (
      |  SELECT l_orderkey AS bk FROM lineitem GROUP BY l_orderkey
      |  HAVING sum(l_quantity) > 250)
      |SELECT c_custkey, c_name, o_orderkey, o_totalprice,
      |  sum(l_quantity) AS total_qty
      |FROM customer JOIN orders ON o_custkey = c_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE o_orderkey IN (SELECT bk FROM big)
      |GROUP BY c_custkey, c_name, o_orderkey, o_totalprice
      |""".stripMargin.trim))(
      (s, d) => {
        val li = t(s, d, "lineitem")
        val big = li.groupBy("l_orderkey")
          .agg(sum("l_quantity").as("sq")).filter(col("sq") > 250)
          .select(col("l_orderkey").as("bk"))
        val orders = t(s, d, "orders")
          .join(big, col("o_orderkey") === col("bk"), "left_semi")
        orders
          .join(t(s, d, "customer").select("c_custkey", "c_name"),
            col("o_custkey") === col("c_custkey"))
          .join(li, col("l_orderkey") === col("o_orderkey"))
          .groupBy("c_custkey", "c_name", "o_orderkey", "o_totalprice")
          .agg(sum("l_quantity").as("total_qty"))
      }),

    // TPC-H Q4 shape: orders with at least one very late line item — a
    // correlated EXISTS, planned as a left-semi join whose condition mixes
    // an equi key with a range predicate between the two tables.
    Q("q4_priority_late", Some("""
      |SELECT o_orderpriority, count(*) AS n_orders
      |FROM orders o
      |WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      |  AND EXISTS (SELECT 1 FROM lineitem l
      |    WHERE l.l_orderkey = o.o_orderkey
      |      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o_orderpriority
      |""".stripMargin.trim))(
      (s, d) => {
        val li = t(s, d, "lineitem").select("l_orderkey", "l_shipdate")
        t(s, d, "orders")
          .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
          .join(li,
            col("l_orderkey") === col("o_orderkey") &&
              col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
            "left_semi")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_orders"))
      }),

    // TPC-H Q15 shape: the top-revenue supplier(s) — a global scalar max
    // reused against the same aggregate (tiny 1-row broadcast, no window).
    // Revenue stays DECIMAL through the equality compare; double at the end.
    Q("q15_top_supplier", Some("""
      |WITH r AS (
      |  SELECT l_suppkey, sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |    CAST(1 - l_discount AS DECIMAL(18,2))) AS rev
      |  FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01' GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, CAST(rev AS DOUBLE) AS total_revenue
      |FROM r JOIN supplier ON s_suppkey = l_suppkey
      |WHERE rev = (SELECT max(rev) FROM r)
      |""".stripMargin.trim))(
      (s, d) => {
        val rev = (col("l_extendedprice").cast(dec) *
          (lit(1) - col("l_discount")).cast(dec))
        // one row per supplier — materialize once so the max and the join
        // don't each rescan lineitem
        val r = t(s, d, "lineitem")
          .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp"))
          .groupBy("l_suppkey").agg(sum(rev).as("rev"))
          .transform(Materialize(_))
        r.join(broadcast(r.agg(max(col("rev")).as("mx"))), col("rev") === col("mx"))
          .join(broadcastIfSmall(t(s, d, "supplier").select("s_suppkey", "s_name")),
            col("l_suppkey") === col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"),
            col("rev").cast("double").as("total_revenue"))
      }),

    // TPC-H Q19 shape: OR-of-ANDs across both join sides — the disjunctive-
    // predicate test (Catalyst extracts the common p_partkey equi key and
    // pushes brand/size/quantity legs below the broadcast join).
    Q("q19_disjunctive", Some("""
      |SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |         CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
      |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
      |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
      |""".stripMargin.trim))(
      (s, d) => {
        val rev = (col("l_extendedprice").cast(dec) *
          (lit(1) - col("l_discount")).cast(dec))
        val legs =
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30))
        t(s, d, "lineitem")
          .join(broadcastIfSmall(t(s, d, "part").select("p_partkey", "p_brand", "p_size")),
            col("p_partkey") === col("l_partkey"))
          .filter(legs)
          .agg(sum(rev).cast("double").as("revenue"), count(lit(1)).as("n_items"))
      }),

    // Analytic window shape: per-customer running order total in order-date
    // order (unique o_orderkey tiebreak ⇒ fully deterministic frame).
    // Money stays DECIMAL through the running sum — identical bits in any
    // evaluation order — and doubles only at the end.
    Q("q_window_running", Some("""
      |SELECT o_custkey, o_orderkey,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total
      |FROM orders WHERE o_custkey < 100
      |""".stripMargin.trim))(
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("o_custkey")
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        t(s, d, "orders").filter(col("o_custkey") < 100)
          .select(col("o_custkey"), col("o_orderkey"),
            sum(col("o_totalprice").cast(dec)).over(w)
              .cast("double").as("running_total"))
      }),

    // Top-N-per-group via the bounded topk_agg aggregate — at most N rows
    // per key in the agg buffer AND in the shuffle (a window row_number
    // would sort whole partitions; see Similarity.topKPerKey). Output is
    // (segment, rank, orderkey) — integers only, exact compare.
    Q("q_topn_per_group", Some("""
      |SELECT c_mktsegment, rank, o_orderkey FROM (
      |  SELECT c_mktsegment, o_orderkey, row_number() OVER (
      |    PARTITION BY c_mktsegment
      |    ORDER BY o_totalprice DESC, o_orderkey) AS rank
      |  FROM orders JOIN customer ON c_custkey = o_custkey)
      |WHERE rank <= 3
      |""".stripMargin.trim))(
      (s, d) => {
        // customer is sf-scaled — no forced broadcast (AQE decides)
        val joined = t(s, d, "orders")
          .join(t(s, d, "customer").select("c_custkey", "c_mktsegment"),
            col("o_custkey") === col("c_custkey"))
        graft.operators.Similarity.topKPerKey(
            joined.select(col("c_mktsegment"), col("o_totalprice"), col("o_orderkey")),
            Seq("c_mktsegment"),
            struct((-col("o_totalprice")).as("np"), col("o_orderkey").as("k")), 3)
          .select(col("c_mktsegment"), posexplode(col("topk")))
          .select(col("c_mktsegment"), (col("pos") + 1).as("rank"), col("col.k").as("o_orderkey"))
      }),

    // Distribution shape: exact per-group percentiles (both engines use
    // the same (n−1)·p linear interpolation on the sorted values — verified
    // bit-identical). Exact percentile sorts each group; at 100 TB swap in
    // approx_percentile (t-digest, mergeable partial agg) — the oracle
    // pins the exact form only.
    Q("q_quantiles", Some("""
      |SELECT l_returnflag,
      |  quantile_cont(l_extendedprice, 0.5) AS p50,
      |  quantile_cont(l_extendedprice, 0.9) AS p90,
      |  quantile_cont(l_extendedprice, 0.99) AS p99
      |FROM lineitem GROUP BY l_returnflag
      |""".stripMargin.trim))(
      (s, d) =>
        t(s, d, "lineitem")
          .groupBy("l_returnflag")
          // one percentile buffer computing all three points (three
          // separate calls would accumulate the group three times)
          .agg(percentile(col("l_extendedprice"),
            array(lit(0.5), lit(0.9), lit(0.99))).as("ps"))
          .select(col("l_returnflag"),
            col("ps").getItem(0).as("p50"),
            col("ps").getItem(1).as("p90"),
            col("ps").getItem(2).as("p99"))),

    // Rollup shape: hierarchical totals (flag, status) → (flag) → grand
    // total in ONE pass — Spark expands grouping sets before the partial
    // agg, so it is still a single shuffle, not three scans. Quantities
    // are integer-valued doubles (< 2^53), so their sums are order-exact.
    Q("q_rollup_pricing", Some("""
      |SELECT l_returnflag, l_linestatus, count(*) AS n_items,
      |  sum(l_quantity) AS total_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |""".stripMargin.trim))(
      (s, d) =>
        t(s, d, "lineitem")
          .rollup("l_returnflag", "l_linestatus")
          .agg(
            count(lit(1)).as("n_items"),
            sum("l_quantity").as("total_qty"),
            sum(col("l_extendedprice").cast(dec)).cast("double").as("total_price"))),

    // Wide-agg shape: per-supplier part stats with a broadcast dim join.
    Q("q_supplier_stats", Some("""
      |SELECT l_suppkey, s_name, count(*) AS n_items,
      |  sum(l_quantity) AS total_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
      |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |       / count(*) AS DOUBLE) AS avg_price
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY l_suppkey, s_name
      |""".stripMargin.trim))(
      (s, d) => {
        val sup = KGlobalTable.fromStatic(
          t(s, d, "supplier").select("s_suppkey", "s_name"), "s_suppkey")
        KStream(t(s, d, "lineitem"), "l_orderkey")
          .joinGlobalTable(sup, col("l_suppkey"))
          .toDF.groupBy("l_suppkey", "s_name")
          .agg(
            count(lit(1)).as("n_items"),
            sum("l_quantity").as("total_qty"),
            sum(col("l_extendedprice").cast(dec)).cast("double").as("total_price"))
          .withColumn("avg_price", (col("total_price") / col("n_items")).cast("double"))
      }),
  )
}
