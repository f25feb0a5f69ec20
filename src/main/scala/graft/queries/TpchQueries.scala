package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.plans.Hints.broadcastIfSmall
import graft.plans.Materialize
import graft.queries.Tables.t

/** The rest of the TPC-H analytic surface, adapted to the testdata star
  * schema (no partsupp / commitdate / receiptdate / phone columns — each
  * query keeps its TPC-H *plan shape* on the columns that exist). Together
  * with [[HeadlineQueries]] this covers all 22 classic shapes: correlated
  * scalar-min (q2), nation-pair volume (q7), market share (q8), profit
  * breakdown (q9), scalar-subquery HAVING (q11), case-count agg (q12),
  * outer-join histogram (q13), anti-join exclusion + count-distinct (q16),
  * correlated-avg gate (q17), nested semi-joins (q20), sole-failer
  * semi/anti composition (q21), scalar-threshold + anti-join (q22).
  *
  * Numeric policy (NOTES.md): money math in DECIMAL end to end, cast to
  * DOUBLE only at the output; integer-valued doubles (quantities) sum
  * exactly in any order; never `round()`; DuckDB integer aggregates cast
  * to BIGINT.
  */
object TpchQueries {

  private val dec = DecimalType(18, 2)

  val all: Seq[Q] = Seq(

    // TPC-H Q2 shape: correlated scalar-min — for each qualifying part, the
    // EUROPE supplier(s) whose minimum observed unit price is the lowest.
    // The per-(part,supplier) offer table is aggregated once, the per-part
    // min once more, and the argmin recovered by an equi-join on the exact
    // double (min over identical inputs is bit-identical in both engines).
    Q("q2_min_cost_supplier", Some("""
      |WITH offer AS (
      |  SELECT l_partkey AS pk, l_suppkey AS sk, min(l_extendedprice / l_quantity) AS unit_cost
      |  FROM lineitem GROUP BY 1, 2),
      |eu AS (
      |  SELECT s_suppkey, s_name, n_name FROM supplier
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE'),
      |best AS (
      |  SELECT pk AS bpk, min(unit_cost) AS mc FROM offer JOIN eu ON sk = s_suppkey GROUP BY 1)
      |SELECT p_partkey, p_name, s_name, n_name, unit_cost
      |FROM offer JOIN eu ON sk = s_suppkey
      |JOIN best ON bpk = pk AND unit_cost = mc
      |JOIN part ON p_partkey = pk
      |WHERE p_size <= 15 AND p_type = 'STANDARD'
      |""".stripMargin.trim))(
      (s, d) => {
        val eu = t(s, d, "supplier")
          .join(broadcast(t(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(t(s, d, "region").filter(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
          .select("s_suppkey", "s_name", "n_name")
        // part filter applied before the offer aggregation (best is per
        // part, so pre-filtering the parts is equivalent and prunes the
        // offer table before both shuffles)
        val parts = t(s, d, "part")
          .filter(col("p_size") <= 15 && col("p_type") === "STANDARD")
          .select("p_partkey", "p_name")
        val offer = t(s, d, "lineitem")
          .join(broadcastIfSmall(parts.select("p_partkey")),
            col("l_partkey") === col("p_partkey"), "left_semi")
          .groupBy(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
          .agg(min(col("l_extendedprice") / col("l_quantity")).as("unit_cost"))
          .join(broadcastIfSmall(eu), col("sk") === col("s_suppkey"))
        val best = offer.groupBy(col("pk").as("bpk")).agg(min("unit_cost").as("mc"))
        offer
          .join(best, col("bpk") === col("pk") && col("unit_cost") === col("mc"))
          .join(broadcastIfSmall(parts), col("p_partkey") === col("pk"))
          .select("p_partkey", "p_name", "s_name", "n_name", "unit_cost")
      }),

    // TPC-H Q7 shape: bilateral trade volume between two nations by ship
    // year. Only nation (25 rows) is force-hinted; the two-nation supplier
    // slice carries an ADVISORY (size-gated) hint, and the customer and
    // order maps are sf-scaled with no hint at all — the planner/AQE picks
    // (runtime broadcast at small SF, shuffled at 100 TB).
    Q("q7_volume_shipping", Some("""
      |SELECT supp_nation, cust_nation, l_year, CAST(sum(volume) AS DOUBLE) AS revenue FROM (
      |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |    CAST(year(l_shipdate) AS INT) AS l_year,
      |    CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2)) AS volume
      |  FROM lineitem
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  JOIN orders ON o_orderkey = l_orderkey
      |  JOIN customer ON c_custkey = o_custkey
      |  JOIN nation n1 ON n1.n_nationkey = s_nationkey
      |  JOIN nation n2 ON n2.n_nationkey = c_nationkey
      |  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      |     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      |GROUP BY 1, 2, 3
      |""".stripMargin.trim))(
      (s, d) => {
        val nats = Seq("NATION_1", "NATION_2")
        val n = t(s, d, "nation").filter(col("n_name").isin(nats: _*))
        val supp = t(s, d, "supplier")
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name").as("supp_nation"))
        val cust = t(s, d, "customer")
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("n_name").as("cust_nation"))
        val ord = t(s, d, "orders")
          .join(cust, col("o_custkey") === col("c_custkey"))
          .select("o_orderkey", "cust_nation")
        val vol = (col("l_extendedprice").cast(dec) *
          (lit(1) - col("l_discount")).cast(dec))
        t(s, d, "lineitem")
          .join(broadcastIfSmall(supp), col("l_suppkey") === col("s_suppkey"))
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .filter(col("supp_nation") =!= col("cust_nation"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).as("l_year"))
          .agg(sum(vol).cast("double").as("revenue"))
      }),

    // TPC-H Q8 shape: one nation's market share inside a region market by
    // order year — conditional share of a decimal sum.
    Q("q8_market_share", Some("""
      |SELECT o_year, CAST(CAST(sum(CASE WHEN nation = 'NATION_3' THEN volume
      |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) /
      |  CAST(sum(volume) AS DOUBLE) AS DOUBLE) AS mkt_share FROM (
      |  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
      |    CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2)) AS volume,
      |    n2.n_name AS nation
      |  FROM lineitem
      |  JOIN part ON p_partkey = l_partkey
      |  JOIN orders ON o_orderkey = l_orderkey
      |  JOIN customer ON c_custkey = o_custkey
      |  JOIN nation n1 ON n1.n_nationkey = c_nationkey
      |  JOIN region ON r_regionkey = n1.n_regionkey
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  JOIN nation n2 ON n2.n_nationkey = s_nationkey
      |  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY')
      |GROUP BY o_year
      |""".stripMargin.trim))(
      (s, d) => {
        val n = t(s, d, "nation")
        val custAm = t(s, d, "customer")
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(t(s, d, "region").filter(col("r_name") === "AMERICA")),
            col("n_regionkey") === col("r_regionkey"))
          .select("c_custkey")
        // (nation/region hints above are bounded-by-construction)
        // custAm/ordAm are sf-scaled (a region's customers and their
        // orders): no forced broadcast — planner/AQE decide
        val ordAm = t(s, d, "orders")
          .join(custAm, col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
        val suppN = t(s, d, "supplier")
          .join(broadcast(n.select(col("n_nationkey").as("sn_key"), col("n_name").as("nation"))),
            col("s_nationkey") === col("sn_key"))
          .select("s_suppkey", "nation")
        val vol = (col("l_extendedprice").cast(dec) *
          (lit(1) - col("l_discount")).cast(dec))
        t(s, d, "lineitem")
          .join(broadcastIfSmall(t(s, d, "part").filter(col("p_type") === "ECONOMY")
            .select("p_partkey")), col("l_partkey") === col("p_partkey"))
          .join(ordAm, col("l_orderkey") === col("o_orderkey"))
          .join(broadcastIfSmall(suppN), col("l_suppkey") === col("s_suppkey"))
          .groupBy("o_year")
          .agg((sum(when(col("nation") === "NATION_3", vol)
            .otherwise(lit(0).cast(dec))).cast("double") /
            sum(vol).cast("double")).cast("double").as("mkt_share"))
      }),

    // TPC-H Q9 shape: profit (revenue minus cost-of-goods, here retail
    // price × quantity since there is no partsupp cost) per supplier
    // nation per order year, over a part-name substring slice. The only
    // fact-fact join (lineitem ⋈ orders, unfiltered) shuffles on the
    // order key; all dims broadcast.
    Q("q9_product_profit", Some("""
      |SELECT nation, o_year, CAST(sum(amount) AS DOUBLE) AS sum_profit FROM (
      |  SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
      |    CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2)) -
      |    CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS amount
      |  FROM lineitem
      |  JOIN part ON p_partkey = l_partkey
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  JOIN orders ON o_orderkey = l_orderkey
      |  JOIN nation ON n_nationkey = s_nationkey
      |  WHERE p_name LIKE '%red%')
      |GROUP BY 1, 2
      |""".stripMargin.trim))(
      (s, d) => {
        val amount = col("l_extendedprice").cast(dec) *
          (lit(1) - col("l_discount")).cast(dec) -
          col("p_retailprice").cast(dec) * col("l_quantity").cast(dec)
        t(s, d, "lineitem")
          .join(broadcastIfSmall(t(s, d, "part").filter(col("p_name").contains("red"))
            .select("p_partkey", "p_retailprice")),
            col("p_partkey") === col("l_partkey"))
          .join(broadcastIfSmall(t(s, d, "supplier")
            .join(broadcast(t(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
            .select(col("s_suppkey"), col("n_name").as("nation"))),
            col("s_suppkey") === col("l_suppkey"))
          .join(t(s, d, "orders").select("o_orderkey", "o_orderdate"),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("nation"), year(col("o_orderdate")).as("o_year"))
          .agg(sum(amount).cast("double").as("sum_profit"))
      }),

    // TPC-H Q11 shape: scalar-subquery HAVING — parts whose inventory value
    // (within a supplier-nation slice) exceeds 2× the mean per-part value.
    // (TPC-H's fixed-fraction threshold is divided by SF for the same
    // reason: per-part share shrinks as the part count grows; a mean
    // multiple is scale-free, so the query stays non-trivial at every SF.)
    // The per-part aggregate materializes once (Materialize) so the
    // scalar threshold and the filter reuse it instead of rescanning.
    Q("q11_important_parts", Some("""
      |WITH val AS (
      |  SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |    CAST(l_quantity AS DECIMAL(18,2))) AS v
      |  FROM lineitem
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  JOIN nation ON n_nationkey = s_nationkey
      |  WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3') GROUP BY 1)
      |SELECT l_partkey, CAST(v AS DOUBLE) AS part_value FROM val
      |WHERE CAST(v AS DOUBLE) > (SELECT CAST(sum(v) AS DOUBLE) / count(*) * 2.0 FROM val)
      |""".stripMargin.trim))(
      (s, d) => {
        val supp = t(s, d, "supplier")
          .join(broadcast(t(s, d, "nation")
            .filter(col("n_name").isin("NATION_1", "NATION_2", "NATION_3"))),
            col("s_nationkey") === col("n_nationkey"))
          .select("s_suppkey")
        val value = col("l_extendedprice").cast(dec) * col("l_quantity").cast(dec)
        val v = t(s, d, "lineitem")
          .join(broadcastIfSmall(supp), col("l_suppkey") === col("s_suppkey"), "left_semi")
          .groupBy("l_partkey")
          .agg(sum(value).as("v"))
          .transform(Materialize(_))
        v.crossJoin(broadcast(v.agg(
            (sum("v").cast("double") / count(lit(1)) * 2.0).as("threshold"))))
          .filter(col("v").cast("double") > col("threshold"))
          .select(col("l_partkey"), col("v").cast("double").as("part_value"))
      }),

    // TPC-H Q12 shape: case-count aggregation — late-shipment counts per
    // order priority (no commitdate/shipmode in this schema; "late" is
    // shipped more than 90 days after the order date).
    Q("q12_late_by_priority", Some("""
      |SELECT o_orderpriority,
      |  CAST(sum(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
      |    THEN 1 ELSE 0 END) AS BIGINT) AS late_count,
      |  count(*) AS n_items
      |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |GROUP BY 1
      |""".stripMargin.trim))(
      (s, d) =>
        t(s, d, "lineitem")
          .join(t(s, d, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(
            sum(when(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"), 1)
              .otherwise(0)).as("late_count"),
            count(lit(1)).as("n_items"))),

    // TPC-H Q13 shape: outer-join histogram — distribution of per-customer
    // order counts, with a join-side predicate (so customers whose only
    // orders are urgent land in the zero bucket). Two agg shuffles.
    Q("q13_order_count_distribution", Some("""
      |WITH c_orders AS (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT JOIN orders
      |    ON o_custkey = c_custkey AND o_orderpriority <> '1-URGENT'
      |  GROUP BY c_custkey)
      |SELECT c_count, count(*) AS custdist FROM c_orders GROUP BY c_count
      |""".stripMargin.trim))(
      (s, d) =>
        t(s, d, "customer").select("c_custkey")
          .join(t(s, d, "orders").select("o_custkey", "o_orderkey", "o_orderpriority"),
            col("o_custkey") === col("c_custkey") &&
              col("o_orderpriority") =!= "1-URGENT",
            "left_outer")
          .groupBy("c_custkey")
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy("c_count")
          .agg(count(lit(1)).as("custdist"))),

    // TPC-H Q16 shape: supplier diversity per part attribute, excluding a
    // supplier denylist via anti-join (negative account balance stands in
    // for the complaints filter) and one brand.
    Q("q16_part_supplier_variety", Some("""
      |SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE p_brand <> 'Brand#5'
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY 1, 2, 3
      |""".stripMargin.trim))(
      (s, d) =>
        t(s, d, "lineitem")
          .join(broadcastIfSmall(t(s, d, "supplier").filter(col("s_acctbal") < 0)
            .select("s_suppkey")), col("l_suppkey") === col("s_suppkey"), "left_anti")
          .join(broadcastIfSmall(t(s, d, "part").filter(col("p_brand") =!= "Brand#5")
            .select("p_partkey", "p_brand", "p_type", "p_size")),
            col("p_partkey") === col("l_partkey"))
          .groupBy("p_brand", "p_type", "p_size")
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))),

    // TPC-H Q17 shape: correlated-average gate — revenue from order lines
    // below half their part's average quantity. The per-part average is one
    // aggregate (semi-joined to the brand slice first: the correlation is
    // per part, so pre-filtering is equivalent), then a broadcast probe.
    // avg of integer-valued doubles is exact-sum / count — identical bits
    // in both engines, so the strict `<` cannot split.
    Q("q17_small_quantity_revenue", Some("""
      |SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
      |    AS DOUBLE) AS avg_yearly,
      |  count(*) AS n_items
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE p_brand = 'Brand#3'
      |  AND l_quantity < (SELECT 0.5 * avg(l2.l_quantity) FROM lineitem l2
      |    WHERE l2.l_partkey = p_partkey)
      |""".stripMargin.trim))(
      (s, d) => {
        val brandParts = t(s, d, "part").filter(col("p_brand") === "Brand#3")
          .select("p_partkey")
        val partAvg = t(s, d, "lineitem")
          .join(broadcastIfSmall(brandParts), col("l_partkey") === col("p_partkey"), "left_semi")
          .groupBy(col("l_partkey").as("pa_key"))
          .agg(avg("l_quantity").as("avg_qty"))
        t(s, d, "lineitem")
          .join(broadcastIfSmall(brandParts), col("p_partkey") === col("l_partkey"))
          .join(broadcastIfSmall(partAvg), col("pa_key") === col("l_partkey"))
          .filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
          .agg(
            (sum(col("l_extendedprice").cast(dec)).cast("double") / 7.0)
              .cast("double").as("avg_yearly"),
            count(lit(1)).as("n_items"))
      }),

    // TPC-H Q20 shape: nested semi-joins — suppliers in two nations who
    // moved a significant volume of a part-name slice in one year. Each IN
    // becomes a left-semi with the smaller side broadcast.
    Q("q20_part_promotion", Some("""
      |SELECT s_suppkey, s_name, n_name
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |WHERE n_name IN ('NATION_4', 'NATION_5')
      |  AND s_suppkey IN (
      |    SELECT l_suppkey FROM lineitem
      |    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'blue%')
      |      AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      |    GROUP BY l_suppkey HAVING sum(l_quantity) > 50)
      |""".stripMargin.trim))(
      (s, d) => {
        val blueParts = t(s, d, "part").filter(col("p_name").startsWith("blue"))
          .select("p_partkey")
        val movers = t(s, d, "lineitem")
          .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
          .join(broadcastIfSmall(blueParts), col("l_partkey") === col("p_partkey"), "left_semi")
          .groupBy("l_suppkey")
          .agg(sum("l_quantity").as("sq")).filter(col("sq") > 50)
          .select("l_suppkey")
        t(s, d, "supplier")
          .join(broadcast(t(s, d, "nation")
            .filter(col("n_name").isin("NATION_4", "NATION_5"))),
            col("s_nationkey") === col("n_nationkey"))
          .join(broadcastIfSmall(movers), col("s_suppkey") === col("l_suppkey"), "left_semi")
          .select("s_suppkey", "s_name", "n_name")
      }),

    // TPC-H Q21 shape: the sole-failer query — suppliers who were the ONLY
    // late shipper on multi-supplier orders ("late" = shipped 60+ days
    // after the order date; no receipt/commit dates in this schema). The
    // EXISTS/NOT-EXISTS pair becomes two aggregate gates joined back on
    // the order key.
    Q("q21_sole_late_supplier", Some("""
      |WITH late AS (
      |  SELECT DISTINCT l_orderkey, l_suppkey
      |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      |  WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY),
      |multi AS (
      |  SELECT l_orderkey FROM lineitem GROUP BY 1 HAVING count(DISTINCT l_suppkey) > 1),
      |sole AS (
      |  SELECT l_orderkey FROM late GROUP BY 1 HAVING count(*) = 1)
      |SELECT s_name, count(*) AS numwait
      |FROM late
      |JOIN sole USING (l_orderkey)
      |JOIN multi USING (l_orderkey)
      |JOIN supplier ON s_suppkey = l_suppkey
      |GROUP BY s_name
      |""".stripMargin.trim))(
      (s, d) => {
        // Single-pass form. The old plan scanned lineitem THREE times
        // (late-pairs, multi-gate, sole-gate) with a fact-fact join on the
        // first leg; this one joins lineitem⋈orders ONCE and derives all
        // three gates from per-orderkey aggregates. Both groupBys after
        // the join are shuffle-free: the join leaves the stream hash-
        // partitioned on l_orderkey, which satisfies ClusteredDistribution
        // for (l_orderkey, l_suppkey) and (l_orderkey) alike — the whole
        // post-join pipeline runs in one stage. "Exactly one late
        // supplier" carries that supplier out of the agg (max of a 1-set).
        val perSupplier = t(s, d, "lineitem")
          .select("l_orderkey", "l_suppkey", "l_shipdate")
          .join(t(s, d, "orders").select("o_orderkey", "o_orderdate"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy("l_orderkey", "l_suppkey")
          .agg(max(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
            .as("late"))
        val soleLate = perSupplier.groupBy("l_orderkey")
          .agg(count(lit(1)).as("ns"),
            sum(col("late").cast("long")).as("nlate"),
            max(when(col("late"), col("l_suppkey"))).as("l_suppkey"))
          .filter(col("ns") > 1 && col("nlate") === 1)
        soleLate
          .join(broadcastIfSmall(t(s, d, "supplier").select("s_suppkey", "s_name")),
            col("l_suppkey") === col("s_suppkey"))
          .groupBy("s_name")
          .agg(count(lit(1)).as("numwait"))
      }),

    // TPC-H Q22 shape: scalar threshold + anti-join — wealthy customers
    // (balance above the positive-balance average) with no recent orders,
    // summarized per nation. Every customer here has SOME order, so
    // "idle" is no order since 2000-01-01.
    Q("q22_idle_customers", Some("""
      |WITH avg_bal AS (
      |  SELECT CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)
      |    AS DOUBLE) AS a
      |  FROM customer WHERE c_acctbal > 0.0)
      |SELECT c_nationkey, count(*) AS numcust,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
      |FROM customer
      |WHERE c_acctbal > (SELECT a FROM avg_bal)
      |  AND c_custkey NOT IN (
      |    SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01')
      |GROUP BY c_nationkey
      |""".stripMargin.trim))(
      (s, d) => {
        val cust = t(s, d, "customer")
        val avgBal = cust.filter(col("c_acctbal") > 0.0)
          .agg((sum(col("c_acctbal").cast(dec)).cast("double") / count(lit(1)))
            .cast("double").as("a"))
        val recent = t(s, d, "orders")
          .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
          .select("o_custkey")
        cust
          .crossJoin(broadcast(avgBal))
          .filter(col("c_acctbal") > col("a"))
          .join(broadcastIfSmall(recent), col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy("c_nationkey")
          .agg(count(lit(1)).as("numcust"),
            sum(col("c_acctbal").cast(dec)).cast("double").as("totacctbal"))
      }),

    // Cube shape: all four grouping sets of (flag, status) in ONE pass —
    // like q_rollup_pricing but with the (status-only) and grand-total
    // sets too. Spark expands the sets before the partial agg: still a
    // single shuffle. Quantities are integer-valued doubles ⇒ exact sums.
    Q("q_cube_pricing", Some("""
      |SELECT l_returnflag, l_linestatus, count(*) AS n_items, sum(l_quantity) AS total_qty
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      |""".stripMargin.trim))(
      (s, d) =>
        t(s, d, "lineitem")
          .cube("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n_items"), sum("l_quantity").as("total_qty"))),

    // bloom-gated fact join: the build side's keys collapse to one
    // constant-size bitset broadcast and the codegen'd probe drops
    // provably-unmatched lineitems BEFORE the join shuffle (the explicit
    // InjectRuntimeFilter). False positives die in the join, false
    // negatives are impossible — the oracle is the PLAIN join, and the
    // hash match is the equality proof.
    Q("q_bloom_semijoin", Some("""
      |SELECT o.o_orderpriority, count(*) AS n_items,
      |  CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |WHERE o.o_orderpriority = '1-URGENT' AND o.o_totalprice > 200000
      |GROUP BY 1
      |""".stripMargin.trim))(
      (s, d) => {
        val hot = t(s, d, "orders").filter(
          col("o_orderpriority") === "1-URGENT" &&
            col("o_totalprice") > 200000.0)
        graft.plans.Hints.bloomGatedJoin(
          t(s, d, "lineitem"), hot,
          col("l_orderkey"), col("o_orderkey"), "inner")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_items"),
            sum(col("l_quantity").cast("long")).as("sum_qty"))
      }),
  )
}
