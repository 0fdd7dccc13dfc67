"""TPC-H-flavor query pack (round 2) — widens the relational operator
surface beyond plans/relational.py with the classic patterns the first pack
didn't exercise: correlated EXISTS / date-bounded NOT EXISTS, IN-over-
aggregate subqueries, disjunctive multi-column predicates, market-share
ratio aggregation, and deep (5-6 table) join trees.

Queries are ADAPTED to the driver star schema (TESTDATA.md): it has no
partsupp table, comment/phone/shipmode columns, or commit/receipt dates, so
each query keeps its namesake's *operator shape* with predicates re-based on
available columns (SURVEY §2.2 "Joins / Aggregations / Scalar functions" —
all delegated by the reference to its host engine).

Scale design (same rules as plans/relational.py):
- FIXED-cardinality dims (nation=25, region=5) are force-broadcast; tables
  that scale with SF (part, supplier, customer) use plain equi-joins so
  Catalyst/AQE picks broadcast only while they actually fit (they do at the
  driver's SFs; at 100 TB they are billions of rows and a forced broadcast
  would OOM every executor);
- orders⋈lineitem is the one fact-fact shuffle, on the join key;
- semi/anti joins express EXISTS/NOT EXISTS — no distinct-then-join;
- scalar subqueries stay in-plan via broadcast crossJoin (no driver
  round-trip);
- every aggregate is aliased + rounded identically in Spark and DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rocana_impala_udfs_spark.sources.io import load_table


def _rev() -> F.Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


def _sum_rev_exact(out: str) -> F.Column:
    """Revenue sum that is deterministic under ANY summation order: the
    per-row double product casts to DECIMAL(18,4) identically in Spark and
    DuckDB, decimal addition is exact/associative, so the rounded total
    can't flip on a .005 boundary when partitioning changes (double sums
    differ by ~1e-9 across orders, which round(2) can amplify to a cent).
    Round in DECIMAL domain (HALF_UP in both engines — real sums like
    536532.315 land exactly on the half-cent) and only then cast to double;
    rounding the double instead diverges between engines on those ties."""
    return F.round(F.sum(_rev().cast("decimal(18,4)")), 2).cast("double").alias(out)


# --- Q4 flavor: correlated EXISTS via left-semi join ------------------------


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders in 1996 having at least one returned line, counted by
    priority. EXISTS == left-semi join: no distinct, no row duplication,
    lineitem side only ships (l_orderkey) after its filter."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


ORACLE_Q4 = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --- Q7 flavor: supplier-nation x customer-nation volume --------------------


def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilateral trade volume: revenue by (supplier nation, customer nation,
    ship year) for 1996-1997. lineitem⋈orders shuffles once; both nation
    copies force-broadcast; supplier/customer joins left to AQE (broadcast
    while they fit, shuffle join at scale)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(_sum_rev_exact("revenue"))
    )


ORACLE_Q7 = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS l_year,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3
"""


# --- Q8 flavor: market share of one supplier nation -------------------------


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATION_3's share of PROMO-part revenue delivered to ASIA customers,
    per order year. The share is a conditional-sum ratio inside one
    aggregation — no self-join, no second pass."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    n_c = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("c_regionkey")
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n_s = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    vol = _rev()
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n_c), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(r), F.col("c_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(n_s), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(F.lit(0.0)))
                / F.sum(vol),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


ORACLE_Q8 = """
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       round(sum(CASE WHEN n2.n_name = 'NATION_3'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region   ON n1.n_regionkey = r_regionkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE p_type = 'PROMO' AND r_name = 'ASIA'
GROUP BY 1
ORDER BY 1
"""


# --- Q9 flavor: profit by supplier nation and year --------------------------


def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit (revenue minus a p_retailprice-proxy cost — the schema has no
    partsupp.ps_supplycost) by supplier nation and order year. Six-table
    tree: one fact-fact shuffle, every dim broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part")
    n = load_table(spark, sf_dir, "nation")
    profit = (_rev() - F.lit(0.1) * F.col("p_retailprice") * F.col("l_quantity")).cast(
        "decimal(18,4)"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(profit), 2).cast("double").alias("sum_profit"))
    )


ORACLE_Q9 = """
SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                           - 0.1 * p_retailprice * l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
GROUP BY 1, 2
"""


# --- Q10 flavor: returned-item revenue, top 20 customers --------------------


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 customers by revenue lost to returns in 1996H1. orderBy+limit
    plans as TakeOrderedAndProject (no full sort); c_custkey tiebreak makes
    the cut deterministic in both engines, and the DECIMAL revenue sum
    (_sum_rev_exact) keeps the rounded totals from flipping a half cent
    with summation order."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(_sum_rev_exact("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


ORACLE_Q10 = """
SELECT c_custkey, c_name, n_name,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


# --- Q14 flavor: promo revenue share ----------------------------------------


def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentage of 1996 revenue from PROMO-type parts: conditional-sum
    ratio in a single aggregation, part broadcast."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    p = load_table(spark, sf_dir, "part")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", _rev()).otherwise(F.lit(0.0)))
                / F.sum(_rev()),
                6,
            ).alias("promo_revenue_pct")
        )
    )


ORACLE_Q14 = """
SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
"""


# --- Q18 flavor: large-volume orders (IN over aggregate) --------------------


def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose total quantity exceeds 250, with their customer. The IN
    (GROUP BY ... HAVING) subquery is the per-order aggregate itself,
    joined back — one lineitem shuffle on l_orderkey feeds both the filter
    and the quantity sum."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"), "total_qty")
    )


ORACLE_Q18 = """
SELECT c_custkey, c_name, o_orderkey, round(o_totalprice, 2) AS o_totalprice, total_qty
FROM (
    SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
    FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250
) big
JOIN orders   ON big.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


# --- Q19 flavor: disjunctive multi-column predicates ------------------------


def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue under an OR of three (brand, size-range, quantity-range)
    conjunctions — the classic disjunctive-pushdown shape. Part broadcast;
    the disjunction stays a single JVM predicate."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    joined = li.join(p, li.l_partkey == p.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#7") & F.col("p_size").between(10, 30) & F.col("l_quantity").between(10, 35))
        | ((F.col("p_brand") == "Brand#13") & F.col("p_size").between(20, 50) & F.col("l_quantity").between(20, 50))
    )
    return joined.filter(cond).agg(F.round(F.sum(_rev()), 2).alias("disc_revenue"))


ORACLE_Q19 = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS disc_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1'  AND p_size BETWEEN 1  AND 15 AND l_quantity BETWEEN 1  AND 20)
   OR (p_brand = 'Brand#7'  AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 35)
   OR (p_brand = 'Brand#13' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 50)
"""


# --- Q22 flavor: well-funded customers idle in 1997 -------------------------


def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with above-average balance and NO 1997 order, summarized
    per market segment. NOT EXISTS == left-anti join on the date-filtered
    orders; the global average stays in-plan (broadcast crossJoin)."""
    c = load_table(spark, sf_dir, "customer")
    o97 = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    avg_bal = c.agg(F.avg("c_acctbal").alias("_avg_bal"))
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(o97, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("c_mktsegment")
    )


ORACLE_Q22 = """
SELECT c_mktsegment, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
FROM customer c
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
  AND NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey
        AND o.o_orderdate >= TIMESTAMP '1997-01-01'
        AND o.o_orderdate < TIMESTAMP '1998-01-01'
  )
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


TPCH_QUERIES = {
    "exists_q4_order_priority": q4_order_priority,
    "join_q7_nation_volume": q7_nation_volume,
    "join_q8_market_share": q8_market_share,
    "join_q9_profit_by_nation_year": q9_profit_by_nation_year,
    "join_q10_returned_items": q10_returned_items,
    "conditional_q14_promo_share": q14_promo_share,
    "in_q18_large_volume_customers": q18_large_volume_customers,
    "disjunct_q19_discounted_revenue": q19_discounted_revenue,
    "notexists_q22_idle_customers": q22_idle_customers,
}

TPCH_ORACLE = {
    "exists_q4_order_priority": ORACLE_Q4,
    "join_q7_nation_volume": ORACLE_Q7,
    "join_q8_market_share": ORACLE_Q8,
    "join_q9_profit_by_nation_year": ORACLE_Q9,
    "join_q10_returned_items": ORACLE_Q10,
    "conditional_q14_promo_share": ORACLE_Q14,
    "in_q18_large_volume_customers": ORACLE_Q18,
    "disjunct_q19_discounted_revenue": ORACLE_Q19,
    "notexists_q22_idle_customers": ORACLE_Q22,
}


# --- Q12 flavor: shipping-priority CASE aggregation -------------------------


def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line counts by return flag split into high/low order priority via
    conditional sums (the Q12 CASE shape; the schema has no shipmode).
    One fact-fact shuffle + one partial+final agg."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


ORACLE_Q12 = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY l_returnflag ORDER BY l_returnflag
"""


# --- Q15 flavor: top supplier by quarterly revenue --------------------------


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier(s) with the maximum 1996Q1 revenue — the Q15 view + scalar
    max shape, decorrelated: the 1-row max broadcasts back onto the
    supplier-revenue aggregate; revenue summed in DECIMAL so the max
    comparison can't be perturbed by summation order."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    s = load_table(spark, sf_dir, "supplier")
    rev = li.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.sum(_rev().cast("decimal(18,4)")).alias("_rev")
    )
    mx = rev.agg(F.max("_rev").alias("_mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("_rev") == F.col("_mx"))
        .join(s, F.col("suppkey") == s.s_suppkey)
        .select(
            "s_suppkey", "s_name", F.round("_rev", 2).cast("double").alias("total_revenue")
        )
        .orderBy("s_suppkey")
    )


ORACLE_Q15 = """
WITH rev AS (
    SELECT l_suppkey AS suppkey, sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS r
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
    GROUP BY 1
)
SELECT s_suppkey, s_name, CAST(round(r, 2) AS DOUBLE) AS total_revenue
FROM rev JOIN supplier ON suppkey = s_suppkey
WHERE r = (SELECT max(r) FROM rev)
ORDER BY s_suppkey
"""


# --- Q16 flavor: supplier breadth per part brand/type -----------------------


def q16_parts_supplier_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct supplier count per (brand, type) for mid-size parts — the
    Q16 shape re-based on lineitem (no partsupp table): the supplier
    relationships come from shipped lines, distinct-counted after an early
    projection to the three columns that matter."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size").between(10, 40))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type")
    )


ORACLE_Q16 = """
SELECT p_brand, p_type, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_size BETWEEN 10 AND 40
GROUP BY 1, 2
ORDER BY supplier_cnt DESC, p_brand, p_type
"""


# --- Q20 flavor: suppliers with heavy shipments of PROMO parts --------------


def q20_promo_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who shipped more than 45 units of any PROMO-type part in
    1996 — the Q20 nested-IN shape as two semi-join hops: qualifying
    (supplier, part) aggregates → distinct suppliers → supplier detail."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = load_table(spark, sf_dir, "supplier")
    heavy = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("qty"))
        .filter(F.col("qty") > 45)
    )
    return (
        s.join(heavy.select("l_suppkey").distinct(), s.s_suppkey == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


ORACLE_Q20 = """
SELECT s_suppkey, s_name FROM supplier
WHERE s_suppkey IN (
    SELECT l_suppkey FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_type = 'PROMO'
      AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l_suppkey, l_partkey
    HAVING sum(l_quantity) > 45
)
ORDER BY s_suppkey
"""


TPCH_QUERIES.update(
    {
        "case_q12_priority_shipping": q12_priority_shipping,
        "view_q15_top_supplier": q15_top_supplier,
        "distinct_q16_supplier_breadth": q16_parts_supplier_breadth,
        "nestedin_q20_promo_part_suppliers": q20_promo_part_suppliers,
    }
)

TPCH_ORACLE.update(
    {
        "case_q12_priority_shipping": ORACLE_Q12,
        "view_q15_top_supplier": ORACLE_Q15,
        "distinct_q16_supplier_breadth": ORACLE_Q16,
        "nestedin_q20_promo_part_suppliers": ORACLE_Q20,
    }
)


# --- Q2 flavor: correlated min subquery + multi-join lookup -----------------


def q2_min_price_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2's operator shape without partsupp: for each part TYPE, the parts
    priced at that type's minimum retail price, and every supplier that
    shipped them. The correlated MIN subquery becomes a tiny per-type agg
    (bounded by #distinct types) broadcast back onto part — in-plan, no
    driver round-trip; supplier lookup rides the one lineitem shuffle."""
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    minp = p.groupBy("p_type").agg(F.min("p_retailprice").alias("mp"))
    cheap = (
        p.join(F.broadcast(minp), "p_type")
        .filter(F.col("p_retailprice") == F.col("mp"))
        .select("p_partkey", "p_type", "p_retailprice")
    )
    sup = li.select("l_partkey", "l_suppkey").distinct().join(
        cheap, F.col("l_partkey") == F.col("p_partkey")
    )
    return (
        sup.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_type",
            F.col("p_retailprice").alias("min_price"),
        )
        .orderBy(F.col("s_acctbal").desc(), "s_name", "p_partkey")
        .limit(100)
    )


ORACLE_Q2 = """
WITH minp AS (SELECT p_type, min(p_retailprice) AS mp FROM part GROUP BY p_type),
cheap AS (
    SELECT p_partkey, p.p_type, p_retailprice
    FROM part p JOIN minp ON p.p_type = minp.p_type AND p_retailprice = mp
),
sup AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
SELECT s_acctbal, s_name, n_name, p_partkey, p_type, p_retailprice AS min_price
FROM sup
JOIN cheap ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
ORDER BY s_acctbal DESC, s_name, p_partkey
LIMIT 100
"""


# --- Q11 flavor: group share vs in-plan global-total scalar subquery --------


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11's HAVING > scalar-subquery shape: parts whose revenue exceeds
    1.5x the mean per-part revenue (SF-invariant head, unlike a fixed
    corpus fraction). The threshold derives from an exact DECIMAL sum and
    an integer count, so the comparison inputs are bit-identical across
    engines; the 1-row scalar is broadcast (crossJoin), never collected."""
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(_sum_rev_exact("value"))
    cut = per_part.agg(
        (
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
            * F.lit(1.5)
            / F.count(F.lit(1))
        ).alias("cut")
    )
    return (
        per_part.crossJoin(F.broadcast(cut))
        .filter(F.col("value") > F.col("cut"))
        .select("l_partkey", "value")
        .orderBy(F.col("value").desc(), "l_partkey")
    )


ORACLE_Q11 = """
WITH per AS (
    SELECT l_partkey,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS value
    FROM lineitem GROUP BY l_partkey
),
tot AS (
    SELECT CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) * 1.5 / count(*) AS cut
    FROM per
)
SELECT l_partkey, value FROM per, tot WHERE value > cut
ORDER BY value DESC, l_partkey
"""


# --- Q13 flavor: outer-join count distribution (double aggregation) ---------


def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13's shape: customer LEFT JOIN filtered orders, per-customer order
    count INCLUDING zero, then the distribution of counts. The order-side
    filter stays on the build input (not a post-join WHERE, which would
    break outer semantics); two aggregations, the second over #distinct
    counts (tiny)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "5-LOW")
    per = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


ORACLE_Q13 = """
SELECT c_count, count(*) AS custdist FROM (
    SELECT c_custkey, count(o_orderkey) AS c_count
    FROM customer LEFT JOIN orders
      ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
    GROUP BY c_custkey
) t
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# --- Q21 flavor: self semi + anti join (EXISTS other / NOT EXISTS other) ----


def q21_sole_returned_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21's double-correlated shape on available columns: suppliers whose
    line in a multi-supplier order was returned while NO other supplier's
    line in that order was. EXISTS(other supplier) == left-semi self-join;
    NOT EXISTS(other returned) == left-anti self-join — both on the order
    key, no distinct-then-join, no row explosion."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    ret = li.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_suppkey").distinct()
    allsup = li.select("l_orderkey", "l_suppkey").distinct()
    cand = ret.alias("l1").join(
        allsup.alias("l2"),
        (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
        "left_semi",
    )
    cand = cand.alias("c").join(
        ret.alias("l3"),
        (F.col("c.l_orderkey") == F.col("l3.l_orderkey"))
        & (F.col("c.l_suppkey") != F.col("l3.l_suppkey")),
        "left_anti",
    )
    return (
        cand.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", "n_name", "numwait")
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


ORACLE_Q21 = """
WITH ret AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem WHERE l_returnflag = 'R'),
allsup AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
cand AS (
    SELECT l1.l_orderkey, l1.l_suppkey FROM ret l1
    WHERE EXISTS (
        SELECT 1 FROM allsup l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
    )
    AND NOT EXISTS (
        SELECT 1 FROM ret l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
    )
)
SELECT s_name, n_name, count(*) AS numwait
FROM cand JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY s_name, n_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


TPCH_QUERIES.update(
    {
        "corrmin_q2_min_price_supplier": q2_min_price_supplier,
        "share_q11_important_parts": q11_important_parts,
        "outeragg_q13_order_count_distribution": q13_order_count_distribution,
        "selfjoin_q21_sole_returned_suppliers": q21_sole_returned_suppliers,
    }
)

TPCH_ORACLE.update(
    {
        "corrmin_q2_min_price_supplier": ORACLE_Q2,
        "share_q11_important_parts": ORACLE_Q11,
        "outeragg_q13_order_count_distribution": ORACLE_Q13,
        "selfjoin_q21_sole_returned_suppliers": ORACLE_Q21,
    }
)
