"""Core relational-algebra query corpus (SURVEY.md §2.B.2-§2.B.6).

TPC-H-shaped analytics adapted to the driver's synthetic star schema
(TESTDATA.md). Most entries are SQL text: the DuckDB oracle text itself is
served through the gateway rewriter, exactly as a client's query would be.
The reference engine delegates this entire surface to DuckDB wholesale
(reference: src/core/duckdb.rs:87-88). Five entries stay PySpark DataFrame
code because tests/test_plans.py pins their physical plans: the bench
queries q1/q3/q5/q10 and q14.

Determinism rules: see registry module docstring. ORDER BY only matters for
LIMIT queries (hash is order-insensitive) — those always carry a unique-key
tiebreaker on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import load_tables, register, register_sql


# ---------------------------------------------------------------------------
# Aggregation over a filtered scan — the flagship (TPC-H Q1 shape).
# ---------------------------------------------------------------------------
@register(
    "q1_pricing_summary",
    bench=True,
    tags=("agg", "filter", "sort"),
    oracle="""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                        AS sum_qty,
       round(sum(l_extendedprice), 2)                                   AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
       round(avg(l_quantity), 4)                                        AS avg_qty,
       round(avg(l_extendedprice), 2)                                   AS avg_price,
       round(avg(l_discount), 4)                                        AS avg_disc,
       count(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    """Scan → pushed filter → partial+final hash agg → sort.

    Scale: the filter and the 7-column projection push into the parquet
    scan; aggregation is map-side partial, so shuffle volume is
    O(groups × partitions), not O(rows).
    """
    li = load_tables(spark, sf)["lineitem"]
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# Multi-way join + agg + top-k (TPC-H Q3 shape).
# ---------------------------------------------------------------------------
@register(
    "q3_shipping_priority",
    bench=True,
    tags=("join", "agg", "topk"),
    oracle="""
SELECT l_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       o_orderdate
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-06-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1997-06-15 00:00:00'
GROUP BY l_orderkey, o_orderdate
ORDER BY sum(l_extendedprice * (1 - l_discount)) DESC, l_orderkey
LIMIT 10
""",
)
def q3_shipping_priority(spark: SparkSession, sf: str) -> DataFrame:
    """customer ⋈ orders ⋈ lineitem, filtered, top-10 by revenue.

    Scale: customer (filtered on segment) is the small side — Spark
    broadcasts it into the orders scan; only the orders⋈lineitem equi-join
    shuffles, on the join key. Top-10 is TakeOrderedAndProject (no global
    sort materialization).
    """
    t = load_tables(spark, sf)
    cutoff = F.lit("1997-06-15 00:00:00").cast("timestamp_ntz")
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING")
    ords = t["orders"].filter(F.col("o_orderdate") < cutoff)
    li = t["lineitem"].filter(F.col("l_shipdate") > cutoff)
    joined = (
        F.broadcast(cust)
        .join(ords, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
    )
    return (
        joined.groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("_rev"))
        .orderBy(F.col("_rev").desc(), "l_orderkey")
        .limit(10)
        .select("l_orderkey", F.round("_rev", 2).alias("revenue"), "o_orderdate")
    )


# ---------------------------------------------------------------------------
# Six-way join over the full star (TPC-H Q5 shape).
# ---------------------------------------------------------------------------
@register(
    "q5_local_supplier_volume",
    bench=True,
    tags=("join", "agg"),
    oracle="""
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
ORDER BY n_name
""",
)
def q5_local_supplier_volume(spark: SparkSession, sf: str) -> DataFrame:
    """Full-star 6-way join; dims broadcast, facts shuffle once each.

    Scale: region/nation/supplier/customer are dimensions → broadcast
    joins (no shuffle); only orders⋈lineitem is a shuffle join. Catalyst
    + AQE pick this automatically given the size stats; the explicit
    broadcast hints pin the dims.
    """
    t = load_tables(spark, sf)
    dims = (
        t["region"].filter(F.col("r_name") == "ASIA")
        .join(t["nation"], F.col("n_regionkey") == F.col("r_regionkey"))
        .join(t["supplier"], F.col("s_nationkey") == F.col("n_nationkey"))
    )
    ords = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
    )
    joined = (
        t["customer"]
        .join(ords, F.col("c_custkey") == F.col("o_custkey"))
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(dims),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
    )
    return (
        joined.groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# Pure filter + scalar aggregate (TPC-H Q6 shape).
# ---------------------------------------------------------------------------
register_sql(
    "q6_forecast_revenue",
    tags=("filter", "agg"),
    doc="""Tight conjunctive predicate, fully pushed to parquet row groups.""",
    oracle="""
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)


# ---------------------------------------------------------------------------
# Join + group on customer with top-k (TPC-H Q10 shape).
# ---------------------------------------------------------------------------
@register(
    "q10_returned_items",
    bench=True,
    tags=("join", "agg", "topk"),
    oracle="""
SELECT c_custkey, c_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       n_name
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-10-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY sum(l_extendedprice * (1 - l_discount)) DESC, c_custkey
LIMIT 20
""",
)
def q10_returned_items(spark: SparkSession, sf: str) -> DataFrame:
    """Fact-first with aggregate pushdown (round-10 100x probe): the
    two FACT tables join and pre-aggregate to one revenue row per
    customer key BEFORE any dimension joins — c_name and n_name are
    functionally dependent on c_custkey, so grouping by the key alone
    is exact. The former shape joined customer into the fact stream
    first, dragging c_name through the big shuffle and (at scaled
    data whose dimension file zstd-compresses under the broadcast
    threshold) building a multi-million-row broadcast; this shape
    ships #active-customers rows into the dimension joins instead —
    measured 2x faster at 100x sf0.1 and shuffle volume ∝ customers,
    not lineitems, at 100 TB."""
    t = load_tables(spark, sf)
    ords = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-10-01 00:00:00").cast("timestamp_ntz"))
    )
    li = t["lineitem"].filter(F.col("l_returnflag") == "R")
    pre = (
        li.join(ords, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("_rev"))
    )
    return (
        pre.join(t["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .orderBy(F.col("_rev").desc(), "c_custkey")
        .limit(20)
        .select("c_custkey", "c_name", F.round("_rev", 2).alias("revenue"), "n_name")
    )


# ---------------------------------------------------------------------------
# Window functions: ranking, top-k per group.
# ---------------------------------------------------------------------------
register_sql(
    "topk_parts_per_brand",
    tags=("window", "topk"),
    doc="""Top-3 priciest parts per brand — window row_number + filter.

    Scale: one shuffle on p_brand; Spark's WindowGroupLimit pushes the
    rank-filter below the sort so each partition keeps only 3 rows.
    """,
    oracle="""
SELECT p_brand, p_partkey, p_name, p_retailprice, rk
FROM (
  SELECT p_brand, p_partkey, p_name, p_retailprice,
         row_number() OVER (PARTITION BY p_brand
                            ORDER BY p_retailprice DESC, p_partkey) AS rk
  FROM part
) t
WHERE rk <= 3
ORDER BY p_brand, rk
""",
)


register_sql(
    "window_analytics_orders",
    tags=("window",),
    doc="""The full analytic-window battery over per-customer order history.

    ntile/cume_dist/rank use deterministic orderings (unique tiebreak, or
    rounded values) so both engines agree on ties.
    """,
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice,
       row_number()   OVER w                                           AS rn,
       rank()         OVER (PARTITION BY o_custkey ORDER BY round(o_totalprice, 2)) AS rnk,
       dense_rank()   OVER (PARTITION BY o_custkey ORDER BY round(o_totalprice, 2)) AS drnk,
       ntile(4)       OVER w                                           AS quartile,
       round(lag(o_totalprice)  OVER w, 2)                             AS prev_price,
       round(lead(o_totalprice) OVER w, 2)                             AS next_price,
       round(sum(o_totalprice)  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend,
       round(avg(o_totalprice)  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 3) AS moving_avg3,
       round(cume_dist() OVER w, 4)                                    AS cd
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
)


# ---------------------------------------------------------------------------
# Semi / anti joins (EXISTS / NOT EXISTS).
# ---------------------------------------------------------------------------
register_sql(
    "semi_join_active_customers",
    tags=("join",),
    doc="""Left-semi join (EXISTS): customers with a >100k order, by nation.""",
    oracle="""
SELECT n_name, count(*) AS n_customers, round(sum(c_acctbal), 2) AS total_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 100000)
GROUP BY n_name
ORDER BY n_name
""",
)


register_sql(
    "anti_join_idle_customers",
    tags=("join",),
    doc="""Left-anti join (NOT EXISTS): customers with no orders at all.""",
    oracle="""
SELECT c_mktsegment, count(*) AS n_idle
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)


# ---------------------------------------------------------------------------
# Outer joins.
# ---------------------------------------------------------------------------
register_sql(
    "left_join_customer_order_counts",
    tags=("join", "agg"),
    doc="""Left outer join preserving order-less customers (count=0, spend=0).""",
    oracle="""
SELECT c_custkey,
       count(o_orderkey)                      AS n_orders,
       round(coalesce(sum(o_totalprice), 0), 2) AS spend
FROM customer
LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey
ORDER BY c_custkey
""",
)


register_sql(
    "full_outer_nation_presence",
    tags=("join",),
    doc="""Full outer join of per-nation customer and supplier counts.""",
    oracle="""
WITH cust_n AS (SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer GROUP BY 1),
     supp_n AS (SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier GROUP BY 1)
SELECT coalesce(cust_n.nk, supp_n.nk) AS nationkey,
       coalesce(n_cust, 0) AS n_cust,
       coalesce(n_supp, 0) AS n_supp
FROM cust_n FULL OUTER JOIN supp_n ON cust_n.nk = supp_n.nk
ORDER BY nationkey
""",
)


register_sql(
    "cross_join_region_status",
    tags=("join",),
    doc="""Cartesian product of two tiny inputs (broadcast nested loop).""",
    oracle="""
SELECT r_name, s.o_orderstatus AS orderstatus
FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
ORDER BY r_name, orderstatus
""",
)


# ---------------------------------------------------------------------------
# Non-equi (range) join.
# ---------------------------------------------------------------------------
register_sql(
    "range_join_size_buckets",
    tags=("join", "non-equi"),
    doc="""Theta-join against an inline VALUES bucket table (BETWEEN predicate).

    Scale: the bucket side is tiny → broadcast nested-loop join; the fact
    side streams through without a shuffle.
    """,
    oracle="""
SELECT b.bucket, count(*) AS n_parts, round(avg(p_retailprice), 2) AS avg_price
FROM part p
JOIN (VALUES ('small', 0, 16), ('medium', 17, 33), ('large', 34, 50))
     b(bucket, lo, hi)
  ON p.p_size BETWEEN b.lo AND b.hi
GROUP BY b.bucket
ORDER BY b.bucket
""",
)


# ---------------------------------------------------------------------------
# Subqueries: scalar, correlated.
# ---------------------------------------------------------------------------
register_sql(
    "scalar_subquery_above_avg_balance",
    tags=("subquery",),
    doc="""Uncorrelated scalar subquery in a predicate (cross-join of one value).""",
    oracle="""
SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
ORDER BY c_custkey
""",
)


register_sql(
    "correlated_subquery_above_cust_avg",
    tags=("subquery",),
    doc="""Correlated scalar subquery, decorrelated to an agg + equi-join.""",
    oracle="""
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS totalprice
FROM orders o
WHERE o_totalprice > 1.5 * (SELECT avg(o2.o_totalprice)
                            FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
ORDER BY o_orderkey
""",
)


# ---------------------------------------------------------------------------
# CTE (TPC-H Q15 shape: argmax via CTE reuse).
# ---------------------------------------------------------------------------
register_sql(
    "cte_top_supplier_revenue",
    tags=("cte", "subquery"),
    doc="""CTE referenced twice (once for max) — argmax-by-join pattern.""",
    oracle="""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         sum(l_extendedprice * (1 - l_discount)) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, round(total_revenue, 2) AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey
""",
)


# ---------------------------------------------------------------------------
# Set operations.
# ---------------------------------------------------------------------------
register_sql(
    "set_ops_nation_membership",
    tags=("setops",),
    doc="""INTERSECT / EXCEPT / UNION ALL composition over nation keys.""",
    oracle="""
SELECT 'both' AS which, nk FROM (
  SELECT c_nationkey AS nk FROM customer
  INTERSECT
  SELECT s_nationkey FROM supplier
)
UNION ALL
SELECT 'customer_only' AS which, nk FROM (
  SELECT c_nationkey AS nk FROM customer
  EXCEPT
  SELECT s_nationkey FROM supplier
)
ORDER BY which, nk
""",
)


register_sql(
    "union_all_price_tiers",
    tags=("setops",),
    oracle="""
SELECT tier, count(*) AS n FROM (
  SELECT 'high' AS tier FROM orders WHERE o_totalprice >= 200000
  UNION ALL
  SELECT 'mid'  AS tier FROM orders WHERE o_totalprice >= 50000 AND o_totalprice < 200000
  UNION ALL
  SELECT 'low'  AS tier FROM orders WHERE o_totalprice < 50000
) GROUP BY tier ORDER BY tier
""",
)


# ---------------------------------------------------------------------------
# DISTINCT / LIMIT / OFFSET.
# ---------------------------------------------------------------------------
register_sql(
    "distinct_order_priorities",
    tags=("distinct",),
    oracle="SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders ORDER BY o_orderstatus, o_orderpriority",
)


register_sql(
    "limit_offset_pagination",
    tags=("sort", "limit"),
    doc="""ORDER BY + LIMIT/OFFSET pagination (Spark 3.4+ native offset).""",
    oracle="""
SELECT c_custkey, c_name FROM customer ORDER BY c_custkey LIMIT 10 OFFSET 20
""",
)


# ---------------------------------------------------------------------------
# GROUPING SETS / ROLLUP / CUBE.
# ---------------------------------------------------------------------------
register_sql(
    "rollup_order_status_priority",
    tags=("agg", "rollup"),
    doc="""ROLLUP hierarchy with grouping() indicator columns.""",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       grouping(o_orderstatus)   AS g_status,
       grouping(o_orderpriority) AS g_priority,
       count(*)                  AS n,
       round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY g_status, g_priority, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
""",
)


register_sql(
    "cube_returnflag_linestatus",
    tags=("agg", "cube"),
    oracle="""
SELECT l_returnflag, l_linestatus,
       grouping(l_returnflag) AS g_rf, grouping(l_linestatus) AS g_ls,
       round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
""",
)


# ---------------------------------------------------------------------------
# PIVOT (conditional aggregation).
# ---------------------------------------------------------------------------
register_sql(
    "pivot_status_by_priority",
    tags=("agg", "pivot"),
    doc="""Status × priority pivot as FILTER'd aggregates — the relational
    meaning of PIVOT — so column names line up exactly.""",
    oracle="""
SELECT o_orderpriority,
       count(*) FILTER (WHERE o_orderstatus = 'O') AS status_O,
       count(*) FILTER (WHERE o_orderstatus = 'F') AS status_F,
       count(*) FILTER (WHERE o_orderstatus = 'P') AS status_P
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
)


# ---------------------------------------------------------------------------
# FILTER-clause aggregates + conditional expressions.
# ---------------------------------------------------------------------------
register_sql(
    "filtered_aggregates",
    tags=("agg",),
    oracle="""
SELECT l_returnflag,
       count(*)                                             AS n_all,
       count(*) FILTER (WHERE l_discount > 0.05)            AS n_discounted,
       round(sum(l_quantity) FILTER (WHERE l_tax > 0.04), 2) AS taxed_qty,
       round(avg(CASE WHEN l_quantity > 25 THEN l_extendedprice END), 2) AS avg_bulk_price
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
)


# ---------------------------------------------------------------------------
# Statistical aggregates.
# ---------------------------------------------------------------------------
register_sql(
    "stats_aggregates_prices",
    tags=("agg", "stats"),
    doc="""stddev/variance/median/min/max + COUNT DISTINCT per group.

    Round-13 version-skew sweep: the oracle computes the median by
    explicit DOUBLE-space order statistics ((lower-half max +
    upper-half min)/2) instead of calling median() — DuckDB 1.0.0's
    DECIMAL median truncates the interpolated value to the input
    scale (probed), newer binaries may not, and the explicit form
    matches Spark's exact-percentile path on any oracle version.
    stddev_samp/var_samp stay: the sample estimators are
    standard-defined and the inputs keep ~12 digits of headroom
    inside the rounding.""",
    oracle="""
WITH r1 AS (
  SELECT o_orderstatus, o_totalprice, o_custkey,
         CAST(o_totalprice AS DOUBLE) AS xd,
         row_number() OVER (PARTITION BY o_orderstatus
                            ORDER BY CAST(o_totalprice AS DOUBLE)) AS rn,
         count(*)    OVER (PARTITION BY o_orderstatus) AS n
  FROM orders
)
SELECT o_orderstatus,
       round(stddev_samp(o_totalprice), 2) AS sd_price,
       round(var_samp(o_totalprice), 0)    AS var_price,
       round((max(xd) FILTER (rn * 2 <= n + 1)
              + min(xd) FILTER (rn * 2 >= n + 1)) / 2, 2) AS median_price,
       round(min(o_totalprice), 2)         AS min_price,
       round(max(o_totalprice), 2)         AS max_price,
       count(DISTINCT o_custkey)           AS n_customers
FROM r1 GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
)


register_sql(
    "approx_distinct_parts",
    tags=("agg", "approx"),
    doc="""Distinct-part count in the hash-checkable approx shape: the exact
    count(DISTINCT) plus a ``within_bound`` column that the oracle pins
    TRUE.""",
    oracle="""
SELECT count(DISTINCT l_partkey) AS exact_parts,
       TRUE                      AS within_bound
FROM lineitem
""",
)


# ---------------------------------------------------------------------------
# Ordered list aggregation (string_agg / array_agg).
# ---------------------------------------------------------------------------
register_sql(
    "listagg_nations_per_region",
    tags=("agg", "list"),
    doc="""Ordered string_agg of nation names per region.""",
    oracle="""
SELECT r_name,
       string_agg(n_name, ',' ORDER BY n_name) AS nations,
       count(*) AS n_nations
FROM region JOIN nation ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name
""",
)


# ---------------------------------------------------------------------------
# Inline VALUES + expression evaluation (CASE / CAST / COALESCE).
# ---------------------------------------------------------------------------
register_sql(
    "values_inline_table",
    tags=("values", "expr"),
    doc="""Inline VALUES table + CASE/CAST/COALESCE expression battery
    (reference exercises VALUES at src/main.rs:152).""",
    oracle="""
SELECT x, y,
       CASE WHEN x % 2 = 0 THEN 'even' ELSE 'odd' END AS parity,
       CAST(x AS DOUBLE) / 2                          AS half,
       coalesce(y, 'missing')                          AS y_filled
FROM (VALUES (1, 'a'), (2, NULL), (3, 'c'), (4, 'd')) t(x, y)
ORDER BY x
""",
)


# ---------------------------------------------------------------------------
# TPC-H Q2 shape: correlated scalar-min subquery (decorrelated by Catalyst).
# ---------------------------------------------------------------------------
register_sql(
    "q2_min_balance_supplier",
    tags=("subquery", "join"),
    doc="""Per-nation minimum via correlated scalar subquery (TPC-H Q2 shape),
    served through the rewriter like a client's query.

    Scale: Catalyst decorrelates into an aggregate + join on s_nationkey —
    one shuffle, no per-row re-execution.
    """,
    oracle="""
SELECT s_suppkey, s_name, n_name, round(s_acctbal, 2) AS s_acctbal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE s_acctbal = (SELECT min(s2.s_acctbal) FROM supplier s2
                   WHERE s2.s_nationkey = supplier.s_nationkey)
ORDER BY s_suppkey
""",
)


# ---------------------------------------------------------------------------
# TPC-H Q14 shape: conditional aggregation ratio.
# ---------------------------------------------------------------------------
@register(
    "q14_promo_revenue_ratio",
    tags=("agg", "join", "conditional"),
    oracle="""
SELECT round(100.0 * sum(CASE WHEN p_type LIKE 'PROMO%'
                              THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'
""",
)
def q14_promo_revenue_ratio(spark: SparkSession, sf: str) -> DataFrame:
    """Promo-revenue percentage (TPC-H Q14 shape): conditional agg over a
    date-bounded scan.

    Scale: part is the dimension side — broadcast; the lineitem date filter
    pushes to parquet so only one month of rows is scanned.
    """
    t = load_tables(spark, sf)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-10-01 00:00:00").cast("timestamp_ntz"))
    )
    return (
        li.join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type").like("PROMO%"), rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_revenue_pct")
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q16 shape: distinct agg + NOT IN.
# ---------------------------------------------------------------------------
register_sql(
    "q16_supplier_count_by_part",
    tags=("agg", "distinct", "not-in"),
    doc="""Distinct-supplier counts per brand/size with NOT IN exclusion
    (TPC-H Q16 shape).""",
    oracle="""
SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM part JOIN lineitem ON p_partkey = l_partkey
WHERE p_brand NOT IN ('Brand#1', 'Brand#2') AND p_size IN (1, 2, 3, 4, 5)
GROUP BY p_brand, p_size
ORDER BY supplier_cnt DESC, p_brand, p_size
""",
)


# ---------------------------------------------------------------------------
# TPC-H Q18 shape: HAVING over a join + IN-subquery.
# ---------------------------------------------------------------------------
register_sql(
    "q18_large_volume_orders",
    tags=("agg", "having", "subquery"),
    doc="""Orders whose total quantity exceeds 150 (TPC-H Q18 shape):
    IN-subquery → left-semi join, then enrich + re-aggregate.

    Scale: the HAVING aggregate runs once over lineitem (map-side partial),
    and its small output semi-joins back — no correlated re-scan.
    """,
    oracle="""
SELECT c_name, o_orderkey, round(o_totalprice, 2) AS o_totalprice,
       round(sum(l_quantity), 2) AS total_qty
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                     GROUP BY l_orderkey HAVING sum(l_quantity) > 150)
GROUP BY c_name, o_orderkey, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
""",
)


# ---------------------------------------------------------------------------
# TPC-H Q22 shape: NOT EXISTS anti-join + scalar avg subquery.
# ---------------------------------------------------------------------------
register_sql(
    "q22_idle_rich_customers",
    tags=("subquery", "anti-join", "agg"),
    doc="""Above-average-balance customers with no 1998 orders (TPC-H Q22
    shape): scalar subquery + NOT EXISTS → anti-join. Served through the
    rewriter, which averages c_acctbal as DOUBLE like DuckDB.""",
    oracle="""
SELECT c_mktsegment, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
