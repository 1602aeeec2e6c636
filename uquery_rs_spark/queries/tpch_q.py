"""TPC-H completion corpus: the 12 query shapes not already covered by
relational.py, which holds q1/q2/q3/q5/q6/q10/q14/q16/q18/q22 (q2, q6,
q16, q18 and q22 as SQL text; q1/q3/q5/q10/q14 as plan-pinned DataFrame
code).

Each is a SQL-text entry (registry.register_sql): the SAME SQL text runs
through the gateway rewriter on Spark and verbatim on the DuckDB oracle.
The one exception is q21, whose ``sql=`` is an equivalent single-
aggregation plan that its EXISTS-form oracle pins. The dialect-neutral
TPC-H subset is the strongest end-to-end proof that Catalyst's plans
(join reordering, decorrelation, partial aggregation) reproduce the
reference's delegated semantics (reference pass-through:
src/core/duckdb.rs:87-88).

The driver testdata is TPC-H-ISH (TESTDATA.md): no partsupp table, and
lineitem/orders/part carry a reduced column set (no commitdate/
receiptdate/shipmode/shipinstruct/container/comment/address). Queries
marked "-shaped" keep the reference query's PLAN SHAPE (join graph,
subquery structure, aggregation pattern) with predicates adapted to the
columns and value distributions that exist (nations are NATION_<k>,
dates span 1995-2001).

Conventions (see registry.py): float aggregates round(2)+ on both sides;
date comparisons use bare string literals — they implicit-cast to the
column's type in both engines (timestamp_ntz in Spark, naive TIMESTAMP
in DuckDB), keeping the comparison timezone-free.
"""

from __future__ import annotations

from .registry import register_sql

_TAGS = ("tpch", "relational")

register_sql(
    "q4_order_priority",
    tags=_TAGS,
    doc="TPC-H Q4-shaped (late-line test -> discount>tax: no commit/receipt "
    "dates in testdata): correlated EXISTS -> Catalyst left-semi join.",
    oracle="""
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_discount > l_tax)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)

register_sql(
    "q7_volume_shipping",
    tags=_TAGS,
    doc="TPC-H Q7: 6-way join with OR'd nation-pair filter; broadcast dims.",
    oracle="""
SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         year(l_shipdate) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
       JOIN orders ON o_orderkey = l_orderkey
       JOIN customer ON c_custkey = o_custkey
       JOIN nation n1 ON s_nationkey = n1.n_nationkey
       JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate >= '1996-01-01' AND l_shipdate <= '1997-12-31'
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
""",
)

register_sql(
    "q8_market_share",
    tags=_TAGS,
    doc="TPC-H Q8: national market share — 8-way join, conditional agg ratio.",
    oracle="""
SELECT o_year,
       round(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
             / sum(volume), 4) AS mkt_share
FROM (
  SELECT year(o_orderdate) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS nation
  FROM part JOIN lineitem ON p_partkey = l_partkey
       JOIN supplier ON s_suppkey = l_suppkey
       JOIN orders ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
       JOIN nation n1 ON c_nationkey = n1.n_nationkey
       JOIN region ON n1.n_regionkey = r_regionkey
       JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'AMERICA'
    AND o_orderdate >= '1996-01-01' AND o_orderdate <= '1997-12-31'
    AND p_type = 'ECONOMY'
) all_nations
GROUP BY o_year
ORDER BY o_year
""",
    bench=True,
)

register_sql(
    "q9_product_type_profit",
    tags=_TAGS,
    doc="TPC-H Q9-shaped (no partsupp: supplycost -> 0.8*p_retailprice): "
    "profit by nation/year over a 5-way join.",
    oracle="""
SELECT nation, o_year, round(sum(amount), 2) AS sum_profit
FROM (
  SELECT n_name AS nation, year(o_orderdate) AS o_year,
         l_extendedprice * (1 - l_discount) - 0.8 * p_retailprice * l_quantity AS amount
  FROM part JOIN lineitem ON p_partkey = l_partkey
       JOIN supplier ON s_suppkey = l_suppkey
       JOIN orders ON o_orderkey = l_orderkey
       JOIN nation ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%red%'
) profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
""",
)

register_sql(
    "q11_important_stock",
    tags=_TAGS,
    doc="TPC-H Q11-shaped (no partsupp: stock value -> lineitem value): "
    "HAVING against an uncorrelated scalar-subquery fraction of total.",
    oracle="""
SELECT l_partkey, round(sum(l_extendedprice * l_quantity), 2) AS value
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
     JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_7'
GROUP BY l_partkey
HAVING sum(l_extendedprice * l_quantity) > (
  SELECT sum(l_extendedprice * l_quantity) * 0.001
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
       JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_7')
ORDER BY value DESC, l_partkey
""",
)

register_sql(
    "q12_shipmode_priority",
    tags=_TAGS,
    doc="TPC-H Q12-shaped (shipmode -> returnflag; late test -> shipped after "
    "order date): conditional counts over a date-bracketed join.",
    oracle="""
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
            AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
            AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_returnflag IN ('R', 'A')
  AND l_shipdate > o_orderdate
  AND l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)

register_sql(
    "q13_customer_distribution",
    tags=_TAGS,
    doc="TPC-H Q13-shaped (comment filter -> priority filter): left join with "
    "join-condition filter, double aggregation.",
    oracle="""
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority NOT LIKE '%URGENT%'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
)

register_sql(
    "q15_top_supplier",
    tags=_TAGS,
    doc="TPC-H Q15: CTE reused in join + scalar-subquery max.",
    oracle="""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         sum(l_extendedprice * (1 - l_discount)) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, round(total_revenue, 2) AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey
""",
)

register_sql(
    "q17_small_quantity_revenue",
    tags=_TAGS,
    doc="TPC-H Q17-shaped (container -> type; 0.2 -> 0.5 so the synthetic "
    "uniform quantities qualify): correlated scalar average per part — "
    "Catalyst decorrelates.",
    oracle="""
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#12' AND p_type = 'MEDIUM'
  AND l_quantity < (SELECT 0.5 * avg(l_quantity)
                    FROM lineitem WHERE l_partkey = p_partkey)
""",
)

register_sql(
    "q19_discounted_revenue",
    tags=_TAGS,
    doc="TPC-H Q19-shaped (container/shipmode brackets -> size/discount "
    "brackets): OR-of-AND predicates evaluated inside one join.",
    oracle="""
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND l_quantity >= 1 AND l_quantity <= 11
       AND p_size BETWEEN 1 AND 5 AND l_discount >= 0.02)
   OR (p_brand = 'Brand#23' AND l_quantity >= 10 AND l_quantity <= 20
       AND p_size BETWEEN 1 AND 10 AND l_discount >= 0.04)
   OR (p_brand = 'Brand#34' AND l_quantity >= 20 AND l_quantity <= 30
       AND p_size BETWEEN 1 AND 15 AND l_discount >= 0.06)
""",
)

register_sql(
    "q20_potential_promotion",
    tags=_TAGS,
    doc="TPC-H Q20-shaped (no partsupp: availqty gate -> shipped-quantity "
    "HAVING): nested IN chains with a scalar-subquery threshold.",
    oracle="""
SELECT s_suppkey, s_name
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_4'
  AND s_suppkey IN (
    SELECT l_suppkey FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
      AND l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
    GROUP BY l_suppkey
    HAVING sum(l_quantity) > (SELECT 0.0005 * sum(l_quantity) FROM lineitem
                              WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01')
  )
ORDER BY s_suppkey
""",
)

# q21: the Spark side runs a single-aggregation rewrite — one
# per-orderkey min/max rollup replaces BOTH correlated self-joins —
# while the ORACLE keeps the reference's EXISTS + NOT EXISTS form, so
# the driver hash pins the rewrite's equivalence every round.
# Derivation: for a qualifying l1 row (its supplier is "late" by l1's
# own predicate),
#   EXISTS(other supplier)          ⇔ |distinct suppkey| >= 2
#                                   ⇔ min(suppkey) <> max(suppkey);
#   NOT EXISTS(other late supplier) ⇔ the late-supplier set is exactly
#     {l1.suppkey} ⇔ min(late suppkey) = max(late suppkey)
#     (l1's own supplier is in the late set, so one distinct = his).
# min/max was chosen over count(DISTINCT)/pair-groupBy deliberately:
# partial aggregation collapses lineitem to ~#orders rows MAP-SIDE, so
# the one remaining shuffle carries four ints per order instead of the
# full fact table (A/B at sf0.1: minmax 0.73 s vs pair-groupBy 1.53 s
# vs EXISTS-pair 0.82 s best-of-6 under identical load) — the plan
# that survives 100×, where the old semi+anti pair shuffled lineitem
# three times. (r12 verdict #3 — q21 regressed 0.70 → 1.005 s and was
# the only expensive query whose plan was not the one you'd want.)
_Q21_ORACLE_SQL = """
SELECT s_name, count(*) AS numwait
FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
     JOIN orders ON o_orderkey = l1.l_orderkey
     JOIN nation ON s_nationkey = n_nationkey
WHERE o_orderstatus = 'F' AND l1.l_discount > l1.l_tax
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_discount > l3.l_tax)
  AND n_name = 'NATION_9'
GROUP BY s_name
ORDER BY numwait DESC, s_name
"""

_Q21_SPARK_SQL = """
SELECT s_name, count(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
JOIN nation ON s_nationkey = n_nationkey
JOIN (
  SELECT l_orderkey,
         min(l_suppkey) AS s_min, max(l_suppkey) AS s_max,
         min(CASE WHEN l_discount > l_tax THEN l_suppkey END) AS ls_min,
         max(CASE WHEN l_discount > l_tax THEN l_suppkey END) AS ls_max
  FROM lineitem GROUP BY l_orderkey
) agg ON agg.l_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F' AND l1.l_discount > l1.l_tax
  AND n_name = 'NATION_9'
  AND agg.s_min <> agg.s_max AND agg.ls_min = agg.ls_max
GROUP BY s_name
ORDER BY numwait DESC, s_name
"""


register_sql(
    "q21_suppliers_kept_waiting",
    tags=_TAGS,
    doc="""TPC-H Q21-shaped (late test -> discount>tax). Spark runs the
    single-aggregation rewrite (_Q21_SPARK_SQL note); the oracle keeps
    the EXISTS + NOT EXISTS self-correlations, pinning equivalence.""",
    oracle=_Q21_ORACLE_SQL,
    sql=_Q21_SPARK_SQL,
    bench=True,
)
