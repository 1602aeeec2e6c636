"""Dialect-breadth corpus: QUALIFY, LATERAL, GROUPING SETS, recursive CTE,
USING/NATURAL join, positional join, bag set ops (SURVEY.md §2.B.2-§2.B.6).

These are DuckDB-dialect forms the reference admits wholesale through its
pass-through (reference: src/core/duckdb.rs:87-88). Most entries are SQL
text (registry.register_sql): the DuckDB text runs through the gateway
rewriter exactly as a client's query would, which passes the forms
Spark shares (recursive CTE, grouping sets, USING) through and
translates the rest (QUALIFY, DISTINCT ON, batteries of DuckDB
functions). An entry's ``sql=`` is the gateway text when it differs
from the oracle: the batteries' oracles restate the same values
version-portably (see the _B32_ORACLE_SQL and _B40S_* notes), so the
DuckDB idiom stays in the served text.

The rest are code: a row_number zip where Spark lacks the operator
entirely (DuckDB POSITIONAL JOIN), DataFrame forms (salted and planned
joins), the multi-statement prepared statement lifecycle, and entries
whose oracle text the gateway cannot serve yet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .registry import gateway_sql, load_tables, register, register_sql


register_sql(
    "len_slice_map_edge_battery",
    tags=("dialect", "battery"),
    doc="""Round-3 dialect edges: polymorphic len(), negative slice ends,
    subscripted non-literal-key MAP literals, * REPLACE over them.
    Through the rewriter (NOTES §1 round-3 closures): len() resolves per
    argument type via a LIMIT-0 probe; slice bounds accept negative ends
    (count from the last element) and clamp inverted ranges to []; MAP
    literals with computed keys admit subscripts of any key type and
    return DuckDB's single-element list (so the [2][1] unwrap chain is
    the IDENTICAL SQL on both engines); * REPLACE swaps an expression
    over the probed column list.""",
    oracle="""
SELECT doc_id,
       len(text)                                        AS text_chars,
       len(string_split(text, ' '))                     AS n_words,
       array_to_string(string_split(text, ' ')[2:-1], '|')  AS mid_words,
       array_to_string(string_split(text, ' ')[-3:-2], '|') AS tail_words,
       len(string_split(text, ' ')[4:2])                AS empty_slice_len,
       MAP {doc_id % 2 + 1: 'lo', doc_id % 2 + 3: 'hi'}[2][1] AS mk,
       round(n_chars / 100, 1)                          AS hecto_chars
FROM documents
WHERE doc_id <= 200
ORDER BY doc_id
""",
    sql="""
SELECT * REPLACE (round(hecto_chars, 1) AS hecto_chars)
FROM (
  SELECT doc_id,
         len(text)                                        AS text_chars,
         len(string_split(text, ' '))                     AS n_words,
         array_to_string(string_split(text, ' ')[2:-1], '|')  AS mid_words,
         array_to_string(string_split(text, ' ')[-3:-2], '|') AS tail_words,
         len(string_split(text, ' ')[4:2])                AS empty_slice_len,
         MAP {doc_id % 2 + 1: 'lo', doc_id % 2 + 3: 'hi'}[2][1] AS mk,
         n_chars / 100                                    AS hecto_chars
  FROM documents
  WHERE doc_id <= 200
)
ORDER BY doc_id
""",
)


register_sql(
    "qualify_top_orders_per_cust",
    tags=("window", "qualify", "dialect"),
    doc="""DuckDB QUALIFY through the SqlRewriter (Spark has no QUALIFY: it
    becomes a filtered subquery; reference admits it via the dialect
    pass-through). Top-2 orders per customer by price.""",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice
FROM orders
QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) <= 2
ORDER BY o_custkey, o_orderkey
""",
)


register_sql(
    "lateral_top_order_per_customer",
    tags=("join", "lateral", "dialect"),
    doc="""Correlated LATERAL subquery (top-1 order per customer). The
    rewriter passes the LATERAL through (it only spells out DuckDB's
    NULLS LAST ordering default); Catalyst decorrelates it into a window
    plan rather than executing per-row.

    Scale: post-decorrelation this is one shuffle on o_custkey — no
    nested-loop re-execution per customer row.
    """,
    oracle="""
SELECT c_custkey, l.o_orderkey, l.o_totalprice
FROM customer c, LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 1
) l
ORDER BY c_custkey
""",
)


register_sql(
    "grouping_sets_revenue",
    tags=("agg", "grouping-sets", "dialect"),
    doc="""Explicit GROUPING SETS with grouping() indicators, passed through
    the rewriter unchanged apart from the NULLS LAST ordering default —
    one shuffle produces all three aggregation granularities (Spark
    expands sets map-side, same as DuckDB).""",
    oracle="""
SELECT l_returnflag, l_linestatus,
       grouping(l_returnflag)  AS g_rf,
       grouping(l_linestatus)  AS g_ls,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
""",
)


register_sql(
    "recursive_cte_monthly_orders",
    tags=("cte", "recursive", "dialect"),
    doc="""WITH RECURSIVE month generator left-joined to orders. The
    rewriter passes the UNION ALL recursion through; Spark 4 runs it
    natively (UnionLoop iterates on the driver plan; the per-iteration
    work is distributed).""",
    oracle="""
WITH RECURSIVE m(n) AS (SELECT 1 UNION ALL SELECT n + 1 FROM m WHERE n < 12)
SELECT n AS mon, count(o_orderkey) AS n_orders
FROM m LEFT JOIN orders ON month(o_orderdate) = n
GROUP BY n
ORDER BY n
""",
)


register_sql(
    "using_join_nation_region",
    tags=("join", "using", "dialect"),
    doc="""JOIN ... USING (col) — the shared column is emitted once; Spark and
    DuckDB agree on USING semantics (coalesced key, no duplicate column),
    so the rewriter passes the join through.""",
    oracle="""
SELECT n_name, r_name
FROM (SELECT n_name, n_regionkey AS regionkey FROM nation)
JOIN (SELECT r_regionkey AS regionkey, r_name FROM region) USING (regionkey)
ORDER BY n_name
""",
)


@register(
    "positional_join_rank_zip",
    tags=("join", "positional", "dialect"),
    oracle="""
SELECT a.rich_customer, b.rich_supplier FROM
  (SELECT c_name AS rich_customer FROM customer ORDER BY c_acctbal DESC, c_custkey LIMIT 10) a
POSITIONAL JOIN
  (SELECT s_name AS rich_supplier FROM supplier ORDER BY s_acctbal DESC, s_suppkey LIMIT 10) b
""",
)
def positional_join_rank_zip(spark: SparkSession, sf: str) -> DataFrame:
    """DuckDB POSITIONAL JOIN re-expressed as a row_number zip — Spark has
    no positional operator, so each side is ranked by its defining order
    and equi-joined on the rank.

    Scale: both sides here are top-k (TakeOrderedAndProject, tiny), so the
    zip join broadcasts. For full-table positional zips, zipWithIndex-style
    monotonically increasing ids per partition + a repartition on block id
    would replace the global row_number.
    """
    t = load_tables(spark, sf)
    a = (
        t["customer"]
        .orderBy(F.col("c_acctbal").desc(), "c_custkey")
        .limit(10)
        .select(
            F.col("c_name").alias("rich_customer"),
            F.row_number()
            .over(W.orderBy(F.col("c_acctbal").desc(), "c_custkey"))
            .alias("pos"),
        )
    )
    b = (
        t["supplier"]
        .orderBy(F.col("s_acctbal").desc(), "s_suppkey")
        .limit(10)
        .select(
            F.col("s_name").alias("rich_supplier"),
            F.row_number()
            .over(W.orderBy(F.col("s_acctbal").desc(), "s_suppkey"))
            .alias("pos"),
        )
    )
    return a.join(F.broadcast(b), "pos").select("rich_customer", "rich_supplier")


register_sql(
    "intersect_all_priorities",
    tags=("setops", "bag", "dialect"),
    doc="""Bag-semantics INTERSECT ALL (multiplicity = min of the two sides) —
    native in both engines.""",
    oracle="""
SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
INTERSECT ALL
SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
""",
)


register_sql(
    "except_all_priorities",
    tags=("setops", "bag", "dialect"),
    doc="""Bag-semantics EXCEPT ALL (multiplicity = left minus right, floored
    at zero) — native in both engines.""",
    oracle="""
SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
EXCEPT ALL
SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'P'
""",
)


@register(
    "salted_join_order_counts",
    tags=("join", "skew", "scale"),
    oracle="""
SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def salted_join_order_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Skew-resilient join via explicit key salting (operators/skew.py):
    the probe side spreads each join key over 16 salt buckets, the build
    side replicates 16x, so a power-law hot key can't pin a whole task.
    Results are identical to the plain join (the oracle runs the unsalted
    SQL). AQE skew-join handles the common case at runtime; salting is the
    explicit fallback for aggregate hot keys and beyond-memory keys.
    """
    from ..operators.skew import salted_join

    t = load_tables(spark, sf)
    joined = salted_join(
        t["orders"].withColumnRenamed("o_custkey", "custkey"),
        t["customer"].withColumnRenamed("c_custkey", "custkey"),
        on="custkey",
        salt=16,
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("c_mktsegment")
    )


register_sql(
    "distinct_on_latest_order",
    tags=("dialect", "distinct-on"),
    doc="""DuckDB/Postgres DISTINCT ON → row_number window via the rewriter
    (rewrite.py::_rewrite_distinct_on); the oracle runs the identical SQL.
    Deterministic because the ORDER BY is a total order per key.""",
    oracle="""
SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_orderdate
FROM orders WHERE o_custkey <= 300
ORDER BY o_custkey, o_orderdate DESC, o_orderkey
""",
)


register_sql(
    "int_div_price_buckets",
    tags=("dialect", "int-div"),
    doc="""DuckDB `//` (truncating int division) → Spark `div` via the
    rewriter. floor-then-cast on both sides because bare CAST(double AS
    BIGINT) ROUNDS in DuckDB but TRUNCATES in Spark — a documented
    deviation this query deliberately sidesteps.""",
    oracle="""
SELECT CAST(floor(o_totalprice) AS BIGINT) // 10000 AS bucket,
       count(*) AS n
FROM orders GROUP BY 1 ORDER BY 1
""",
)


@register(
    "dialect_edge_cases",
    tags=("dialect", "edge"),
    oracle="""
SELECT p_partkey,
       array_to_string(l[2:4], ',')   AS slice_mid,
       array_to_string(l[-2:], ',')   AS slice_tail,
       array_to_string(l[:3], ',')    AS slice_head,
       l[0]                           AS idx_zero,
       l[-1]                          AS idx_neg,
       l[9]                           AS idx_oob,
       CAST(CAST(p_partkey AS HUGEINT) * 9223372036854775807 % 1000003 AS BIGINT)
                                      AS hugeint_mod,
       p_size // 7                    AS size_div7,
       '5' = 5                        AS implicit_eq,
       CAST(p_size + 1 AS VARCHAR) = p_size AS implicit_ne
FROM (SELECT p_partkey, p_size, [p_partkey, CAST(p_size AS BIGINT), 30, 40, 50] AS l
      FROM part WHERE p_partkey <= 200)
ORDER BY p_partkey
""",
)
def dialect_edge_cases(spark: SparkSession, sf: str) -> DataFrame:
    """Adversarial dialect battery (NOTES.md #3): 1-based inclusive list
    slicing incl. negative bounds, zero/out-of-range indexing (NULL, not
    error — try_element_at), negative indexing, hugeint arithmetic mapped
    to Decimal(38,0), `//` division, implicit string/number comparisons.
    Slices are serialized with array_to_string/array_join (non-empty by
    construction — DuckDB returns NULL for an empty list where Spark
    returns ''): registry convention, no array-typed result columns.
    """
    part = load_tables(spark, sf)["part"].filter(F.col("p_partkey") <= 200)
    l = F.array(
        F.col("p_partkey"),
        F.col("p_size").cast("long"),
        F.lit(30).cast("long"),
        F.lit(40).cast("long"),
        F.lit(50).cast("long"),
    )
    big = F.lit(9223372036854775807).cast("decimal(38,0)")
    return (
        part.select("p_partkey", "p_size", l.alias("l"))
        .select(
            "p_partkey",
            F.array_join(F.slice("l", 2, 3).cast("array<string>"), ",").alias("slice_mid"),
            F.array_join(F.slice("l", -2, 2).cast("array<string>"), ",").alias("slice_tail"),
            F.array_join(F.slice("l", 1, 3).cast("array<string>"), ",").alias("slice_head"),
            # 1-based l[i] maps uniformly to 0-based get(l, i-1); i=0 gives
            # get(-1) → NULL, exactly DuckDB's l[0] (try_element_at still
            # rejects index 0 outright).
            F.get("l", F.lit(-1)).alias("idx_zero"),
            F.element_at("l", -1).alias("idx_neg"),
            F.try_element_at("l", F.lit(9)).alias("idx_oob"),
            F.pmod(F.col("p_partkey").cast("decimal(38,0)") * big, F.lit(1000003))
            .cast("long")
            .alias("hugeint_mod"),
            F.expr("p_size div 7").alias("size_div7"),
            (F.lit("5") == F.lit(5)).alias("implicit_eq"),
            ((F.col("p_size") + 1).cast("string") == F.col("p_size")).alias("implicit_ne"),
        )
        .orderBy("p_partkey")
    )


@register(
    "planned_join_segment_revenue",
    tags=("join", "skew", "scale"),
    oracle="""
SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderstatus = 'O'
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def planned_join_segment_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """Adaptive skew-planned join (operators/skew.py::plan_join): one
    narrow sampling job estimates the probe side's hottest-key share and
    picks plain vs salted; either path is row-identical to the plain
    join, which is what the oracle runs. On this uniform key the planner
    chooses the plain join and Catalyst/AQE do the rest."""
    from ..operators.skew import plan_join

    t = load_tables(spark, sf)
    joined = plan_join(
        t["orders"].filter(F.col("o_orderstatus") == "O").withColumnRenamed("o_custkey", "custkey"),
        t["customer"].withColumnRenamed("c_custkey", "custkey"),
        on="custkey",
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("c_mktsegment")
    )


register_sql(
    "sample_rows_count",
    tags=("dialect", "sample"),
    doc="""DuckDB USING SAMPLE n ROWS → Spark TABLESAMPLE (n ROWS) via the
    rewriter. The sampled row SET differs between engines (different
    reservoirs), so the oracle checks the deterministic properties: exact
    row count and distinctness of the sampled keys.""",
    oracle="""
SELECT count(*) AS n, count(DISTINCT o_orderkey) AS n_distinct
FROM (SELECT * FROM orders USING SAMPLE 500 ROWS) t
""",
)


register_sql(
    "select_exclude_group_by_all",
    tags=("dialect", "sugar"),
    doc="""DuckDB query-sugar trio in one statement: * EXCLUDE (rewritten to
    Spark's * EXCEPT), GROUP BY ALL and ORDER BY ALL (native in both
    engines). Same SQL text runs on both sides via the rewriter.""",
    oracle="""
SELECT * EXCLUDE (o_orderstatus)
FROM (
  SELECT o_orderstatus, o_orderpriority,
         count(*) AS n, round(sum(o_totalprice), 2) AS total
  FROM orders
  WHERE o_orderstatus = 'F'
  GROUP BY ALL
)
ORDER BY ALL
""",
)


register_sql(
    "ignore_nulls_window_battery",
    tags=("window", "dialect"),
    doc="""IGNORE NULLS analytic functions (gap-fill primitives — the same
    machinery as the AS-OF join's last-non-null): forward-fill via
    last_value over a trailing frame, backward peek via first_value over a
    leading frame, previous-non-null via lag, over a named WINDOW
    clause.""",
    oracle="""
SELECT o_orderkey,
       last_value(hi_price IGNORE NULLS) OVER w  AS last_hi,
       first_value(hi_price IGNORE NULLS) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                                                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                                                 AS next_hi,
       lag(hi_price IGNORE NULLS) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS prev_hi
FROM (SELECT o_orderkey, o_custkey,
             CASE WHEN o_totalprice > 150000 THEN round(o_totalprice, 2) END AS hi_price
      FROM orders WHERE o_custkey <= 200)
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY o_orderkey
""",
)


register_sql(
    "bracket_syntax_battery",
    tags=("dialect", "list", "edge"),
    doc="""DuckDB bracket syntax end-to-end through the rewriter
    (rewrite.py::_rewrite_bracket_syntax): list literals → array(),
    1-based indexing → get/element_at, inclusive slicing → slice, list
    comprehension with IF → transform(filter(...)). Identical SQL text
    runs verbatim on the DuckDB oracle. Array outputs are serialized via
    array_to_string (→ array_join) — registry convention: no array-typed
    result columns (both sublists are non-empty by construction: 30/40
    always survive the x > 10 filter).""",
    oracle="""
SELECT p_partkey,
       l[2]                            AS second,
       l[-1]                           AS last_elem,
       array_to_string(l[2:3], ',')    AS mid,
       array_to_string([x * 2 FOR x IN l IF x > 10], ',') AS big_doubled
FROM (SELECT p_partkey, [p_partkey, CAST(p_size AS BIGINT), 30, 40] AS l
      FROM part WHERE p_partkey <= 200)
ORDER BY p_partkey
""",
)


register_sql(
    "function_rename_battery",
    tags=("dialect", "functions"),
    doc="""DuckDB function names through the rename layer
    (rewrite.py::_translate_function_names): list_* → transform/filter/
    array_*, string_split → split with the literal separator regex-
    escaped, array_to_string → array_join, regexp_matches → regexp_like
    (both partial-match), list_position → array_position (both return 0
    when missing). list_distinct is UNORDERED in DuckDB but order-
    preserving in Spark — the battery sorts after distinct. List outputs
    are serialized via array_to_string (registry convention: no
    array-typed result columns). Identical SQL runs verbatim on DuckDB.""",
    oracle="""
SELECT p_partkey,
       array_to_string(list_sort(list_distinct(list_transform(string_split(p_name, ' '), w -> upper(w)))), '|') AS words_up,
       list_contains(string_split(p_name, ' '), 'red')  AS has_red,
       array_to_string(list_sort(string_split(p_name, ' ')), '|') AS sorted_words,
       array_to_string(string_split(p_name, ' '), '_')  AS joined,
       list_position(string_split(p_name, ' '), 'widget') AS widget_pos,
       regexp_matches(p_name, 'red|blue')               AS colored
FROM part WHERE p_partkey <= 200
ORDER BY p_partkey
""",
)


register_sql(
    "series_struct_pack_battery",
    tags=("dialect", "functions", "generator"),
    doc="""Sequence generation + struct construction through the rewriter:
    FROM-position generate_series (table function, one row per value) →
    exploded sequence subquery; scalar generate_series → sequence()
    (inclusive bounds in both engines); struct_pack(k := v) →
    named_struct (fields projected scalar — corpus convention keeps
    whole structs out of result schemas; the sequence column is
    serialized via array_to_string for the same reason). Identical SQL
    runs verbatim on DuckDB.""",
    oracle="""
SELECT n,
       info.sq  AS sq,
       info.lbl AS lbl,
       array_to_string(generate_series(1, n), ',') AS upto
FROM (SELECT g AS n,
             struct_pack(sq := g * g, lbl := 'n' || CAST(g AS STRING)) AS info
      FROM (SELECT generate_series AS g FROM generate_series(1, 20)))
ORDER BY n
""",
)


register_sql(
    "dialect_gap_battery",
    tags=("dialect", "functions", "edge"),
    doc="""Round-5 dialect gap-hunt closures, end-to-end through the
    rewriter: list_aggregate (sum/avg/count), list_reduce (first-element
    fold), list_slice (inclusive bounds), scalar range (EXCLUSIVE stop —
    vs generate_series's inclusive), fmt-brace format() →
    format_string, 3-arg date_diff with DuckDB's boundary-crossing
    semantics (month AND day units over a spread of dates), and bare
    struct literals → named_struct with scalar field projection.
    Identical SQL runs verbatim on DuckDB; array outputs serialized per
    registry convention.""",
    oracle="""
SELECT p_partkey,
       CAST(list_aggregate(l, 'sum') AS BIGINT)   AS l_sum,
       round(list_aggregate(l, 'avg'), 4)         AS l_avg,
       list_aggregate(l, 'count')                 AS l_cnt,
       list_reduce(l, (a, b) -> a + b)            AS l_fold,
       array_to_string(list_slice(l, 2, 3), ',')  AS l_mid,
       array_to_string(range(0, p_size % 5 + 2), ',') AS upto,
       format('{}#{}', p_partkey, p_size)         AS tag,
       date_diff('month', DATE '1995-01-15', d)   AS months_since,
       date_diff('day', DATE '1995-01-15', d)     AS days_since,
       {'pk': p_partkey, 'sz': p_size}.pk         AS s_pk
FROM (SELECT p_partkey, p_size,
             [p_partkey, CAST(p_size AS BIGINT), 30] AS l,
             DATE '1995-01-15' + CAST(p_partkey % 900 AS INT) AS d
      FROM part WHERE p_partkey <= 200)
ORDER BY p_partkey
""",
)


register_sql(
    "dialect_gap_battery2",
    tags=("dialect", "functions", "aggregate", "datetime"),
    # Round-13 version-skew sweep: the oracle no longer calls
    # quantile_cont / quantile_disc — DuckDB 1.0.0 quantizes DECIMAL
    # quantiles by truncating the interpolation to the input scale
    # (probed), a behavior newer binaries may change. med_cont is
    # explicit order statistics ((lo+hi)/2 over DOUBLE), q25_disc is
    # the value at rank max(1, ceil(q·n)) — selection only, stays
    # DECIMAL-exact. dayname/editdist3/epoch_ms/time_bucket stay:
    # calendar arithmetic and definition-exact distances.
    doc="""Sweep batch 2 through the rewriter: arg_max/arg_min → max_by/
    min_by, quantile_cont/disc → ordered-set percentiles, product →
    sign/zero-aware log-space fold (rounded — ~1e-15 relative error),
    epoch_ms → unix_millis, time_bucket → epoch-aligned floor, dayname
    → full-name date_format (Spark's own returns 'Mon'), editdist3 →
    levenshtein, bare VARCHAR casts → STRING. Identical SQL verbatim on
    DuckDB.""",
    oracle="""
WITH r1 AS (
  SELECT o_orderpriority, o_orderkey, o_totalprice, o_orderdate,
         CAST(o_totalprice AS DOUBLE) AS xd,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice) AS rn,
         count(*)    OVER (PARTITION BY o_orderpriority) AS n
  FROM orders
)
SELECT o_orderpriority,
       arg_max(o_orderkey, o_totalprice)                    AS priciest_order,
       arg_min(o_orderkey, o_totalprice)                    AS cheapest_order,
       round((max(xd) FILTER (rn * 2 <= n + 1)
              + min(xd) FILTER (rn * 2 >= n + 1)) / 2, 2)   AS med_cont,
       max(o_totalprice) FILTER (
         rn = greatest(1, CAST(ceil(0.25 * n) AS BIGINT)))  AS q25_disc,
       round(product(CASE WHEN o_orderkey % 997 = 0 THEN 2.0 ELSE 1.0 END), 2)
                                                            AS pow2_997s,
       CAST(min(epoch_ms(CAST(o_orderdate AS TIMESTAMP))) AS BIGINT) AS first_ms,
       min(time_bucket(INTERVAL 6 HOUR, CAST(o_orderdate AS TIMESTAMP))) AS first_bucket,
       min(dayname(o_orderdate))                            AS first_dayname,
       min(editdist3(o_orderpriority, 'URGENT'))            AS min_edit,
       CAST(max(o_orderkey) AS VARCHAR)                     AS max_key_str
FROM r1
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    sql="SELECT o_orderpriority, "
    "arg_max(o_orderkey, o_totalprice) AS priciest_order, "
    "arg_min(o_orderkey, o_totalprice) AS cheapest_order, "
    "round(quantile_cont(o_totalprice, 0.5), 2) AS med_cont, "
    "quantile_disc(o_totalprice, 0.25) AS q25_disc, "
    "round(product(CASE WHEN o_orderkey % 997 = 0 THEN 2.0 ELSE 1.0 END), 2) AS pow2_997s, "
    "CAST(min(epoch_ms(CAST(o_orderdate AS TIMESTAMP))) AS BIGINT) AS first_ms, "
    "min(time_bucket(INTERVAL 6 HOUR, CAST(o_orderdate AS TIMESTAMP))) AS first_bucket, "
    "min(dayname(o_orderdate)) AS first_dayname, "
    "min(editdist3(o_orderpriority, 'URGENT')) AS min_edit, "
    "CAST(max(o_orderkey) AS VARCHAR) AS max_key_str "
    "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority",
)


register_sql(
    "dialect_gap_battery3",
    tags=("dialect", "json", "datetime"),
    doc="""Sweep batch 4 through the rewriter: json_extract → to_json ∘
    variant_get ∘ parse_json (EXACT DuckDB semantics incl. JSON string
    quoting), json_extract_string / ->> → get_json_object, json_valid →
    try_parse_json, ISO-week family (isodow Mon=1..Sun=7, yearweek on
    the ISO year, century), to_hours interval constructor →
    make_interval. Identical SQL verbatim on DuckDB over the events
    props JSON column.""",
    oracle="""
SELECT event_id,
       json_extract(props, '$.plan')              AS plan_json,
       json_extract_string(props, '$.plan')       AS plan_text,
       props->>'plan'                             AS plan_arrow,
       json_valid(props)                          AS is_valid,
       isodow(CAST(ts AS DATE))                   AS iso_dow,
       yearweek(CAST(ts AS DATE))                 AS yw,
       century(CAST(ts AS DATE))                  AS cen,
       CAST(ts AS TIMESTAMP) + to_hours(2)        AS shifted
FROM events
WHERE event_id <= 300
ORDER BY event_id
""",
)


register_sql(
    "asof_join_sql_form",
    tags=("dialect", "asof", "join"),
    doc="""The literal DuckDB ``ASOF JOIN`` SQL syntax through the gateway
    (rewrite.py::_rewrite_asof_join): earliest shipment at/after each
    order's date — forward-direction as-of, one equality key. The
    rewriter emits the same union + windowed first-non-null shape as
    operators/asof.py (struct-per-right-row matching, tie ordering by
    strictness). Projection keeps only tie-invariant columns
    (l_shipdate is identical across tied lineitems, so arbitrary tie
    winners can't flip the hash); IDENTICAL SQL runs verbatim on
    DuckDB's native ASOF JOIN.""",
    oracle="""
SELECT o_orderkey, o_orderdate, l_shipdate AS first_ship
FROM orders ASOF JOIN lineitem
  ON o_orderkey = l_orderkey AND o_orderdate <= l_shipdate
WHERE o_orderkey <= 2000
ORDER BY o_orderkey
""",
)


register_sql(
    "dialect_gap_battery4",
    tags=("dialect", "battery", "window"),
    doc="""Sweep batch 7, window corners (r5 verdict item #1): frame
    EXCLUDE CURRENT ROW for sum/avg/count/count(*) (→ frame aggregate
    minus the current row's contribution, NULL on an empty exclusion
    frame), EXCLUDE NO OTHERS (→ stripped, the default), the
    named-window EXTENSION form ``OVER (w ORDER BY …)`` (→ spec
    inlined; Spark rejects it natively), and — the silent-wrong-answer
    find of this batch — ORDER BY null placement: Spark's ASC default
    is NULLS FIRST, DuckDB's is NULLS LAST, so every ASC key gets an
    explicit NULLS LAST (first_p pins it via the NULL-bearing p
    column). IDENTICAL SQL verbatim on DuckDB.""",
    oracle="""
SELECT o_orderkey,
       round(sum(p) OVER (PARTITION BY cust ORDER BY o_orderkey
         ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING EXCLUDE CURRENT ROW), 2) AS peer_sum,
       round(avg(p) OVER (PARTITION BY cust ORDER BY o_orderkey
         ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING EXCLUDE CURRENT ROW), 4) AS peer_avg,
       count(p) OVER (PARTITION BY cust ORDER BY o_orderkey
         ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW) AS peer_cnt,
       count(*) OVER (PARTITION BY cust ORDER BY o_orderkey
         ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW) AS peer_rows,
       round(sum(p) OVER (PARTITION BY cust ORDER BY o_orderkey
         ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE NO OTHERS), 2) AS incl_sum,
       round(first_value(p) OVER (PARTITION BY cust ORDER BY p, o_orderkey), 2) AS first_p,
       CAST(sum(o_orderkey) OVER (w ORDER BY o_orderkey) AS BIGINT) AS named_ext,
       count(*) FILTER (p > 150000) OVER (PARTITION BY cust ORDER BY o_orderkey) AS big_so_far
FROM (SELECT o_orderkey, o_custkey % 10 AS cust,
             CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_totalprice END AS p
      FROM orders WHERE o_orderkey <= 2000)
WINDOW w AS (PARTITION BY cust)
ORDER BY o_orderkey
""",
)


register_sql(
    "dialect_gap_battery5",
    tags=("dialect", "battery"),
    doc="""Sweep batch 7, function corners: list lambdas WITH index args
    (DuckDB's i is 1-based, Spark's 0-based — substituted (i+1)),
    hamming/mismatches (→ character zip_with; unequal lengths
    raise_error like DuckDB), to_base (→ conv, zero-padded 3-arg form,
    negative input raises), list-typed date_part (→ named_struct of
    scalar parts), map_from_entries with bare tuple literals (→
    struct(...) entries), and COLUMNS(c -> c LIKE …) lambda predicates
    (→ anchored-regex form of the existing COLUMNS machinery; DuckDB
    names fn(COLUMNS) outputs by the bare column name — matched).
    IDENTICAL SQL verbatim on DuckDB.""",
    oracle="""
SELECT doc_id,
       array_to_string(list_transform(string_split(text, ' ')[1:4],
         (w, i) -> concat(CAST(i AS VARCHAR), ':', substr(w, 1, 3))), '|') AS idx_words,
       array_to_string(list_filter(string_split(text, ' ')[1:6],
         (w, i) -> i % 2 = 1), '|') AS odd_words,
       hamming(substr(md5(text), 1, 8), substr(md5(lang), 1, 8)) AS ham,
       to_base(doc_id, 16) AS hexid,
       to_base(doc_id, 2, 12) AS binid,
       date_part(['year','month','day'], CAST('2024-01-01' AS DATE) + INTERVAL 1 DAY * (doc_id % 400)).month AS mth,
       array_to_string(map_values(map_from_entries([('id', doc_id % 10), ('len', n_chars % 10)])), ',') AS mvals,
       min(COLUMNS(c -> c LIKE 'n_%'))
FROM documents
WHERE doc_id <= 300
GROUP BY ALL
ORDER BY doc_id
""",
)


register_sql(
    "dialect_gap_battery6",
    tags=("dialect", "battery"),
    doc="""Sweep batch 8 — scalar-function semantics, pinned verbatim on
    both engines: concat skips NULLs and stringifies every argument
    (→ concat_ws + CAST); one-arg log is LOG10 in DuckDB but ln in
    Spark (→ log10 — a silent wrong answer for every bare log());
    substring's character-window rule for 0/negative starts (→ clipped
    window form; literal positive calls stay native); even (round away
    to even); fmod/fdiv are FLOORED (divisor-sign) where Spark's % is
    truncated (→ ((a%b)+b)%b); list_unique (distinct non-NULL count);
    format_bytes (binary-unit CASE); strpos → instr;
    array_to_string casts non-VARCHAR elements; isfinite arithmetic.""",
    oracle="""
SELECT doc_id,
       concat(lang, NULL, '-', source, '-', doc_id % 10) AS tagged,
       round(log(n_chars), 4) AS log10_chars,
       round(log(2, n_chars), 4) AS log2_chars,
       substring(text, 0, 12) AS zero_start,
       substring(text, -8, 12) AS tail_window,
       even(n_chars / 7.0) AS even_bucket,
       fmod(doc_id - 250, 7) AS floored_mod,
       fdiv(doc_id - 250, 7) AS floored_div,
       list_unique(string_split(text, ' ')) AS uniq_words,
       format_bytes(n_chars * 1024) AS pretty_size,
       strpos(text, 'data') AS data_pos,
       array_to_string(string_split(text, ' ')[1:3], '|') AS head_words,
       isfinite(n_chars * 1.0) AS finite
FROM documents
WHERE doc_id <= 300
ORDER BY doc_id
""",
)


register_sql(
    "dialect_gap_battery7",
    tags=("dialect", "battery", "aggregate"),
    # Round-13 version-skew sweep: the oracle no longer calls skewness/
    # kurtosis (estimator definitions are the volatile class that
    # burned b36_math in r11 and b40_liststats in r12) — it derives
    # both from raw moment sums with the G1/G2 sample corrections the
    # translation encodes (rewrite.py:5568-5577). geomean is likewise
    # stated as exp(avg(ln x)). favg/fsum stay: compensated summation
    # is semantics-pinned and more exact than any portable restatement
    # (a naive-sum oracle would drift ~1e-5 on a 1.2e8 total — inside
    # round(,2)'s tie band; Kahan is not).
    doc="""Sweep batch 9 — aggregate semantics, pinned verbatim on both
    engines: skewness/kurtosis are DuckDB's SAMPLE estimators (Spark's
    population g1/g2 corrected by the standard G1/G2 factors — a
    silent near-miss that round(4) only hides for large n);
    favg/fsum (Kahan) → avg/sum over DOUBLE; geomean →
    exp(avg(ln(x))); a no-op ORDER BY inside sum() is stripped;
    aggregate FILTER without the WHERE keyword gains it; any_value
    skips NULLs (echoed on the group key, where it is deterministic
    on both engines).""",
    oracle="""
WITH x AS (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         CAST(o_totalprice AS DOUBLE) AS xd
  FROM orders WHERE o_orderkey <= 4000
), g AS (
  SELECT o_orderpriority,
         CAST(count(*) AS DOUBLE)        AS n,
         sum(xd)                         AS s1,
         sum(xd * xd)                    AS s2,
         sum(xd * xd * xd)               AS s3,
         sum(xd * xd * xd * xd)          AS s4,
         round(favg(o_totalprice), 2)    AS favg_p,
         round(fsum(o_totalprice), 2)    AS fsum_p,
         round(exp(avg(ln(xd))), 2)      AS geo_p,
         CAST(sum(o_orderkey) AS BIGINT) AS sum_ordered,
         count(*) FILTER (o_totalprice > 100000) AS n_big,
         any_value(o_orderpriority)      AS prio_echo
  FROM x GROUP BY o_orderpriority
)
SELECT o_orderpriority,
       round((s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * pow(s1 / n, 3))
             / pow(greatest(s2 / n - (s1 / n) * (s1 / n), 0.0), 1.5)
             * sqrt(n * (n - 1)) / (n - 2), 4)              AS skew_p,
       round((n - 1) / ((n - 2) * (n - 3))
             * ((n + 1) * ((s4 / n - 4 * (s1 / n) * (s3 / n)
                            + 6 * pow(s1 / n, 2) * (s2 / n)
                            - 3 * pow(s1 / n, 4))
                           / pow(s2 / n - (s1 / n) * (s1 / n), 2)
                           - 3) + 6), 4)                    AS kurt_p,
       favg_p, fsum_p, geo_p, sum_ordered, n_big, prio_echo
FROM g ORDER BY o_orderpriority
""",
    sql="SELECT o_orderpriority, "
    "round(skewness(o_totalprice), 4) AS skew_p, "
    "round(kurtosis(o_totalprice), 4) AS kurt_p, "
    "round(favg(o_totalprice), 2) AS favg_p, "
    "round(fsum(o_totalprice), 2) AS fsum_p, "
    "round(geomean(o_totalprice), 2) AS geo_p, "
    "CAST(sum(o_orderkey ORDER BY o_orderkey) AS BIGINT) AS sum_ordered, "
    "count(*) FILTER (o_totalprice > 100000) AS n_big, "
    "any_value(o_orderpriority) AS prio_echo "
    "FROM orders WHERE o_orderkey <= 4000 "
    "GROUP BY o_orderpriority ORDER BY o_orderpriority",
)


register_sql(
    "dialect_gap_battery8",
    tags=("dialect", "battery", "datetime"),
    doc="""Sweep batch 10 — datetime corners, pinned verbatim on both
    engines: EXTRACT of DuckDB-specific fields (dow/epoch/
    milliseconds → function forms, then the epoch/ISO rewrites);
    the Sunday-0 dow family (Spark dayofweek is Sunday-1, weekday is
    Monday-0 — both silently wrong without the -1 mapping); julian
    (civil-midnight epoch-days); epoch_ns; date_sub complete-unit
    diffs with month-end clamping and toward-zero truncation
    (months_between / exact microsecond div — a bare CAST would get
    the DuckDB-cast ROUNDING treatment and be off by one on half the
    rows).""",
    oracle="""
SELECT event_id,
       EXTRACT(dow FROM CAST(ts AS DATE)) AS dw,
       dayofweek(CAST(ts AS DATE)) AS dw_fn,
       weekday(CAST(ts AS DATE)) AS wd,
       EXTRACT(epoch FROM CAST(ts AS TIMESTAMP)) AS ep,
       EXTRACT(milliseconds FROM CAST(ts AS TIMESTAMP)) AS ms,
       round(julian(CAST(ts AS DATE)), 1) AS jd,
       epoch_ns(CAST(ts AS TIMESTAMP)) AS ens,
       date_sub('month', DATE '2024-01-31', CAST(ts AS DATE)) AS months_since,
       date_sub('day', DATE '2024-01-01', CAST(ts AS DATE)) AS days_since
FROM events
WHERE event_id <= 300
ORDER BY event_id
""",
)


register_sql(
    "dialect_gap_battery9",
    tags=("dialect", "battery", "string"),
    doc="""Sweep batch 11 — string/list corners, pinned verbatim on both
    engines: left/right with NEGATIVE n (drop |n| chars from the other
    end — Spark returns ''), chr beyond codepoint 255 (Spark's char is
    mod-256; the rewriter UTF-8-encodes 2/3/4-byte sequences by hand —
    Greek and emoji planes covered), parse_filename, character-set
    jaccard, anchored regexp_full_match, and like_escape with an
    explicit escape character. Plus the 1-arg string_agg ','-default
    and group_concat (unit-tested; order-dependent, so not in the
    hash-compared battery).""",
    oracle="""
SELECT doc_id,
       left(text, -400) AS head_neg,
       right(text, -400) AS tail_neg,
       chr(CAST(65 + doc_id % 26 AS INT)) AS latin_c,
       chr(CAST(945 + doc_id % 24 AS INT)) AS greek_c,
       chr(CAST(128512 + doc_id % 16 AS INT)) AS emoji_c,
       parse_filename(concat('/corpus/', source, '/', doc_id, '.txt')) AS fname,
       round(jaccard(lang, source), 4) AS lang_src_jac,
       regexp_full_match(lang, '[a-z]+') AS lang_alpha,
       like_escape(source, '%$_%', '$') AS has_underscore
FROM documents
WHERE doc_id <= 300
ORDER BY doc_id
""",
)


register_sql(
    "dialect_gap_battery10",
    tags=("dialect", "battery", "operators"),
    doc="""Sweep batch 12 — operator symbols, pinned verbatim on both
    engines: ``^``/``**`` are POWER in DuckDB while Spark's ``^`` is
    XOR — 2^3 is 8 vs 1, the nastiest silent class of the round
    (operand-atomic extraction keeps DuckDB's precedence; the xor()
    FUNCTION still emits a genuine XOR); the ``~`` operator family →
    RLIKE/LIKE/ILIKE; ``<->``/``<=>`` array euclidean distance /
    cosine similarity → the batch-11 list-metric arithmetic;
    map_extract (single-element list, [] when missing), list_select,
    list_grade_up (stable argsort via struct array_sort).""",
    oracle="""
SELECT doc_id,
       round(n_chars ^ 0.5, 4) AS sqrt_chars,
       round(2 ** (doc_id % 10), 1) AS pow2,
       lang ~ '^[a-z]+$' AS lang_alpha,
       text ~~ '%data%' AS has_data,
       source ~~* 'WEB%' AS web_src,
       round([1.0, n_chars / 100.0] <-> [0.0, 0.0], 4) AS vec_norm,
       round([1.0, doc_id % 7 * 1.0] <=> [1.0, 1.0], 4) AS vec_cos,
       map_extract(MAP {'n': n_chars % 5}, 'n')[1] AS m_val,
       array_to_string(list_grade_up([n_chars % 7, doc_id % 5, 3]), ',') AS grade,
       array_to_string(list_select(string_split(text, ' '), [1, 3]), '|') AS pick
FROM documents
WHERE doc_id <= 300
ORDER BY doc_id
""",
)


register_sql(
    "asof_join_using_subquery",
    tags=("dialect", "asof", "join"),
    doc="""Round-6 ASOF extensions (r5 verdict item #3): the ``USING (k…, on)``
    clause — last USING column is the ``>=`` backward ordering key, join
    columns emitted once from the left side (DuckDB star shape) — and
    parenthesised SUBQUERY relations on BOTH sides
    (rewrite.py::_rewrite_asof_join, the backward/forward relation
    parser). Latest order at/before each shipment of the same orderkey;
    one order row per key makes the match tie-invariant. IDENTICAL SQL
    runs verbatim on DuckDB's native ASOF JOIN.""",
    oracle="""
SELECT k, d, l_linenumber, o_totalprice
FROM (SELECT l_orderkey AS k, l_shipdate AS d, l_linenumber FROM lineitem WHERE l_orderkey <= 2000) li
ASOF LEFT JOIN (SELECT o_orderkey AS k, o_orderdate AS d, o_totalprice FROM orders) od
USING (k, d)
ORDER BY k, d, l_linenumber
""",
)


register_sql(
    "asof_join_null_keys",
    tags=("dialect", "asof", "join"),
    doc="""ADVICE-r5 NULL-semantics fix pinned against DuckDB: right rows
    whose ordering key is NULL (every linenumber-1 shipment here) must
    never match — they are filtered out of the union's right branch
    before the window (rewrite.py::_rewrite_asof_join r_where), so
    ``first(...) IGNORE NULLS`` can't land on a NULL-keyed row that
    sorts first under ASC. ship == sd on every matchable row keeps the
    result tie-invariant. IDENTICAL SQL verbatim on both engines (left
    ordering keys are non-NULL in TPC-H, so DuckDB 1.0.0's keyed
    NULL-to-NULL quirk — documented deviation — is not in play).""",
    oracle="""
SELECT o_orderkey, o_orderdate, ship AS matched_ship
FROM orders ASOF LEFT JOIN
  (SELECT l_orderkey,
          CASE WHEN l_linenumber = 1 THEN NULL ELSE l_shipdate END AS sd,
          l_shipdate AS ship
   FROM lineitem) s
ON o_orderkey = s.l_orderkey AND o_orderdate <= s.sd
WHERE o_orderkey <= 2000
ORDER BY o_orderkey
""",
)


register_sql(
    "map_literal_ordered_agg",
    tags=("dialect", "map", "aggregate"),
    doc="""MAP literal syntax (→ map()) and DuckDB's in-args ORDER BY on
    string_agg (→ listagg WITHIN GROUP) through the rewriter. Since
    batch 23 the SQL runs VERBATIM on both engines: element_at is
    DuckDB's MAP accessor returning a single-element LIST (batch-23
    rename to the map_extract translation), unwrapped with [1] on both
    sides (the r6 sweep closed the old deviation where Spark's native
    element_at returned the bare value).""",
    oracle="""
SELECT r_name,
       string_agg(n_name, ',' ORDER BY n_name DESC) AS nations_desc,
       element_at(MAP {'region': r_name}, 'region')[1] AS region_echo
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
ORDER BY r_name
""",
)


register_sql(
    "star_replace_strftime",
    tags=("dialect", "sugar", "datetime"),
    doc="""* REPLACE (LIMIT-0 schema probe expands the star with the named
    column swapped) combined with strftime C-format translation
    (%d/%m/%Y → dd/MM/yyyy, mapped code-by-code — unknown codes raise
    rather than mistranslate). Identical SQL runs verbatim on DuckDB.""",
    oracle="""
SELECT * REPLACE (strftime(o_orderdate, '%d/%m/%Y') AS o_orderdate)
FROM (SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderkey <= 200)
ORDER BY o_orderkey
""",
)


register_sql(
    "pivot_statement_status",
    tags=("dialect", "pivot"),
    doc="""DuckDB's PIVOT STATEMENT form (auto-discovered pivot values) →
    Spark PIVOT clause with the value list filled in by a DISTINCT probe
    (rewrite.py::_rewrite_pivot_statement, bounded at 500 values).
    Identical SQL runs verbatim on DuckDB; column naming matches (bare
    value names for an unaliased aggregate).""",
    oracle="""
PIVOT orders ON o_orderstatus USING count(*) GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)


@register(
    "unpivot_statement_measures",
    tags=("dialect", "unpivot"),
    oracle="""
SELECT p_partkey, metric, round(val, 2) AS val FROM (
  UNPIVOT (SELECT p_partkey, p_retailprice, CAST(p_size AS DOUBLE) AS p_size_d
           FROM part WHERE p_partkey <= 100)
  ON p_retailprice, p_size_d INTO NAME metric VALUE val
)
ORDER BY p_partkey, metric
""",
)
def unpivot_statement_measures(spark: SparkSession, sf: str) -> DataFrame:
    """DuckDB's UNPIVOT statement form through the gateway rewriter
    (rewrite.py::_rewrite_unpivot_statement → Spark UNPIVOT clause).
    The Spark side runs the statement itself; DuckDB wraps it in a
    subquery for the rounding projection (statement-in-FROM nesting
    differs between engines)."""
    df = gateway_sql(
        spark,
        sf,
        "UNPIVOT (SELECT p_partkey, p_retailprice, CAST(p_size AS DOUBLE) AS p_size_d "
        "FROM part WHERE p_partkey <= 100) "
        "ON p_retailprice, p_size_d INTO NAME metric VALUE val",
    )
    return df.select("p_partkey", "metric", F.round("val", 2).alias("val")).orderBy(
        "p_partkey", "metric"
    )


register_sql(
    "union_by_name_priorities",
    tags=("dialect", "setops"),
    doc="""UNION ALL BY NAME (rewrite.py::_rewrite_union_by_name): columns
    align by NAME across differently-ordered select lists, missing
    columns fill with typed NULLs from LIMIT-0 probes. Identical SQL
    runs verbatim on DuckDB.""",
    oracle="""
SELECT o_orderpriority, count(*) AS n_open
FROM orders WHERE o_orderstatus = 'O' GROUP BY 1
UNION ALL BY NAME
SELECT count(*) AS n_closed, o_orderpriority
FROM orders WHERE o_orderstatus = 'F' GROUP BY 2
ORDER BY o_orderpriority, n_open NULLS FIRST
""",
)


register_sql(
    "from_first_syntax",
    tags=("dialect", "sugar"),
    doc="""DuckDB FROM-first syntax (rewrite.py::_rewrite_from_first): the
    post-SELECT WHERE/GROUP BY/ORDER BY clauses (DuckDB's accepted
    order) re-attach after the FROM part in conventional clause order.
    Identical SQL runs verbatim on DuckDB.""",
    oracle="""
FROM orders
SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS total
WHERE o_orderstatus = 'P'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)


register_sql(
    "columns_regex_battery",
    tags=("dialect", "sugar"),
    doc="""DuckDB COLUMNS('regex') (rewrite.py::_rewrite_columns_expr):
    matching columns expand from a LIMIT-0 probe — the pattern matches
    ANYWHERE in the name like DuckDB; a wrapping aggregate applies per
    column, aliased to the column name (max picks stored doubles, so the
    digest compares exactly without rounding). Identical SQL runs
    verbatim on DuckDB. Limitation: only a single wrapping function is
    expanded per column — deeper expressions around COLUMNS are not.""",
    oracle="""
SELECT c_mktsegment, max(COLUMNS('acctbal'))
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)


_REGEX_SORT_ESCAPE_SQL = r"""
SELECT p_partkey,
       regexp_replace(p_type, '(\w+)$', '[\1]', 'g')       AS bracketed_last,
       regexp_replace(p_type, '[aeiou]', '-')              AS devowel_first,
       regexp_replace(p_type, 'steel', '<\0>', 'i')        AS steel_marked,
       regexp_replace(p_type, '(\w+) (\w+)', '\2 \1')      AS swap_first_words,
       regexp_replace(p_type, 'S', '$')                    AS dollar_first,
       regexp_extract(p_type, '[A-Z]+')                    AS leading_word,
       array_to_string(list_sort(string_split(p_type, ' ')), '|')         AS words_sorted,
       array_to_string(list_sort(string_split(p_type, ' '), 'DESC'), '|') AS words_desc,
       array_to_string(list_reverse_sort(string_split(p_type, ' ')), '|') AS words_rev,
       array_to_string(string_split(p_type, ' ')[7:9], '|')               AS beyond_end
FROM part
WHERE p_partkey <= 300
ORDER BY p_partkey
"""


register_sql(
    "regex_sort_escape_battery",
    tags=("dialect", "battery", "regex"),
    doc="""Round-3 argument-semantics closures, through the rewriter on the
    IDENTICAL DuckDB SQL (rewrite.py::_normalize_literals,
    _translate_regexp_replace, _translate_regexp_extract, _translate_list_sort,
    _translate_array_to_string): escape-free literals survive Spark's
    parser ('\\w' stays backslash-w); regexp_replace replaces the FIRST
    match unless flagged 'g', folds RE2 flags into the pattern, and
    translates \\1/\\0 backrefs and literal '$' to Java replacement
    syntax; 2-arg regexp_extract pins DuckDB's whole-match default;
    list_sort maps to the Spark sort with the same NULL placement and
    accepts direction strings; array_to_string of an empty slice is NULL.
    Array results join to scalars per the corpus hashing convention.""",
    oracle=_REGEX_SORT_ESCAPE_SQL,
)


_E_LITERAL_SQL = r"""
SELECT n_nationkey,
       E'\x41\x42C'                    AS hex_esc,
       E'tab\there'                    AS tab_esc,
       E'\101\102\103'                 AS octal_esc,
       E'Aé世'      AS utf8_passthrough,
       E'keep''quote'                  AS quote_esc,
       E'\w\8'                         AS unknown_esc,
       n_name || E'\n' || n_name       AS multiline
FROM nation
ORDER BY n_nationkey
"""


register_sql(
    "escape_literal_battery",
    tags=("dialect", "edge"),
    doc="""PostgreSQL-style E'...' escape literals through the rewriter:
    \\xHH hex, octal, \\uXXXX, '' doubling, and unknown-escape
    backslash-dropping are DECODED at rewrite time and re-emitted in
    Spark escape space — Spark's parser never sees an escape it would
    mangle. The identical SQL runs verbatim on DuckDB.""",
    oracle=_E_LITERAL_SQL,
)


register_sql(
    "dialect_gap_battery11",
    tags=("dialect", "battery", "functions"),
    doc="""Sweep batch 15 — the former raise-only scalars, pinned verbatim
    on both engines: byte-based jaro/jaro-winkler/unrestricted
    damerau_levenshtein, strip_accents (NFD→drop-marks→NFC),
    nfc_normalize (combining acute recomposes), the parse_dir* path
    family (trailing-separator rules), md5_number halves
    (little-endian byte order; DECIMAL(20,0) → VARCHAR carries the
    UBIGINT digits), gamma/lgamma/nextafter. The UDF-backed names
    register lazily on the session at rewrite time
    (functions/parity_udfs.py), so the driver's plain session needs no
    engine setup. Round-13 version-skew sweep: the oracle no longer
    calls gamma (closed-form half-integer values via sqrt(pi)) or
    lgamma (integer domain, ln∘factorial identity — factorial is exact
    in HUGEINT), so a libm change in the oracle binary cannot move an
    expected value; jaro/damerau/md5/nextafter stay — their outputs
    are definition-exact, not estimator-dependent.""",
    oracle="""
SELECT doc_id,
       round(jaro_similarity(lang, source), 4) AS js,
       round(jaro_winkler_similarity(source, lang), 4) AS jw,
       damerau_levenshtein(lang, substr(source, 1, 4)) AS dl,
       strip_accents('caf' || chr(233) || ' M' || chr(252) || 'ller') AS sa,
       nfc_normalize('e' || chr(769)) AS nf,
       parse_dirname('/corpus/' || source || '/' || doc_id || '.txt') AS dn,
       parse_dirpath('corpus/' || source || '/' || doc_id || '.txt') AS dp,
       array_to_string(parse_path(source || '/' || lang), ',') AS pp,
       CAST(md5_number_lower(lang) AS VARCHAR) AS mlo,
       CAST(md5_number_upper(source) AS VARCHAR) AS mhi,
       round(CASE doc_id % 5
             WHEN 0 THEN 1.0
             WHEN 1 THEN sqrt(pi()) / 2
             WHEN 2 THEN 1.0
             WHEN 3 THEN 3 * sqrt(pi()) / 4
             ELSE 2.0 END, 4) AS gm,
       round(ln(CAST(factorial(CAST(n_chars % 30 + 1 AS INTEGER)) AS DOUBLE)), 4) AS lg,
       nextafter(doc_id * 1.0, 0.0) AS na
FROM documents
WHERE doc_id <= 300
ORDER BY doc_id
""",
    sql="SELECT doc_id, "
    "round(jaro_similarity(lang, source), 4) AS js, "
    "round(jaro_winkler_similarity(source, lang), 4) AS jw, "
    "damerau_levenshtein(lang, substr(source, 1, 4)) AS dl, "
    "strip_accents('caf' || chr(233) || ' M' || chr(252) || 'ller') AS sa, "
    "nfc_normalize('e' || chr(769)) AS nf, "
    "parse_dirname('/corpus/' || source || '/' || doc_id || '.txt') AS dn, "
    "parse_dirpath('corpus/' || source || '/' || doc_id || '.txt') AS dp, "
    "array_to_string(parse_path(source || '/' || lang), ',') AS pp, "
    "CAST(md5_number_lower(lang) AS VARCHAR) AS mlo, "
    "CAST(md5_number_upper(source) AS VARCHAR) AS mhi, "
    "round(gamma(1.0 + (doc_id % 5) / 2.0), 4) AS gm, "
    "round(lgamma(n_chars % 30 + 2), 4) AS lg, "
    "nextafter(doc_id * 1.0, 0.0) AS na "
    "FROM documents WHERE doc_id <= 300 ORDER BY doc_id",
)


register_sql(
    "dialect_gap_battery12",
    tags=("dialect", "battery", "aggregates"),
    # Round-13 version-skew sweep: the oracle no longer calls mad or
    # entropy. mad is computed by explicit order statistics in DOUBLE
    # space — the even/odd median in one grouped expression,
    # (max over the lower half + min over the upper half) / 2, which
    # is exact for odd n and the translation's (lo+hi)/2 interpolation
    # for even n — then repeated over the absolute deviations; entropy
    # is the explicit -Σ(c/n)·log2(c/n) over per-status counts (+0
    # normalizes the signed zero). histogram/era/struct_insert stay:
    # exact counts, calendar arithmetic, and struct layout have no
    # estimator to change.
    doc="""Sweep batch 15 — nested-aggregate translations pinned verbatim:
    mad (median-of-absolute-deviations as an expression tree over ONE
    collect_list — Catalyst dedupes the repeated aggregate), entropy
    (log2, empty→0.0, the +0 signed-zero guard), histogram (map keys
    ascending, BIGINT counts — serialized to scalar key/value strings
    for the hasher), EXTRACT(era) (CE=1), struct_insert (schema-probed
    via FIELD_NOT_FOUND field enumeration), and top-level ORDER BY …
    LIMIT 60% (floor(0.6·5 groups) = 3 rows via a count window over
    the ordered body).""",
    oracle="""
WITH r1 AS (
  SELECT o_orderpriority, CAST(o_totalprice AS DOUBLE) AS xd,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY CAST(o_totalprice AS DOUBLE)) AS rn,
         count(*)    OVER (PARTITION BY o_orderpriority) AS n
  FROM orders
), md AS (
  SELECT o_orderpriority,
         (max(xd) FILTER (rn * 2 <= n + 1)
          + min(xd) FILTER (rn * 2 >= n + 1)) / 2 AS med
  FROM r1 GROUP BY o_orderpriority
), r2 AS (
  SELECT r1.o_orderpriority, abs(xd - med) AS dv,
         row_number() OVER (PARTITION BY r1.o_orderpriority
                            ORDER BY abs(xd - med)) AS rn,
         count(*)    OVER (PARTITION BY r1.o_orderpriority) AS n
  FROM r1 JOIN md USING (o_orderpriority)
), madp AS (
  SELECT o_orderpriority,
         round((max(dv) FILTER (rn * 2 <= n + 1)
                + min(dv) FILTER (rn * 2 >= n + 1)) / 2, 4) AS mad_price
  FROM r2 GROUP BY o_orderpriority
), ec AS (
  SELECT o_orderpriority, CAST(count(*) AS DOUBLE) AS c
  FROM orders GROUP BY o_orderpriority, o_orderstatus
), ent AS (
  SELECT o_orderpriority,
         round((-sum((c / t) * log2(c / t))) + 0, 4) AS ent_status
  FROM (SELECT o_orderpriority, c,
               sum(c) OVER (PARTITION BY o_orderpriority) AS t FROM ec)
  GROUP BY o_orderpriority
), agg AS (
  SELECT o_orderpriority,
       array_to_string(map_keys(histogram(o_orderstatus)), ',') AS hist_keys,
       array_to_string(map_values(histogram(o_orderstatus)), ',') AS hist_vals,
       min(extract(era from o_orderdate)) AS min_era,
       struct_insert({'pri': o_orderpriority}, tag := 'x').tag AS si_tag
  FROM orders
  GROUP BY o_orderpriority
)
SELECT o_orderpriority, mad_price, ent_status,
       hist_keys, hist_vals, min_era, si_tag
FROM agg JOIN madp USING (o_orderpriority) JOIN ent USING (o_orderpriority)
ORDER BY o_orderpriority
LIMIT 60%
""",
    sql="SELECT o_orderpriority, "
    "round(mad(o_totalprice), 4) AS mad_price, "
    "round(entropy(o_orderstatus), 4) AS ent_status, "
    "array_to_string(map_keys(histogram(o_orderstatus)), ',') AS hist_keys, "
    "array_to_string(map_values(histogram(o_orderstatus)), ',') AS hist_vals, "
    "min(extract(era from o_orderdate)) AS min_era, "
    "struct_insert({'pri': o_orderpriority}, tag := 'x').tag AS si_tag "
    "FROM orders GROUP BY o_orderpriority "
    "ORDER BY o_orderpriority LIMIT 60%",
)


register_sql(
    "dialect_gap_battery13",
    tags=("dialect", "battery", "windows"),
    doc="""Sweep batch 15 — DISTINCT aggregates over windows (Spark rejects
    them outright) via collect_set expression trees: count → size,
    sum → element-typed fold, avg → DOUBLE fold / size with try_divide,
    min/max → DISTINCT dropped. The repeated collect_set window dedupes
    to one physical window function. IDENTICAL SQL verbatim on DuckDB's
    native DISTINCT window aggregates.""",
    oracle="""
SELECT o_orderkey,
       o_orderpriority,
       count(DISTINCT o_orderstatus) OVER (PARTITION BY o_orderpriority) AS cd_status,
       round(sum(DISTINCT o_totalprice) OVER (PARTITION BY o_orderpriority) / 1000000, 4) AS sd_price_m,
       round(avg(DISTINCT round(o_totalprice, -3)) OVER (PARTITION BY o_orderpriority), 4) AS ad_ktier,
       min(DISTINCT o_orderstatus) OVER (PARTITION BY o_orderpriority) AS mn_status
FROM orders
WHERE o_orderkey <= 2000
ORDER BY o_orderkey
""",
)


register_sql(
    "dialect_gap_battery14",
    tags=("dialect", "battery", "functions"),
    doc="""Sweep batch 16 pinned verbatim on both engines: ordered
    array_agg (comparator-lambda sort of (key…, value) structs — multi
    key, DESC, DuckDB's NULLS-LAST-both-directions default), COLLATE
    NOCASE → UTF8_LCASE, to_hex → hex, bit_count (native), and the
    3-arg list_reduce lambda (i = 1-based iteration counter, zipped
    tail). unnest-in-SELECT is pinned by the unit tests (generator
    rows don't compose into one battery row).""",
    oracle="""
SELECT o_orderpriority,
       array_to_string(array_agg(o_orderkey ORDER BY o_totalprice DESC, o_orderkey), ',') AS top_keys,
       array_to_string(array_agg(o_orderstatus ORDER BY o_orderkey), ',') AS statuses,
       max(CASE WHEN o_orderstatus COLLATE NOCASE = 'f' THEN o_orderkey END) AS max_f_key,
       to_hex(max(o_orderkey)) AS hex_key,
       bit_count(max(o_orderkey)) AS bits,
       list_reduce(array_agg(o_orderkey ORDER BY o_orderkey), (a, b, i) -> a + b * (i % 3)) AS lr3
FROM orders
WHERE o_orderkey <= 500
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)


register_sql(
    "dialect_gap_battery15",
    tags=("dialect", "battery", "datetime"),
    doc="""Sweep batch 17 pinned verbatim: decade/millennium extracts,
    epoch_ms ROUND-TRIP (extraction then BIGINT-arg construction —
    exercising the uq_poly probe dispatch both ways in one
    expression), single-arg make_timestamp(µs), UDF-backed gcd/lcm,
    signbit, 1-arg encode.""",
    oracle="""
SELECT o_orderkey,
       extract(decade from o_orderdate) AS dec_ord,
       extract(millennium from o_orderdate) AS mil_ord,
       CAST(epoch_ms(epoch_ms(o_orderdate)) AS VARCHAR) AS ms_roundtrip,
       CAST(make_timestamp(epoch_us(o_orderdate)) AS VARCHAR) AS us_roundtrip,
       gcd(o_orderkey, o_custkey) AS g,
       lcm(o_orderkey % 12, 8) AS l,
       signbit(o_totalprice - 150000) AS below_150k,
       octet_length(encode(o_orderpriority)) AS pri_bytes
FROM orders
WHERE o_orderkey <= 500
ORDER BY o_orderkey
""",
)


register_sql(
    "dialect_gap_battery16",
    tags=("dialect", "battery", "strings"),
    doc="""Sweep batch 18 pinned verbatim: standard TRIM-FROM syntax (the
    quoted operand no longer reads as a path table), bare 2-arg trim
    charset order, polymorphic length() over a list,
    list_where, position(IN), try_strptime.""",
    oracle="""
SELECT doc_id,
       trim(BOTH 'aeiou' FROM lang) AS lang_core,
       trim(source, 'wb') AS src_trim,
       length(string_split(text, ' ')) AS n_words,
       trim(TRAILING 'ghn' FROM lang) AS lang_rtrim,
       array_to_string(list_where([source, lang, 'x'], [true, false, true]), '|') AS src_mask,
       position('a' IN lang) AS a_pos,
       CAST(try_strptime('2024-' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') || '-15',
                         '%Y-%m-%d') AS VARCHAR) AS mid_month
FROM documents
WHERE doc_id <= 300
ORDER BY doc_id
""",
)


register_sql(
    "dialect_gap_battery17",
    tags=("dialect", "battery", "lists"),
    doc="""Sweep batch 19 pinned verbatim: step slices (positive stride and
    negative reversed walk — the former 2-part parse silently dropped
    the step), list_sum NULL-skip fold, interpolated list_median on
    DOUBLE elements, list_first (NULL-keeping), list_any_value,
    list_resize NULL-pad (DuckDB's own 3-arg fill form crashes on non-constant lists — std::bad_array_new_length — so the fill form is pinned on literals in the unit battery), exact QuoteMeta regexp_escape, array_pop_front.
    string_split('') per-char split verified identical en route.""",
    oracle="""
SELECT doc_id,
       array_to_string(string_split(text, ' ')[1:9:3], '|') AS stride3,
       array_to_string(string_split(text, ' ')[6:2:-2], '|') AS back2,
       CAST(list_sum([doc_id % 7, n_chars % 5, NULL]) AS BIGINT) AS lsum,
       list_median([CAST(doc_id % 11 AS DOUBLE), 4.0, 7.0, 1.0]) AS lmed,
       list_first(string_split(text, ' ')) AS lfirst,
       list_any_value([NULL, lang, source]) AS lany,
       array_to_string(list_resize([lang, source], 4), '|') AS lresize,
       regexp_escape(substr(source, 1, 3) || '.*') AS resc,
       array_to_string(array_pop_front(string_split(source, '')), '') AS popf
FROM documents
WHERE doc_id <= 300
ORDER BY doc_id
""",
)


register_sql(
    "dialect_gap_battery18",
    tags=("dialect", "battery", "lists"),
    doc="""Sweep batch 20 pinned verbatim: bare split() is LITERAL-separator
    in DuckDB (Spark's split is regex — 'a. ' would match as a pattern:
    the silent-wrong find of the batch), flatten skips NULL SUBLISTS,
    factorial beyond BIGINT (21!..29! — DuckDB HUGEINT vs our
    DECIMAL(38,0), same digits via VARCHAR), postfix ``!``, 1-arg
    numeric trunc (toward zero, negatives), list_contains FALSE on
    null-bearing misses (Spark 3VL gives NULL natively), list_indexof,
    from_hex.""",
    oracle="""
SELECT doc_id,
       array_to_string(split(text, 'a. '), '~')     AS splt,
       split(text, ' ')[2]                          AS splt2,
       array_to_string(flatten([string_split(lang, ''), NULL, [source]]), '|') AS flat,
       CAST(factorial(CAST(doc_id % 25 AS INTEGER) + 5) AS VARCHAR) AS factbig,
       CAST((CAST(doc_id % 6 AS INTEGER))! AS BIGINT) AS bang,
       CAST(trunc(n_chars / 7.0 - 50) AS BIGINT)    AS trnc,
       list_contains([lang, NULL], 'en')            AS lc_hit,
       list_contains([source, NULL], 'nope')        AS lc_miss,
       list_indexof(string_split(text, ' '), 'the') AS idx,
       octet_length(from_hex('0a0b'))               AS fhx
FROM documents
WHERE doc_id <= 300
ORDER BY doc_id
""",
)


register_sql(
    "dialect_gap_battery19",
    tags=("dialect", "battery", "json"),
    doc="""Sweep batch 21 pinned verbatim: the json-extension tail over
    data-dependent inputs — constructors (NULL-key drop, 'null'
    elements, quote asymmetry), minify, RFC-7386 merge with null-key
    removal, structure skeletons (UBIGINT widening to DOUBLE), typed
    path extraction, strict containment, and the group aggregates over
    singleton groups (multi-element ordering pinned in the unit battery
    on local[1] — input order is the shared caveat with 1-arg
    string_agg on both engines).""",
    oracle="""
SELECT doc_id,
       json_object('lang', lang, 'n', n_chars, NULL, 'x') AS jobj,
       json_array(doc_id, lang, NULL)                     AS jarr,
       json_quote(substr(text, 1, 20))                    AS jq,
       json(concat('{"a": ', CAST(doc_id % 5 AS VARCHAR), ' ,  "b":"', lang, '"}')) AS jmin,
       json_merge_patch(concat('{"a":', CAST(doc_id % 3 AS VARCHAR), '}'), '{"b":2,"a":null}') AS jmp,
       json_structure(concat('[', CAST(doc_id % 7 AS VARCHAR), ', ', CAST(n_chars AS VARCHAR), '.5]')) AS jst,
       json_type(concat('{"k":', CAST(doc_id AS VARCHAR), '}'), 'k') AS jt2,
       json_contains(concat('[1,2,', CAST(doc_id % 9 AS VARCHAR), ']'), '7') AS jc,
       json_group_array(lang)                             AS jga,
       json_group_object(source, n_chars)                 AS jgo
FROM documents
WHERE doc_id <= 300
GROUP BY doc_id, lang, source, n_chars, text
ORDER BY doc_id
""",
)


register_sql(
    "dialect_gap_battery20",
    tags=("dialect", "battery", "strings"),
    doc="""Sweep batch 22 pinned verbatim: printf over mixed specs with
    data-dependent args, grapheme substring/length with the negative/
    zero start window rules, split_part (positive / negative / the
    literal-0 empty case), list-form strptime (first format fails →
    second matches), AT TIME ZONE through epoch (the instant survives
    the display-form deviation), and INTERVAL-step generate_series
    casting DATE bounds to TIMESTAMP elements.""",
    oracle="""
SELECT doc_id,
       printf('%s #%05d: %7.3f / %x', lang, CAST(doc_id AS INTEGER), n_chars / 7.0, n_chars) AS pf,
       substring_grapheme(substr(text, 1, 30), CAST(doc_id % 10 AS INTEGER) - 3, 8) AS sg,
       length_grapheme(substr(text, 1, 40)) AS lg,
       split_part(text, ' ', 3)  AS sp3,
       split_part(text, ' ', -2) AS spm2,
       split_part(text, ' ', 0)  AS sp0,
       CAST(strptime(concat('2024-', lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0'), '-15'),
                     ['%d/%m/%Y', '%Y-%m-%d']) AS TIMESTAMP) AS stp,
       epoch(CAST(concat('2024-03-0', CAST(doc_id % 9 + 1 AS VARCHAR), ' 12:00:00') AS TIMESTAMP)
             AT TIME ZONE 'America/New_York') AS tzep,
       CAST(generate_series(DATE '2024-01-01', DATE '2024-01-01' + CAST(doc_id % 3 AS INTEGER),
                            INTERVAL 1 DAY) AS VARCHAR) AS gser
FROM documents
WHERE doc_id <= 300
ORDER BY doc_id
""",
)


register_sql(
    "dialect_gap_battery21",
    tags=("dialect", "battery", "misc"),
    doc="""Sweep batch 23 pinned verbatim: dollar-quoted literals, the
    element_at MAP accessor (single-element list, empty on miss —
    serialized per the scalar-column lint), exact bar() rendering over
    data-dependent fractions, bitstring zero-pad, date_trunc's DATE
    return for coarse units (string forms match), and timezone() via
    epoch (instant-equality across the TIMESTAMPTZ display deviation).
    me_miss unwraps the empty miss list to NULL on both sides ([1]).""",
    oracle="""
SELECT o_orderkey,
       $$fixed $tag$ text$$                                  AS dq,
       element_at(MAP {'p': o_orderpriority}, 'p')[1]        AS me,
       element_at(MAP {'p': o_orderpriority}, concat('x', o_orderstatus))[1] AS me_miss,
       bar(o_totalprice % 97, 0, 100, 12)                    AS brr,
       CAST(bitstring(CASE o_orderstatus WHEN 'F' THEN '10' ELSE '1' END, 6) AS VARCHAR) AS bits,
       CAST(date_trunc('week', o_orderdate) AS VARCHAR)      AS wk,
       CAST(date_trunc('quarter', o_orderdate) AS VARCHAR)   AS qtr,
       epoch(timezone('America/New_York', CAST(o_orderdate AS TIMESTAMP))) AS tzep
FROM orders
WHERE o_orderkey <= 800
ORDER BY o_orderkey
""",
)


register_sql(
    "dialect_gap_battery22",
    tags=("dialect", "battery", "misc"),
    doc="""Sweep batch 24 pinned verbatim: typeof over scalar/list types
    (DuckDB typename rendering), from_json/json_transform structure
    translation with struct field access, array_slice with a negative
    step and over a STRING (bracket-machinery polymorphism), and the
    SQL-standard OFFSET n ROWS + FETCH NEXT n ROWS ONLY page clause
    (order-swapped into Spark's LIMIT/OFFSET).""",
    oracle="""
SELECT o_orderkey,
       typeof(o_totalprice)                                        AS tp,
       typeof([o_orderstatus])                                     AS tl,
       from_json(concat('{"k":', CAST(o_orderkey AS VARCHAR), ',"s":"', o_orderstatus, '"}'),
                 '{"k":"BIGINT","s":"VARCHAR"}').k                 AS fjk,
       json_transform(concat('{"k":', CAST(o_orderkey % 7 AS VARCHAR), '}'),
                      '{"k":"VARCHAR"}').k                         AS jtk,
       array_to_string(array_slice(string_split(o_orderpriority, ''), 5, 1, -2), '') AS sl,
       array_slice(o_orderpriority, 2, 12)                         AS sstr
FROM orders
WHERE o_orderkey <= 800
ORDER BY o_orderkey
OFFSET 5 ROWS FETCH NEXT 600 ROWS ONLY
""",
)


register_sql(
    "dialect_gap_battery23",
    tags=("dialect", "battery", "misc"),
    doc="""Sweep batch 25 pinned verbatim: dot-chained method calls over
    columns (upper→substr chain, list_sum over a split), MAP literal
    subscripts returning DuckDB's single-element LIST (+[1] unwrap),
    STRUCT subscript field access, CAST AS JSON (VARCHAR text
    preserved, numbers encoded), and the session identity literals.
    The mp column stays a LIST on both engines — serialized via the
    [1] unwrap columns for the scalar lint (mp itself is emitted as
    array_to_string below).""",
    oracle="""
SELECT p_partkey,
       p_name.upper().substr(3, 8)                       AS chained,
       CAST([p_size, p_partkey % 5].list_sum() AS BIGINT) AS chain_sum,
       array_to_string(MAP {'brand': p_brand}['brand'], '|') AS mp,
       MAP {'brand': p_brand}['brand'][1]                AS mp1,
       {'t': p_type}['t']                                AS st,
       CAST(concat('{"k": ', CAST(p_partkey % 9 AS VARCHAR), '}') AS JSON) AS jc,
       CAST(p_size AS JSON)                              AS jn,
       current_database()                                AS db,
       current_user                                      AS usr
FROM part
WHERE p_partkey <= 400
ORDER BY p_partkey
""",
)


register_sql(
    "dialect_gap_battery24",
    tags=("dialect", "battery", "introspection"),
    doc="""Batch 27 pinned verbatim: the information_schema introspection
    surface over the nine date/scalar-typed driver tables (events'
    TIMESTAMP_NS column is the excluded known width deviation — DuckDB
    reports the parquet nanos type, our views read it as TIMESTAMP).
    Both engines list the same views with the same DuckDB typenames
    (INTEGER/BIGINT/VARCHAR/DOUBLE/DATE/FLOAT[]), joined across the
    tables/columns relations.""",
    oracle="""
SELECT c.table_name, c.column_name, c.ordinal_position, c.data_type,
       c.is_nullable, t.table_type
FROM information_schema.columns c
JOIN information_schema.tables t ON c.table_name = t.table_name
WHERE c.table_name IN ('region','nation','customer','supplier','part',
                       'orders','lineitem','documents','embeddings')
ORDER BY c.table_name, c.ordinal_position
""",
)


register_sql(
    "dialect_gap_battery25",
    tags=("dialect", "battery", "strings"),
    doc="""Sweep batch 28 pinned verbatim: grapheme-aware reverse over
    data, the format() spec mini-language (align/zero-pad/precision/
    hex/grouping/binary) with data-dependent args, integer-keyed MAP
    subscript list unwrap, named-group regexp_extract struct field,
    comparable ::INTERVAL literals, timezone_hour.""",
    oracle="""
SELECT p_partkey,
       reverse(substr(p_name, 1, 12))                     AS rev,
       format('{:>10}|{:05d}|{:.3f}|{:x}|{:,}', substr(p_brand, 1, 8),
              CAST(p_partkey % 999 AS INTEGER), p_retailprice / 7,
              CAST(p_size AS BIGINT), CAST(p_partkey AS BIGINT) * 1001) AS fmtd,
       format('{:08b}', CAST(p_size AS BIGINT))           AS fbin,
       MAP {1: p_brand}[1][1]                             AS mik,
       regexp_extract(p_type, '(\\w+) (\\w+)', ['head', 'mid']).mid AS rx,
       ('2 days'::INTERVAL > '1 day'::INTERVAL)           AS iv,
       timezone_hour(CAST(DATE '2024-01-01' AS TIMESTAMP)) AS tzh
FROM part
WHERE p_partkey <= 400
ORDER BY p_partkey
""",
)


register_sql(
    "dialect_gap_battery26",
    tags=("dialect", "battery", "unicode"),
    doc="""Unicode parity pinned on data (batch 28): utf8proc SIMPLE case
    mapping (ß→ẞ, İ→i, no final-sigma context) through the non-ASCII
    UDF path AND the ASCII native fast path side by side; byte-based
    levenshtein (é counts 2); byte-equal hamming; grapheme-aware
    reverse over a combining-accent prefix.""",
    oracle="""
SELECT doc_id,
       upper(concat('straße-', lang))                    AS up_simple,
       lower(concat('İΣTANBULΣ-', source))               AS low_simple,
       upper(substr(text, 1, 20))                        AS up_ascii,
       levenshtein(concat('é', lang), concat('e', lang)) AS lev_bytes,
       levenshtein(substr(text, 1, 10), lang)            AS lev_ascii,
       hamming(concat('é', source), concat('é', source)) AS ham_eq,
       reverse(concat('é', substr(text, 1, 8)))          AS rev_g
FROM documents
WHERE doc_id <= 300
ORDER BY doc_id
""",
)


register_sql(
    "dialect_gap_battery27",
    tags=("dialect", "battery", "arithmetic"),
    doc="""Round-7 ÷0 parity pinned on data (VERDICT r6 #2 / NOTES
    'ANSI-mode follow-up'): DuckDB returns NULL for x/0, x%0 and x//0
    in EVERY numeric type (DOUBLE included — NOT Infinity) where
    Spark's ANSI mode raises; the nullif-divisor wrap
    (`rewrite.py _rewrite_div_by_zero`) must make zero-hitting data
    divisors (modulo cycles, always-zero columns, CASE-selected
    zeros, literal 0.0) agree row-for-row — and DuckDB's `/` is
    always DOUBLE, so the decimal-operand division must come back
    DOUBLE, not Spark's DECIMAL. Fuzz companion: the `div` axis in
    tools/dialect_fuzz.py (1440 cases, two seeds, clean).""",
    oracle="""
SELECT p_partkey,
       p_retailprice / (p_partkey % 5) AS d1,
       p_partkey % (p_size - p_size) AS m0,
       CAST(p_partkey // (p_partkey % 3) AS BIGINT) AS idiv,
       round(p_retailprice / nullif(p_size, 0), 3) AS safe,
       CAST(1.50 AS DECIMAL(10,2)) / 2 AS decdiv,
       p_retailprice / 0.0 AS dz,
       (p_partkey * 3) / (p_partkey % 4) * 2 AS chain,
       p_partkey / CASE WHEN p_size > 25 THEN 0 ELSE p_size END AS cdiv,
       p_retailprice % (p_partkey % 7) AS m1
FROM part WHERE p_partkey <= 300 ORDER BY p_partkey
""",
)


register_sql(
    "dialect_gap_battery28",
    tags=("dialect", "battery", "subquery"),
    doc="""Round-7 close of the last documented SILENT value deviation
    (NOTES batch 28 / VERDICT r6 #6): projected ``x [NOT] IN (SELECT
    …)`` over a NULL-bearing, non-matching subquery is NULL in DuckDB
    but FALSE on Spark's single-ExistenceJoin plan. The
    `_rewrite_in_subquery_null` pass turns SELECT-position IN into a
    three-valued CASE (match → TRUE; NULL element forces NULL; else
    Spark's own IN) while WHERE/HAVING/ON positions — value-identical,
    NULL filters like FALSE — keep the fast semi-join plan. Pinned
    here on data: 94 of 201 rows land in the NULL-forced class, plus
    the clean-set and empty-set (FALSE even for NULL probe) corners.""",
    oracle="""
SELECT p_partkey,
       p_size IN (SELECT CASE WHEN o_orderkey % 3 = 0 THEN NULL
                              ELSE o_orderkey % 40 END
                  FROM orders WHERE o_orderkey <= 50) AS in_nullset,
       p_size NOT IN (SELECT CASE WHEN o_orderkey % 3 = 0 THEN NULL
                                  ELSE o_orderkey % 40 END
                      FROM orders WHERE o_orderkey <= 50) AS notin_nullset,
       p_size IN (SELECT o_orderkey % 40 FROM orders
                  WHERE o_orderkey <= 50) AS in_clean,
       p_size IN (SELECT o_orderkey FROM orders
                  WHERE o_orderkey < 0) AS in_empty
FROM part WHERE p_partkey <= 200 ORDER BY p_partkey
""",
)


_B29_SQL = """
SELECT grp,
       array_to_string(list_transform(l_ord,
           x -> coalesce(CAST(x AS VARCHAR), 'NULL')), ',')  AS s_ord,
       array_to_string(list_transform(l_sorted,
           x -> coalesce(CAST(x AS VARCHAR), 'NULL')), ',')  AS s_sorted,
       array_to_string(list_transform(l_dist,
           x -> coalesce(CAST(x AS VARCHAR), 'NULL')), ',')  AS s_dist,
       array_to_string(list_transform(l_filt,
           x -> coalesce(CAST(x AS VARCHAR), 'NULL')), ',')  AS s_filt,
       CASE WHEN l_empty IS NULL THEN 'NULL-AGG' ELSE 'KEPT' END AS s_empty,
       array_to_string(list_transform(l_uofilt,
           x -> coalesce(CAST(x AS VARCHAR), 'NULL')), ',')  AS s_uofilt
FROM (
  SELECT o_custkey % 7 AS grp,
         list(CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_orderpriority END
              ORDER BY o_orderkey)                                   AS l_ord,
         list_sort(list(CASE WHEN o_orderkey % 4 = 0 THEN NULL
                             ELSE o_orderkey % 5 END))               AS l_sorted,
         list_sort(list(DISTINCT CASE WHEN o_orderkey % 3 = 0 THEN NULL
                                      ELSE o_orderkey % 4 END))      AS l_dist,
         list(CAST(round(o_totalprice, 0) AS BIGINT) ORDER BY o_orderkey)
             FILTER (WHERE o_totalprice > 150000)                    AS l_filt,
         list(o_orderkey ORDER BY o_orderkey) FILTER (WHERE FALSE)   AS l_empty,
         list_sort(array_agg(CASE WHEN o_orderstatus = 'P' THEN NULL
                                  ELSE o_orderstatus END)
                   FILTER (WHERE o_orderkey % 2 = 1))                AS l_uofilt
  FROM orders WHERE o_orderkey <= 600
  GROUP BY 1
) ORDER BY grp
"""


register_sql(
    "dialect_gap_battery29",
    tags=("dialect", "battery", "aggregate"),
    doc="""Round-8 close of the list()/array_agg NULL-element drop — the
    last known silent wrong-value class (VERDICT r7 'What's wrong' #1 /
    NOTES item 11): DuckDB's list()/array_agg KEEP NULL elements and
    return NULL (never []) when no rows aggregate; Spark's
    collect_list drops both. `_translate_array_agg_nulls` wraps every
    unordered form element-in-struct (structs are never NULL) with a
    size guard back to NULL, DISTINCT via array_distinct (one NULL
    kept — DuckDB-probed), FILTER CASE-folded into the struct; the
    ordered pass gained the same FILTER fold + empty guard. Pinned on
    data: NULL-forced elements in ordered/unordered/DISTINCT/FILTER
    forms plus the FILTER(FALSE) empty→NULL corner, canonicalized
    with list_sort (unordered element order is engine-unspecified).""",
    oracle=_B29_SQL,
)


_B30_SQL = """
SELECT o_orderkey,
       array_to_string(list_transform(w_run,
           x -> coalesce(CAST(x AS VARCHAR), 'NULL')), ',')  AS s_run,
       array_to_string(list_transform(w_dist,
           x -> coalesce(CAST(x AS VARCHAR), 'NULL')), ',')  AS s_dist,
       array_to_string(list_transform(w_filt,
           x -> coalesce(CAST(x AS VARCHAR), 'NULL')), ',')  AS s_filt
FROM (
  SELECT o_orderkey,
         list(CASE WHEN o_orderkey % 2 = 0 THEN NULL ELSE o_orderkey END)
             OVER (PARTITION BY o_custkey % 5 ORDER BY o_orderkey)   AS w_run,
         list_sort(list(DISTINCT CASE WHEN o_orderkey % 7 = 0 THEN NULL
                                      ELSE o_orderstatus END)
                   OVER (PARTITION BY o_custkey % 5))                AS w_dist,
         list(o_orderkey) FILTER (WHERE o_orderkey % 3 = 0)
             OVER (PARTITION BY o_custkey % 5 ORDER BY o_orderkey)   AS w_filt
  FROM orders WHERE o_orderkey <= 600
) ORDER BY o_orderkey
"""


register_sql(
    "dialect_gap_battery30",
    tags=("dialect", "battery", "window"),
    doc="""Windowed companion to battery29: list() OVER running frames
    keeps NULL elements (collect_list over structs rides the window
    spec), DISTINCT-over-window via array_distinct outside the unwrap,
    and FILTER-over-window CASE-folds into the struct so excluded rows
    vanish without the old NULL-drop shortcut (which would now
    silently delete the NULL elements this pass exists to keep).
    Running frames are deterministic; the partition-wide DISTINCT
    array is canonicalized with list_sort.""",
    oracle=_B30_SQL,
)


_B31_SQL = """
SELECT o_orderkey,
       CAST(sum(o_totalprice) OVER (PARTITION BY o_custkey % 5
            ORDER BY o_orderkey
            RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            EXCLUDE GROUP) AS DOUBLE)                              AS ex_grp,
       CAST(sum(o_totalprice) OVER (PARTITION BY o_custkey % 5
            ORDER BY o_orderdate
            RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
            EXCLUDE TIES) AS DOUBLE)                               AS ex_ties,
       count(*) OVER (PARTITION BY o_custkey % 5 ORDER BY o_orderdate
            RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            EXCLUDE TIES)                                          AS ex_cnt,
       round(CAST(avg(o_totalprice) OVER (PARTITION BY o_custkey % 5
            ORDER BY o_orderkey
            RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
            EXCLUDE GROUP) AS DOUBLE), 2)                          AS ex_avg
FROM orders WHERE o_orderkey <= 500
ORDER BY o_orderkey
"""


register_sql(
    "dialect_gap_battery31",
    tags=("dialect", "battery", "window"),
    doc="""Round-8 raise-tail shrink pinned on data: window-frame EXCLUDE
    GROUP / TIES for the invertible aggregates (r7 verdict item 5) —
    frame aggregate minus the peer group's second-window contribution,
    TIES adding the current row back; RANGE frames only. The
    o_orderdate keys are non-unique within partitions, so real peer
    groups (and the NULL-on-empty-exclusion guard) are exercised.""",
    oracle=_B31_SQL,
)


_B32_SQL = """
SELECT o_custkey % 7 AS grp,
       CAST(mad(o_totalprice) FILTER (WHERE o_orderstatus = 'O')
            AS DOUBLE)                                             AS mad_f,
       round(entropy(o_orderpriority)
             FILTER (WHERE o_orderkey % 2 = 1), 6)                 AS ent_f,
       round(entropy(DISTINCT o_orderkey % 10), 6)                 AS ent_d,
       CAST(mad(DISTINCT o_orderkey % 100) AS DOUBLE)              AS mad_d
FROM orders WHERE o_orderkey <= 500
GROUP BY 1 ORDER BY 1
"""


# Round-13 version-skew sweep: the oracle below never calls mad or
# entropy. Both FILTERed mads are explicit order statistics in DOUBLE
# space ((max of lower half + min of upper half) / 2, twice); the
# FILTERed entropy is the explicit -Σ(c/n)·log2(c/n); the DISTINCT
# entropy is its closed form log2(n_distinct); the DISTINCT mad runs
# the same order statistics over the distinct value set (exact small
# integers, so every intermediate is a dyadic rational).
_B32_ORACLE_SQL = """
WITH base AS (
  SELECT o_custkey % 7 AS grp, o_orderkey, o_orderstatus, o_orderpriority,
         CAST(o_totalprice AS DOUBLE) AS xd
  FROM orders WHERE o_orderkey <= 500
), f1 AS (
  SELECT grp, xd FROM base WHERE o_orderstatus = 'O'
), r1 AS (
  SELECT grp, xd,
         row_number() OVER (PARTITION BY grp ORDER BY xd) AS rn,
         count(*)    OVER (PARTITION BY grp) AS n
  FROM f1
), md AS (
  SELECT grp, (max(xd) FILTER (rn * 2 <= n + 1)
               + min(xd) FILTER (rn * 2 >= n + 1)) / 2 AS med
  FROM r1 GROUP BY grp
), r2 AS (
  SELECT f1.grp, abs(xd - med) AS dv,
         row_number() OVER (PARTITION BY f1.grp ORDER BY abs(xd - med)) AS rn,
         count(*)    OVER (PARTITION BY f1.grp) AS n
  FROM f1 JOIN md USING (grp)
), madf AS (
  SELECT grp, (max(dv) FILTER (rn * 2 <= n + 1)
               + min(dv) FILTER (rn * 2 >= n + 1)) / 2 AS mad_f
  FROM r2 GROUP BY grp
), ec AS (
  SELECT grp, CAST(count(*) AS DOUBLE) AS c
  FROM base WHERE o_orderkey % 2 = 1 GROUP BY grp, o_orderpriority
), entf AS (
  SELECT grp, round((-sum((c / t) * log2(c / t))) + 0, 6) AS ent_f
  FROM (SELECT grp, c, sum(c) OVER (PARTITION BY grp) AS t FROM ec)
  GROUP BY grp
), entd AS (
  SELECT grp,
         round(log2(CAST(count(DISTINCT o_orderkey % 10) AS DOUBLE)), 6) AS ent_d
  FROM base GROUP BY grp
), dd AS (
  SELECT DISTINCT grp, CAST(o_orderkey % 100 AS DOUBLE) AS vd FROM base
), rd AS (
  SELECT grp, vd,
         row_number() OVER (PARTITION BY grp ORDER BY vd) AS rn,
         count(*)    OVER (PARTITION BY grp) AS n
  FROM dd
), mdd AS (
  SELECT grp, (max(vd) FILTER (rn * 2 <= n + 1)
               + min(vd) FILTER (rn * 2 >= n + 1)) / 2 AS medd
  FROM rd GROUP BY grp
), dd2 AS (
  SELECT dd.grp, abs(vd - medd) AS dv FROM dd JOIN mdd USING (grp)
), rd2 AS (
  SELECT grp, dv,
         row_number() OVER (PARTITION BY grp ORDER BY dv) AS rn,
         count(*)    OVER (PARTITION BY grp) AS n
  FROM dd2
), madd AS (
  SELECT grp, (max(dv) FILTER (rn * 2 <= n + 1)
               + min(dv) FILTER (rn * 2 >= n + 1)) / 2 AS mad_d
  FROM rd2 GROUP BY grp
)
SELECT grp, mad_f, ent_f, ent_d, mad_d
FROM madf JOIN entf USING (grp) JOIN entd USING (grp) JOIN madd USING (grp)
ORDER BY grp
"""


register_sql(
    "dialect_gap_battery32",
    tags=("dialect", "battery", "aggregate"),
    doc="""Round-8 nested-aggregate FILTER + DISTINCT forms pinned on data
    (r7 verdict item 5): mad/entropy with FILTER (CASE-folded into the
    argument — all three nested aggs skip NULLs, so the fold is exact)
    and the DISTINCT closed forms (entropy = log2(n_distinct); mad
    dedupes via collect_set with a percentile(DISTINCT) median).
    Round-13: oracle rebuilt version-portable (_B32_ORACLE_SQL note —
    explicit order statistics and entropy sums, no mad/entropy call).""",
    oracle=_B32_ORACLE_SQL,
    sql=_B32_SQL,
)


_B33_SQL = """
SELECT event_id,
       CAST(CAST(ts AS TIME) AS VARCHAR)                     AS t_str,
       EXTRACT(HOUR FROM CAST(ts AS TIME))                   AS t_h,
       EXTRACT(MINUTE FROM CAST(ts AS TIME))                 AS t_m,
       EXTRACT(SECOND FROM ts)                               AS sec_ts,
       date_part('second', CAST(ts AS TIME))                 AS sec_t,
       round(EXTRACT(EPOCH FROM CAST(ts AS TIME)), 3)        AS t_epoch,
       CAST(make_time(CAST(event_id % 24 AS INT),
                      CAST(event_id % 60 AS INT),
                      (event_id % 59) + 0.25) AS VARCHAR)    AS mk,
       CAST(greatest(CAST(ts AS TIME), TIME '12:00:00')
            AS VARCHAR)                                      AS gmax,
       (CAST(ts AS TIME) < TIME '12:00:00')                  AS am,
       (CAST(ts AS TIME) = CAST(CAST(CAST(ts AS TIME) AS VARCHAR)
                                AS TIME))                    AS rt
FROM events WHERE event_id < 400
ORDER BY event_id
"""


register_sql(
    "dialect_gap_battery33",
    tags=("dialect", "battery", "time"),
    doc="""Round-8 TIME graduation pinned on data: Spark 4.1's TIME type
    (behind spark.sql.timeType.enabled, set by the session factory,
    load_tables AND the rewriter) covers literals, VARCHAR<->TIME
    round-trips, comparisons, greatest, hour/minute extraction and
    make_time with fractional seconds natively; TIMESTAMP->TIME takes
    a probe-dispatched date_format detour (Spark has no such cast) and
    EXTRACT(EPOCH FROM time) a '1970-01-01' prefix. Also pins the
    probe-caught EXTRACT(SECOND ...) truncation: DuckDB returns a
    truncated BIGINT (45.5 -> 45) where Spark's native extract returns
    DECIMAL(8,6) — a silent wrong-value class that applied to
    TIMESTAMP and INTERVAL extracts too (DIV 1 wrap, toward-zero like
    DuckDB). The one deviation this battery left open — TIME + INTERVAL
    raising DATETIME_OVERFLOW instead of wrapping — closed in round 9
    (battery34).""",
    oracle=_B33_SQL,
)


_B34_SQL = """
SELECT event_id,
       CAST(CAST(ts AS TIME) + INTERVAL '2' HOUR AS VARCHAR)     AS fwd,
       CAST(CAST(ts AS TIME) - INTERVAL '90' MINUTE AS VARCHAR)  AS back,
       CAST(CAST(ts AS TIME) + INTERVAL '1500' MILLISECOND
            AS VARCHAR)                                          AS frac,
       CAST(INTERVAL '25' HOUR + CAST(ts AS TIME) AS VARCHAR)    AS com,
       CAST(TIME '23:30:00' + INTERVAL '45' MINUTE AS VARCHAR)   AS lit,
       CAST(ts + INTERVAL '2' HOUR AS VARCHAR)                   AS ts_fwd,
       round(CAST(mad(DISTINCT event_id % 17)
                  OVER (PARTITION BY event_id % 5) AS DOUBLE), 6)  AS mad_w
FROM events WHERE event_id < 400
ORDER BY event_id
"""

# Round-13 version-skew sweep: the oracle computes the windowed
# DISTINCT mad by explicit order statistics over the per-partition
# distinct value set (exact small integers — every intermediate is a
# dyadic rational) instead of calling mad(); TIME±INTERVAL columns
# stay — mod-86400 calendar arithmetic has no estimator to change.
_B34_ORACLE_SQL = """
WITH dd AS (
  SELECT DISTINCT event_id % 5 AS g, CAST(event_id % 17 AS DOUBLE) AS vd
  FROM events WHERE event_id < 400
), rd AS (
  SELECT g, vd,
         row_number() OVER (PARTITION BY g ORDER BY vd) AS rn,
         count(*)    OVER (PARTITION BY g) AS n
  FROM dd
), mdd AS (
  SELECT g, (max(vd) FILTER (rn * 2 <= n + 1)
             + min(vd) FILTER (rn * 2 >= n + 1)) / 2 AS med
  FROM rd GROUP BY g
), dd2 AS (
  SELECT dd.g, abs(vd - med) AS dv FROM dd JOIN mdd USING (g)
), rd2 AS (
  SELECT g, dv,
         row_number() OVER (PARTITION BY g ORDER BY dv) AS rn,
         count(*)    OVER (PARTITION BY g) AS n
  FROM dd2
), madd AS (
  SELECT g, round((max(dv) FILTER (rn * 2 <= n + 1)
                   + min(dv) FILTER (rn * 2 >= n + 1)) / 2, 6) AS mad_w
  FROM rd2 GROUP BY g
)
SELECT event_id,
       CAST(CAST(ts AS TIME) + INTERVAL '2' HOUR AS VARCHAR)     AS fwd,
       CAST(CAST(ts AS TIME) - INTERVAL '90' MINUTE AS VARCHAR)  AS back,
       CAST(CAST(ts AS TIME) + INTERVAL '1500' MILLISECOND
            AS VARCHAR)                                          AS frac,
       CAST(INTERVAL '25' HOUR + CAST(ts AS TIME) AS VARCHAR)    AS com,
       CAST(TIME '23:30:00' + INTERVAL '45' MINUTE AS VARCHAR)   AS lit,
       CAST(ts + INTERVAL '2' HOUR AS VARCHAR)                   AS ts_fwd,
       madd.mad_w                                                AS mad_w
FROM events JOIN madd ON event_id % 5 = madd.g
WHERE event_id < 400
ORDER BY event_id
"""


register_sql(
    "dialect_gap_battery34",
    tags=("dialect", "battery", "time"),
    doc="""Round-9 raise-tail close (r8 verdict item 5a, NOTES 21g): TIME ±
    INTERVAL wraps past midnight in DuckDB (mod 24 h) where Spark's
    native TIME arithmetic raises DATETIME_OVERFLOW. The rewriter's
    two-level uq_poly dispatch (rewrite.py _time_wrap_marker) keeps
    TIMESTAMP/DATE/interval operands on native arithmetic (ts_fwd
    column pins that) and sends TIME operands through exact DECIMAL
    second-of-day mod-86400 arithmetic — forward/backward crossings,
    fractional-second intervals, and the commuted INTERVAL + TIME form
    all hash-match DuckDB here. Also pins round 9's other
    raise-tail close: mad(DISTINCT) OVER a window (aggregate()-as-LET
    translation, test_round9_mad_distinct_over).""",
    oracle=_B34_ORACLE_SQL,
    sql=_B34_SQL,
)


_B35_SQL = """
WITH src AS (
  SELECT o_orderkey AS k,
         MAP {'a': o_orderkey, 'b': o_orderkey + 1}      AS m,
         MAP {1: o_orderkey * 2, 2: o_orderkey * 3}      AS mi,
         {'a': o_orderkey, 'b': 'x'}                     AS st,
         [o_orderkey, o_orderkey + 10, o_orderkey + 20]  AS l,
         CASE WHEN o_orderkey % 2 = 0 THEN 'a' ELSE 'b' END AS kx
  FROM orders WHERE o_orderkey <= 300
)
SELECT k,
       m['a'][1]  AS ma_v,
       len(m['zz']) AS mz_n,
       mi[2][1]   AS mi2_v,
       st['a']    AS sta,
       l[2]       AS l2,
       l[-1]      AS lneg,
       l[0]       AS l0,
       l[9]       AS loob,
       m[kx][1]   AS mkx_v,
       array_to_string(list_sort(list_distinct([k % 5, NULL, k % 3, k % 5])), ',') AS ld
FROM src ORDER BY k
"""


register_sql(
    "dialect_gap_battery35",
    tags=("dialect", "battery", "subscript"),
    doc="""Round-10 NOTES-1 burndown (r9 verdict item 8): map/struct/list
    COLUMN subscripts pinned on data. The NOTES deviation 'map COLUMN
    subscripts stay scalar' is STALE — the uq_polymap/uq_polymapi
    LIMIT-0 probes resolve map-vs-struct-vs-list per site, so string
    keys, integer keys, expression keys, and missing keys all return
    DuckDB's single-element-LIST semantics on map columns while struct
    subscripts stay scalar and list subscripts stay 1-based/negative-
    from-end/NULL-out-of-bounds. list_distinct element ORDER remains a
    documented deviation — probed round 10: DuckDB 1.0.0's order is a
    hash-table artifact (reverse-first-occurrence only below ~14
    distinct values), irreproducible by construction — so the battery
    pins the sound order-free form (list_sort o list_distinct), which
    also pins NULL removal.""",
    oracle=_B35_SQL,
)




# -- battery36 family splits (round 11) ------------------------------------
#
# Round 10's dialect_gap_battery36 packed ~45 idioms into one entry and
# failed the DRIVER's oracle on value hash (CORRECTNESS_r10: rows/schema
# match, hash doesn't) while passing the local DuckDB-1.0.0 gate — at
# least one idiom is version-volatile (the reference pins DuckDB 1.5.2,
# Cargo.toml:11; only 1.0.0 is installed here and the network is dead).
# Per the r10 verdict: split into family-scoped entries (≤12 idioms
# each) so one driver hash bit isolates the offending FAMILY, and
# re-derive volatile semantics from 1.5.2 documentation, not the 1.0.0
# binary. Standing rule: new batteries cap at ~12 idioms.

_B36_SRC = """
WITH src AS (
  SELECT o_orderkey AS k, o_orderdate AS d, o_totalprice AS p,
         CAST(o_orderkey % 7 + 1 AS INTEGER) AS n
  FROM orders WHERE o_orderkey <= 400
)
"""

_B36_TEMPORAL_SQL = _B36_SRC + """
SELECT k,
       last_day(d)                  AS v_lastday,
       monthname(d)                 AS v_mn,
       dayname(d)                   AS v_dn,
       weekofyear(d)                AS v_woy,
       strftime(d, '%U|%W|%V|%G')   AS v_weeks,
       strftime(d, 'wk%V of %G')    AS v_wlit,
       subtract(CAST(d AS DATE), n) AS v_subd,
       epoch_ns(CAST(d AS TIMESTAMP)) AS v_ens
FROM src ORDER BY k
"""


register_sql(
    "dialect_gap_b36_temporal",
    tags=("dialect", "battery", "functions"),
    doc="""b36 split, temporal family: last_day/monthname/dayname/
    weekofyear, strftime week-number codes %U/%W/%V/%G plus literal
    letters in formats, date-typed subtract(), epoch_ns. Probed
    version-STABLE: 1.0.0's %U/%W/%V/%G agree with C-standard strftime
    (Python differential, 40 dates spanning ISO-year boundaries).""",
    oracle=_B36_TEMPORAL_SQL,
)


_B36_INTDIV_SQL = _B36_SRC + """
SELECT k,
       divide(k, n)    AS v_divi,
       k // n          AS v_fdi,
       k // (n - 1)    AS v_fd0,
       mod(k, n - 1)   AS v_mod0,
       multiply(n, 3)  AS v_mul,
       add(k, n)       AS v_add,
       xor(k % 32, n)  AS v_xor
FROM src ORDER BY k
"""


register_sql(
    "dialect_gap_b36_intdiv",
    tags=("dialect", "battery", "functions"),
    doc="""b36 split, integral operator-alias family: divide()/`//` on
    integral operands (truncating), ÷0 and mod-0 → NULL (probed on
    1.0.0; NULL-on-zero has been DuckDB behavior since 0.x),
    add/multiply/xor. Integral division semantics are stable across
    DuckDB versions — the version-suspect FRACTIONAL forms live in
    dialect_gap_b36_fracdiv so a driver hash bit separates them.""",
    oracle=_B36_INTDIV_SQL,
)


_B36_FRACDIV_SQL = _B36_SRC + """
SELECT k,
       round(divide(p, n), 4)    AS v_divf,
       round(p // n, 4)          AS v_fdf,
       round((p + k) // 3, 4)    AS v_fde,
       round(fdiv(p, n), 4)      AS v_fdiv,
       round(fmod(p, n + 0.5), 4) AS v_fmod
FROM src ORDER BY k
"""


register_sql(
    "dialect_gap_b36_fracdiv",
    tags=("dialect", "battery", "functions"),
    doc="""b36 split, FRACTIONAL division family — deliberately isolated:
    on DuckDB 1.0.0, `//` and divide() on fractional operands perform
    PLAIN division (probed: 42.7 // 5 = 8.54, CAST(9.7 AS DECIMAL) //
    2 = 4.85) while fdiv/fmod are floored (fdiv(9.7, 2) = 4.0). The
    plain-division `//` is the one semantic here we could not
    re-derive from 1.5.2 documentation (docs call `//` integer
    division but only show integral examples); if the driver's oracle
    marks THIS entry red while b36_intdiv stays green, the 1.5.2
    semantic is floored division on fractional operands and the
    divide/`//` dispatch in rewrite.py:_rewrite_divide_xor should
    switch its double arm to floor().""",
    oracle=_B36_FRACDIV_SQL,
)


_B36_MAPLIST_SQL = _B36_SRC + """
SELECT k,
       map_entries(MAP {'a': k, 'b': k + 1})[2].value AS v_me,
       cardinality(MAP {'a': k, 'b': k + 1})          AS v_card,
       map_concat(MAP {'a': k}, MAP {'b': CAST(n AS BIGINT)})['b'][1] AS v_mc,
       array_to_string(list_select([k % 5, k % 3, k % 7], [3, 1]), ',') AS v_sel,
       array_to_string(list_grade_up([k % 5, k % 3, k % 7]), ',')       AS v_gup,
       array_to_string(list_reverse_sort([k % 5, k % 3, k % 7]), ',')   AS v_rvs
FROM src ORDER BY k
"""


register_sql(
    "dialect_gap_b36_maplist",
    tags=("dialect", "battery", "functions"),
    doc="""b36 split, map/list family: map_entries (insertion-ordered
    struct list), cardinality, map_concat + single-element-LIST map
    subscript, list_select / list_grade_up / list_reverse_sort.
    The map-subscript-returns-LIST shape is structural: were the
    driver's DuckDB to return the value directly, the oracle would
    ERROR (it records err, not a hash bit), so a red here is a value
    divergence inside the list functions.""",
    oracle=_B36_MAPLIST_SQL,
)


_B36_LISTUNIQ_SPARK_SQL = _B36_SRC + """
SELECT k,
       list_unique([k % 5, k % 3, k % 5, NULL]) AS v_uniq,
       array_unique([k % 2, k % 3, NULL])       AS v_auniq,
       list_unique([k % 5, k % 3, k % 5])       AS v_nonull,
       list_unique([NULL])                      AS v_onlynull
FROM src ORDER BY k
"""

# Oracle expresses DuckDB 1.5.2's DOCUMENTED semantics portably —
# len(list_distinct()) is NULL-free on every version, plus one for a
# present NULL — because the local gate binary (1.0.0) predates the
# change and would pin the stale value (the round-10 battery36 driver
# hash-fail). Docs example: list_unique([1, 1, NULL, -3, -3, -3]) = 3.
_B36_LISTUNIQ_ORACLE_SQL = _B36_SRC + """
SELECT k,
       len(list_distinct([k % 5, k % 3, k % 5, NULL]))
         + CASE WHEN len(list_filter([k % 5, k % 3, k % 5, NULL],
                                     x -> x IS NULL)) > 0
                THEN 1 ELSE 0 END AS v_uniq,
       len(list_distinct([k % 2, k % 3, NULL]))
         + CASE WHEN len(list_filter([k % 2, k % 3, NULL],
                                     x -> x IS NULL)) > 0
                THEN 1 ELSE 0 END AS v_auniq,
       len(list_distinct([k % 5, k % 3, k % 5])) AS v_nonull,
       1                                         AS v_onlynull
FROM src ORDER BY k
"""


register_sql(
    "dialect_gap_b36_listuniq",
    tags=("dialect", "battery", "functions"),
    doc="""b36 split, list_unique/array_unique NULL counting — the
    CONFIRMED round-10 version divergence: DuckDB 1.0.0 (local binary)
    excludes NULL from the distinct count (probed: list_unique([1, 1,
    NULL, -3, -3, -3]) = 2) while ≥1.1 — including the reference's
    pinned 1.5.2 — counts it as one distinct element (docs example:
    3). The Spark side implements the 1.5.2 semantic (array_distinct
    keeps NULL); the oracle derives the same value portably so the
    entry is green on ANY oracle version (see
    _B36_LISTUNIQ_ORACLE_SQL).""",
    oracle=_B36_LISTUNIQ_ORACLE_SQL,
    sql=_B36_LISTUNIQ_SPARK_SQL,
)


_B36_STRDIST_SQL = _B36_SRC + """
SELECT k,
       round(jaccard('duck', CASE WHEN k % 2 = 0 THEN 'luck' ELSE 'dock' END), 6) AS v_jac,
       mismatches('duck', CASE WHEN k % 2 = 0 THEN 'luck' ELSE 'dock' END) AS v_mis,
       hamming('duck', 'dusk')       AS v_ham,
       unicode(chr(9731 + n))        AS v_uni,
       strpos('hello', 'll')         AS v_sp,
       position('l' IN 'hello')      AS v_pos,
       bit_length(CAST(k AS VARCHAR)) AS v_bl
FROM src ORDER BY k
"""


register_sql(
    "dialect_gap_b36_strdist",
    tags=("dialect", "battery", "functions"),
    doc="""b36 split, string-distance/position family: jaccard (character
    -set similarity; 1.0.0 matches the current docs example
    jaccard('duck', 'luck') = 0.6), mismatches/hamming, unicode∘chr,
    strpos, standard position(x IN y), bit_length.""",
    oracle=_B36_STRDIST_SQL,
)


_B36_MATH_SQL = _B36_SRC + """
SELECT k,
       gamma(n)                          AS v_gam,
       round(lgamma(k % 32 + 2), 9)      AS v_lg,
       CAST(factorial(n) AS BIGINT)      AS v_fact,
       even((k % 16) * 0.5 + 0.25 - 4.0) AS v_even,
       round(cot(n), 9)                  AS v_cot
FROM src ORDER BY k
"""

# Round-12: the r11 driver hash-fail traced to even(o_totalprice % 9 - 4.5)
# — DOUBLE fmod in 1.0.0 vs exact DECIMAL modulo in newer DuckDB drifts 3
# rows across an even-integer boundary. The combined entry now uses the
# same version-portable domains and derived oracle as the five bisected
# dialect_gap_b36m_* entries (which lead the r12 window for isolation).
_B36_MATH_ORACLE_SQL = _B36_SRC + """
SELECT k,
       CAST(factorial(CAST(k % 7 AS INTEGER)) AS DOUBLE) AS v_gam,
       round(ln(CAST(factorial(CAST(k % 32 + 1 AS INTEGER)) AS DOUBLE)), 9) AS v_lg,
       CAST(factorial(n) AS BIGINT)                      AS v_fact,
       even((k % 16) * 0.5 + 0.25 - 4.0)                 AS v_even,
       round(cos(n) / sin(n), 9)                         AS v_cot
FROM src ORDER BY k
"""


register_sql(
    "dialect_gap_b36_math",
    tags=("dialect", "battery", "functions"),
    doc="""b36 split, math family: gamma/lgamma/factorial, even (round
    away from zero to the next even integer), cot — r12 re-derived to
    version-portable domains after the r11 driver hash-fail (see
    _B36_MATH_ORACLE_SQL note and the dialect_gap_b36m_* bisection).""",
    oracle=_B36_MATH_ORACLE_SQL,
    sql=_B36_MATH_SQL,
)


_B36_BASECONV_SQL = _B36_SRC + """
SELECT k,
       to_base(k % 200, 16) AS v_b16,
       hex(k % 300)         AS v_hex,
       bin(n)               AS v_bin
FROM src ORDER BY k
"""


register_sql(
    "dialect_gap_b36_baseconv",
    tags=("dialect", "battery", "functions"),
    doc="""b36 split, base-conversion family: to_base (uppercase digits,
    1.0.0 matches the current docs example to_base(42, 16) = '2A'),
    hex (no leading-zero pair trim), bin.""",
    oracle=_B36_BASECONV_SQL,
)


_B37_SQL = """
WITH src AS (
  SELECT doc_id AS k, text AS c
  FROM documents WHERE doc_id <= 300
)
SELECT k,
       CAST(DATE '999-06-01' AS VARCHAR)                        AS v_d3,
       CAST(DATE '99-06-01' AS VARCHAR)                         AS v_d2,
       CAST(TIMESTAMP '999-06-01 10:30:00' AS VARCHAR)          AS v_ts3,
       year(DATE '9-3-15')                                      AS v_y1,
       datediff('day', DATE '999-01-01', DATE '1000-01-01') + k AS v_dd,
       CAST(greatest(DATE '999-01-01', DATE '2024-01-01') AS VARCHAR) AS v_gt,
       regexp_matches(c, 'DATA', 'i')                           AS v_ri,
       regexp_matches(c, 'THE', 'ci')                           AS v_rci,
       regexp_matches(c, 'the', 'ic')                           AS v_ric,
       regexp_matches(c, 'e.r', 'l')                            AS v_rl,
       regexp_matches(upper(c), substr(c, 3, 2), 'il')          AS v_rnl,
       regexp_matches('a' || chr(10) || substr(c, 1, 1), 'a.', 's') AS v_rs
FROM src ORDER BY k
"""


register_sql(
    "dialect_gap_b37_datelit_reflags",
    tags=("dialect", "battery", "functions"),
    doc="""Round-11 wave-6 battery (≤12 idioms per the standing rule): the
    two gaps the wave-6 dual probe found — (1) pre-1000-year typed
    DATE/TIMESTAMP literals (Spark requires 4-digit years; DuckDB
    accepts '999-06-01' → the whole family was a loud error; the
    gateway now zero-pads the year), exercised through CAST text,
    year(), datediff and greatest; (2) 3-arg regexp_matches option
    strings (last-wins 'c'/'i', literal-match 'l' incl. a non-literal
    pattern + case-fold combo, dotall 's') — previously a loud
    wrong-arity error through the 1:1 regexp_like rename. 22 other
    wave-6 candidates probed natively identical (gcd/lcm, millennium,
    nextafter/signbit, string_to_array, regexp_split_to_array,
    ends_with/starts_with, jaro_winkler_similarity,
    damerau_levenshtein, editdist3, list_cosine_similarity/
    list_dot_product/list_inner_product/list_distance, to_base64,
    interval constructors to_centuries/to_decades/to_millennia through
    the interval-text serving path) — no action, pinned here only via
    the probe log (NOTES round-11).""",
    oracle=_B37_SQL,
)


@register(
    "prepared_statement_roundtrip",
    tags=("dialect", "session"),
    oracle="""
SELECT o_orderkey AS k, o_totalprice AS p
FROM orders
WHERE o_orderkey % 7 = 3 AND o_totalprice > 1000.0
ORDER BY k LIMIT 50
""",
)
def prepared_statement_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Round-11: DuckDB prepared statements (PREPARE name AS … $n /
    EXECUTE name(args) / DEALLOCATE) through the gateway — graduated
    out of the forbidden list; query-level session state like CREATE
    VIEW/MACRO. The callable drives the full statement lifecycle
    (prepare → execute twice with different args → redefine →
    deallocate) and returns the final EXECUTE's result; the oracle is
    the equivalent substituted SELECT (DuckDB can't run its own
    PREPARE+EXECUTE as one statement, so lifecycle corners are pinned
    in tests/test_rewrite.py::test_prepare_execute_deallocate)."""
    gateway_sql(
        spark,
        sf,
        "PREPARE uq_psr AS SELECT o_orderkey AS k, o_totalprice AS p "
        "FROM orders WHERE o_orderkey % $1 = $2 AND o_totalprice > ? "
        "ORDER BY k LIMIT 50",
    )
    gateway_sql(spark, sf, "EXECUTE uq_psr(5, 1, 900.0)").collect()
    out = gateway_sql(spark, sf, "EXECUTE uq_psr(7, 3, 1000.0)")
    gateway_sql(spark, sf, "DEALLOCATE uq_psr")
    return out


_B38_SQL = """
WITH src AS (
  SELECT o_orderkey AS k,
         o_orderstatus AS st,
         CAST(o_totalprice AS DOUBLE) AS p,
         CASE WHEN o_orderkey % 5 = 0 THEN NULL
              ELSE CAST(o_totalprice AS DOUBLE) END AS pn
  FROM orders WHERE o_orderkey <= 400
)
SELECT k,
       round(median(p) OVER (PARTITION BY st ORDER BY k), 4)        AS v_rmed,
       round(quantile_cont(p, 0.25) OVER (PARTITION BY st ORDER BY k), 4) AS v_qc,
       round(quantile(p, 0.75) OVER (PARTITION BY st ORDER BY k
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4)          AS v_qd,
       round(mad(p) OVER (PARTITION BY st ORDER BY k
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4)          AS v_mad,
       round(median(pn) FILTER (WHERE pn > 50000)
             OVER (PARTITION BY st ORDER BY k), 4)                  AS v_medf,
       first_value(pn IGNORE NULLS) OVER (PARTITION BY st ORDER BY k) AS v_fv,
       last_value(pn IGNORE NULLS) OVER (PARTITION BY st ORDER BY k
             ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)              AS v_lv,
       nth_value(pn, 2 IGNORE NULLS) OVER (PARTITION BY st ORDER BY k
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS v_nv,
       lag(pn IGNORE NULLS) OVER (PARTITION BY st ORDER BY k)       AS v_lag,
       lead(pn, 1 IGNORE NULLS) OVER (PARTITION BY st ORDER BY k)   AS v_lead
FROM src ORDER BY k
"""


# Round-13 version-skew sweep: the oracle below never calls median /
# quantile_cont / quantile / mad. Each running or framed percentile is
# restated as explicit order statistics over a self-join that
# materializes every window frame as a group (O(n²) pairs — fine at
# the oracle's 400-key scale): cumulative frames join on j.k <= i.k,
# ROWS-framed specs join on j.irn BETWEEN i.irn - w AND i.irn. The
# index rules mirror the translation verbatim (rewrite.py:1848-1868):
# median = (lower-half max + upper-half min)/2, cont interpolates at
# q·(n−1) as el[lo+1] + (el[lo+2]−el[lo+1])·frac, disc takes
# el[max(1, ceil(q·n))]. The IGNORE-NULLS navigation columns stay —
# positional selection has no estimator to change.
_B38_ORACLE_SQL = """
WITH src AS (
  SELECT o_orderkey AS k,
         o_orderstatus AS st,
         CAST(o_totalprice AS DOUBLE) AS p,
         CASE WHEN o_orderkey % 5 = 0 THEN NULL
              ELSE CAST(o_totalprice AS DOUBLE) END AS pn,
         row_number() OVER (PARTITION BY o_orderstatus
                            ORDER BY o_orderkey) AS irn
  FROM orders WHERE o_orderkey <= 400
), cum AS (
  SELECT i.k AS ik, j.p AS v,
         row_number() OVER (PARTITION BY i.k ORDER BY j.p) AS rn,
         count(*)    OVER (PARTITION BY i.k) AS n
  FROM src i JOIN src j ON j.st = i.st AND j.k <= i.k
), cum2 AS (
  SELECT ik, v, rn, n,
         0.25 * (n - 1) AS qidx,
         CAST(floor(0.25 * (n - 1)) AS INTEGER) AS qlo
  FROM cum
), rmedqc AS (
  SELECT ik,
         round((max(v) FILTER (rn * 2 <= n + 1)
                + min(v) FILTER (rn * 2 >= n + 1)) / 2, 4) AS v_rmed,
         round(CASE WHEN max(qidx) = floor(max(qidx))
               THEN max(v) FILTER (rn = qlo + 1)
               ELSE max(v) FILTER (rn = qlo + 1)
                    + (max(v) FILTER (rn = qlo + 2)
                       - max(v) FILTER (rn = qlo + 1))
                    * (max(qidx) - floor(max(qidx))) END, 4) AS v_qc
  FROM cum2 GROUP BY ik
), fr4 AS (
  SELECT i.k AS ik, j.p AS v,
         row_number() OVER (PARTITION BY i.k ORDER BY j.p) AS rn,
         count(*)    OVER (PARTITION BY i.k) AS n
  FROM src i JOIN src j
    ON j.st = i.st AND j.irn BETWEEN i.irn - 3 AND i.irn
), qd AS (
  SELECT ik,
         round(max(v) FILTER (
           rn = greatest(1, CAST(ceil(0.75 * n) AS INTEGER))), 4) AS v_qd
  FROM fr4 GROUP BY ik
), fr3 AS (
  SELECT i.k AS ik, j.p AS v,
         row_number() OVER (PARTITION BY i.k ORDER BY j.p) AS rn,
         count(*)    OVER (PARTITION BY i.k) AS n
  FROM src i JOIN src j
    ON j.st = i.st AND j.irn BETWEEN i.irn - 2 AND i.irn
), md3 AS (
  SELECT ik, (max(v) FILTER (rn * 2 <= n + 1)
              + min(v) FILTER (rn * 2 >= n + 1)) / 2 AS med
  FROM fr3 GROUP BY ik
), dv3 AS (
  SELECT fr3.ik, abs(v - med) AS dv,
         row_number() OVER (PARTITION BY fr3.ik ORDER BY abs(v - med)) AS rn,
         count(*)    OVER (PARTITION BY fr3.ik) AS n
  FROM fr3 JOIN md3 USING (ik)
), madw AS (
  SELECT ik, round((max(dv) FILTER (rn * 2 <= n + 1)
                    + min(dv) FILTER (rn * 2 >= n + 1)) / 2, 4) AS v_mad
  FROM dv3 GROUP BY ik
), cumf AS (
  SELECT i.k AS ik, j.pn AS v,
         row_number() OVER (PARTITION BY i.k ORDER BY j.pn) AS rn,
         count(*)    OVER (PARTITION BY i.k) AS n
  FROM src i JOIN src j ON j.st = i.st AND j.k <= i.k
  WHERE j.pn > 50000
), medf AS (
  SELECT ik, round((max(v) FILTER (rn * 2 <= n + 1)
                    + min(v) FILTER (rn * 2 >= n + 1)) / 2, 4) AS v_medf
  FROM cumf GROUP BY ik
), nav AS (
  SELECT k,
       first_value(pn IGNORE NULLS) OVER (PARTITION BY st ORDER BY k) AS v_fv,
       last_value(pn IGNORE NULLS) OVER (PARTITION BY st ORDER BY k
             ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)              AS v_lv,
       nth_value(pn, 2 IGNORE NULLS) OVER (PARTITION BY st ORDER BY k
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS v_nv,
       lag(pn IGNORE NULLS) OVER (PARTITION BY st ORDER BY k)       AS v_lag,
       lead(pn, 1 IGNORE NULLS) OVER (PARTITION BY st ORDER BY k)   AS v_lead
  FROM src
)
SELECT src.k, v_rmed, v_qc, v_qd, v_mad, v_medf,
       v_fv, v_lv, v_nv, v_lag, v_lead
FROM src
JOIN rmedqc ON src.k = rmedqc.ik
JOIN qd     ON src.k = qd.ik
JOIN madw   ON src.k = madw.ik
LEFT JOIN medf ON src.k = medf.ik
JOIN nav    ON src.k = nav.k
ORDER BY src.k
"""


register_sql(
    "dialect_gap_b38_winpct",
    tags=("dialect", "battery", "window"),
    doc="""Round-11 wave-7 battery (≤12 idioms): running window
    percentiles — median / quantile_cont / quantile (disc) / mad over
    ORDER BY and framed specs, incl. FILTER — which Spark's percentile
    family rejects outright (translated through one collect_list per
    spec, LET-bound sorted array, DuckDB-probed index rules: cont
    interpolates at q·(n−1), disc takes max(1, ceil(q·n))); and
    DuckDB's arg-internal IGNORE NULLS placement for first_value/
    last_value/nth_value/lag/lead (relocated to Spark's postfix —
    DuckDB REJECTS the postfix form, so the two dialects are exactly
    opposite). Prices pre-cast to DOUBLE on both sides: DuckDB's
    DECIMAL median is discrete (documented deviation class), the
    DOUBLE one interpolates like the translation.""",
    oracle=_B38_ORACLE_SQL,
    sql=_B38_SQL,
)


_B39_SQL = """
WITH src AS (
  SELECT o_orderkey AS k,
         concat('{"n":"', CAST(o_orderkey % 90 + 1 AS VARCHAR),
                CASE WHEN o_orderkey % 3 = 0 THEN '.5' ELSE '' END,
                '","tag":', CAST(o_orderkey % 5 AS VARCHAR),
                ',"arr":[', CAST(o_orderkey % 4 AS VARCHAR), ',"7"]}') AS j
  FROM orders WHERE o_orderkey <= 300
)
SELECT k,
       json_transform(j, '{"n":"INTEGER","tag":"VARCHAR"}').n   AS v_coerce,
       json_transform(j, '{"n":"INTEGER","tag":"VARCHAR"}').tag AS v_str,
       json_transform(j, '{"n":"DOUBLE"}').n                    AS v_dbl,
       from_json(j, '{"arr":["BIGINT"]}').arr[2]                AS v_arr,
       json_array_length(j, '$.arr')                           AS v_len,
       array_to_string(json_extract(j, ['$.tag', '$.n']), '|')  AS v_multi
FROM src ORDER BY k
"""


register_sql(
    "dialect_gap_b39_json",
    tags=("dialect", "battery", "json"),
    doc="""Round-11 wave-8 battery: from_json/json_transform string-scalar
    COERCION (the old from_json emission silently yielded NULL where
    DuckDB coerces '"5"' → 5 — now try_variant_get per field, with
    DuckDB's fractional→integer ROUNDING via a DOUBLE detour),
    per-element coercion inside arrays, 2-arg json_array_length(j,
    path), and list-of-paths json_extract. 12 more JSON idioms probed
    natively identical this wave (json_keys/structure/type/contains/
    valid/quote/array/object/merge_patch, to_json list+struct,
    group_array/group_object); json_extract '[#-1]' from-end indexes
    and json_group_structure stay loud errors (documented — value-
    dependent paths can't fold into Spark's static-path extraction).""",
    oracle=_B39_SQL,
)


# ---------------------------------------------------------------------------
# Round-13: b40_liststats rebuilt with a VERSION-PORTABLE oracle (r12 verdict
# #1 — the only red driver row: the old oracle called list_sem/list_skewness/
# list_kurtosis/list_mad/list_entropy directly, so whichever estimator the
# driver's newer DuckDB changed moved the expected value; it passed the local
# 1.0.0 gate nine rounds running). The b36m technique applied to statistics:
# every element is an exact small integer (floor(price)%89, k%97, k%53, k%7 —
# all exactly representable in double, sums-of-powers <= 97^4*4 < 2^53 so the
# raw moments s1..s4 are EXACT integers on any IEEE-754 binary), and the
# oracle computes each estimator EXPLICITLY from s1..s4 with the SAME
# operation order as the Spark-side fold translation (rewrite.py:1167-1260):
# +,-,*,/ and sqrt are correctly rounded per IEEE-754, so the two sides are
# bit-identical; the only libm calls (pow in the shape family, log2 in
# entropy) feed O(1)-magnitude outputs where round(,6) absorbs any ulp.
# No list_<stat> call appears in any oracle — a future estimator change in
# the oracle binary cannot move an expected value. Four family singles
# (moments/shape/mad/misc) lead the r13 window so a residual red row
# isolates its family; the combined entry keeps the original key so the
# r12 red row itself turns green.
# ---------------------------------------------------------------------------

_B40S_SRC = """
WITH src AS (
  SELECT o_orderkey AS k,
         CAST(CAST(floor(o_totalprice) AS BIGINT) % 89 AS DOUBLE) AS a,
         CAST(o_orderkey % 97 AS DOUBLE) AS b,
         CAST(o_custkey % 53 AS DOUBLE)  AS c,
         CAST(o_orderkey % 7 AS DOUBLE)  AS d
  FROM orders WHERE o_orderkey <= 300
)
"""

# Explicit-moment helpers shared by the oracles below. s1..s4 mirror the
# translation's left-to-right aggregate() folds (rewrite.py:1170-1174);
# css is the centered sum of squares exactly as var_pop/var_samp compute
# it: greatest(s2 - (s1*s1)/n, 0) with n = 4.0 (division by 4 is exact).
_B40S_M = """
, m AS (
  SELECT k, a, b, c, d,
         a + b + c + d                         AS s1,
         a*a + b*b + c*c + d*d                 AS s2,
         a*a*a + b*b*b + c*c*c + d*d*d         AS s3,
         a*a*a*a + b*b*b*b + c*c*c*c + d*d*d*d AS s4,
         list_sort([a, b, c, d])               AS srt
  FROM src
), mm AS (
  SELECT k, a, b, c, d, s2, s3, s4,
         s1 / 4.0                              AS mu,
         greatest(s2 - (s1 * s1) / 4.0, 0.0)   AS css,
         (srt[2] + srt[3]) / 2                 AS med
  FROM m
)
"""

_B40_SQL = _B40S_SRC + """
, lsrc AS (SELECT k, [a, b, c, d] AS xs FROM src)
SELECT k,
       round(list_sem(xs), 6)                         AS v_sem,
       round(list_stddev_samp(xs), 6)                 AS v_sds,
       round(list_stddev_pop(xs), 6)                  AS v_sdp,
       round(list_var_samp(xs), 6)                    AS v_vs,
       round(list_var_pop(xs), 6)                     AS v_vp,
       round(list_skewness(xs), 6)                    AS v_skew,
       round(list_kurtosis(xs), 6)                    AS v_kurt,
       round(list_entropy([k % 3, k % 5, k % 3]), 6)  AS v_ent,
       round(list_product([CAST(k % 5 AS DOUBLE), 2.0, 0.5]), 6) AS v_prod,
       list_string_agg([CAST(k % 5 AS VARCHAR), NULL, 'x'])      AS v_sagg,
       round(list_mad(xs), 6)                         AS v_mad,
       round(list_aggregate(CAST(xs AS DOUBLE[]), 'variance'), 6) AS v_var
FROM lsrc ORDER BY k
"""

_B40_ORACLE_SQL = _B40S_SRC + _B40S_M + """
, sh AS (
  SELECT k, css, med, a, b, c, d,
         s2 / 4.0 - mu * mu                              AS m2v,
         s3 / 4.0 - 3 * mu * (s2 / 4.0) + 2 * pow(mu, 3) AS m3v,
         s4 / 4.0 - 4 * mu * (s3 / 4.0)
           + 6 * pow(mu, 2) * (s2 / 4.0) - 3 * pow(mu, 4) AS m4v
  FROM mm
), dv AS (
  SELECT k, css, m2v, m3v, m4v,
         list_sort([abs(a - med), abs(b - med),
                    abs(c - med), abs(d - med)]) AS devs
  FROM sh
)
SELECT k,
       round(sqrt(css / 4.0) / 2.0, 6) AS v_sem,
       round(sqrt(css / 3.0), 6)       AS v_sds,
       round(sqrt(css / 4.0), 6)       AS v_sdp,
       round(css / 3.0, 6)             AS v_vs,
       round(css / 4.0, 6)             AS v_vp,
       round(m3v / pow(greatest(m2v, 0.0), 1.5)
             * sqrt(4.0 * (4.0 - 1)) / (4.0 - 2), 6) AS v_skew,
       round((4.0 - 1) / ((4.0 - 2) * (4.0 - 3))
             * ((4.0 + 1) * (m4v / pow(m2v, 2) - 3) + 6), 6) AS v_kurt,
       round(CASE WHEN k % 5 = k % 3 THEN 0.0
             ELSE -((2.0/3.0) * log2(2.0/3.0)
                    + (1.0/3.0) * log2(1.0/3.0)) END, 6) AS v_ent,
       round(CAST(k % 5 AS DOUBLE), 6)   AS v_prod,
       CAST(k % 5 AS VARCHAR) || ',x'    AS v_sagg,
       round((devs[2] + devs[3]) / 2, 6) AS v_mad,
       round(css / 3.0, 6)               AS v_var
FROM dv ORDER BY k
"""


register_sql(
    "dialect_gap_b40_liststats",
    tags=("dialect", "battery", "functions"),
    doc="""Round-11 wave-9 battery (≤12 idioms): the list_<aggregate>
    statistics family — sem/stddev_samp/stddev_pop/var_samp/var_pop/
    variance (via list_aggregate spelling)/skewness/kurtosis (corrected
    sample estimators, mirroring the aggregate-level translations)/
    entropy/product/string_agg/mad — plus the array-type cast suffix
    (CAST(xs AS DOUBLE[])). Round-13: oracle rebuilt version-portable
    (explicit moment arithmetic, never calls list_<stat> — see the
    _B40S_SRC block note); the four dialect_gap_b40s_* singles below
    isolate the families.""",
    oracle=_B40_ORACLE_SQL,
    sql=_B40_SQL,
)


_B40S_MOMENTS_SPARK_SQL = _B40S_SRC + """
, lsrc AS (SELECT k, [a, b, c, d] AS xs FROM src)
SELECT k,
       round(list_sem(xs), 6)         AS v_sem,
       round(list_stddev_samp(xs), 6) AS v_sds,
       round(list_stddev_pop(xs), 6)  AS v_sdp,
       round(list_var_samp(xs), 6)    AS v_vs,
       round(list_var_pop(xs), 6)     AS v_vp,
       round(list_aggregate(CAST(xs AS DOUBLE[]), 'variance'), 6) AS v_var
FROM lsrc ORDER BY k
"""

_B40S_MOMENTS_ORACLE_SQL = _B40S_SRC + _B40S_M + """
SELECT k,
       round(sqrt(css / 4.0) / 2.0, 6) AS v_sem,
       round(sqrt(css / 3.0), 6)       AS v_sds,
       round(sqrt(css / 4.0), 6)       AS v_sdp,
       round(css / 3.0, 6)             AS v_vs,
       round(css / 4.0, 6)             AS v_vp,
       round(css / 3.0, 6)             AS v_var
FROM mm ORDER BY k
"""


register_sql(
    "dialect_gap_b40s_moments",
    tags=("dialect", "battery", "functions"),
    doc="""b40 family single 1/4 — second-moment estimators (sem /
    stddev_samp / stddev_pop / var_samp / var_pop / variance-via-
    list_aggregate). The oracle computes greatest(s2 - s1²/n, 0)/d
    explicitly from exact-integer raw moments; sqrt and / are IEEE-754
    correctly rounded, so no oracle-binary change can move a value.""",
    oracle=_B40S_MOMENTS_ORACLE_SQL,
    sql=_B40S_MOMENTS_SPARK_SQL,
)


_B40S_SHAPE_SPARK_SQL = _B40S_SRC + """
, lsrc AS (SELECT k, [a, b, c, d] AS xs FROM src)
SELECT k,
       round(list_skewness(xs), 6) AS v_skew,
       round(list_kurtosis(xs), 6) AS v_kurt
FROM lsrc ORDER BY k
"""

_B40S_SHAPE_ORACLE_SQL = _B40S_SRC + _B40S_M + """
, sh AS (
  SELECT k,
         s2 / 4.0 - mu * mu                              AS m2v,
         s3 / 4.0 - 3 * mu * (s2 / 4.0) + 2 * pow(mu, 3) AS m3v,
         s4 / 4.0 - 4 * mu * (s3 / 4.0)
           + 6 * pow(mu, 2) * (s2 / 4.0) - 3 * pow(mu, 4) AS m4v
  FROM mm
)
SELECT k,
       round(m3v / pow(greatest(m2v, 0.0), 1.5)
             * sqrt(4.0 * (4.0 - 1)) / (4.0 - 2), 6) AS v_skew,
       round((4.0 - 1) / ((4.0 - 2) * (4.0 - 3))
             * ((4.0 + 1) * (m4v / pow(m2v, 2) - 3) + 6), 6) AS v_kurt
FROM sh ORDER BY k
"""


register_sql(
    "dialect_gap_b40s_shape",
    tags=("dialect", "battery", "functions"),
    doc="""b40 family single 2/4 — shape estimators (skewness G1, kurtosis
    G2 with the sample corrections the aggregate-level translation
    encodes, rewrite.py:1193-1200). The oracle derives both from the
    exact central moments m2/m3/m4 with mirrored operation order; the
    two pow() calls feed O(1) outputs where round(,6) absorbs ulp.""",
    oracle=_B40S_SHAPE_ORACLE_SQL,
    sql=_B40S_SHAPE_SPARK_SQL,
)


_B40S_MAD_SPARK_SQL = _B40S_SRC + """
, lsrc AS (SELECT k, [a, b, c, d] AS xs FROM src)
SELECT k, round(list_mad(xs), 6) AS v_mad
FROM lsrc ORDER BY k
"""

_B40S_MAD_ORACLE_SQL = _B40S_SRC + _B40S_M + """
, dv AS (
  SELECT k,
         list_sort([abs(a - med), abs(b - med),
                    abs(c - med), abs(d - med)]) AS devs
  FROM mm
)
SELECT k, round((devs[2] + devs[3]) / 2, 6) AS v_mad
FROM dv ORDER BY k
"""


register_sql(
    "dialect_gap_b40s_mad",
    tags=("dialect", "battery", "functions"),
    doc="""b40 family single 3/4 — median absolute deviation. The oracle
    sorts the four exact-integer elements, interpolates the even-n
    median as (srt[2]+srt[3])/2 (the translation's _median_of rule for
    n=4), and repeats on the absolute deviations — list_sort + exact
    dyadic arithmetic only, no quantile/mad function anywhere.""",
    oracle=_B40S_MAD_ORACLE_SQL,
    sql=_B40S_MAD_SPARK_SQL,
)


_B40S_MISC_SPARK_SQL = _B40S_SRC + """
SELECT k,
       round(list_entropy([k % 3, k % 5, k % 3]), 6)              AS v_ent,
       round(list_product([CAST(k % 5 AS DOUBLE), 2.0, 0.5]), 6)  AS v_prod,
       list_string_agg([CAST(k % 5 AS VARCHAR), NULL, 'x'])       AS v_sagg
FROM src ORDER BY k
"""

_B40S_MISC_ORACLE_SQL = _B40S_SRC + """
SELECT k,
       round(CASE WHEN k % 5 = k % 3 THEN 0.0
             ELSE -((2.0/3.0) * log2(2.0/3.0)
                    + (1.0/3.0) * log2(1.0/3.0)) END, 6) AS v_ent,
       round(CAST(k % 5 AS DOUBLE), 6) AS v_prod,
       CAST(k % 5 AS VARCHAR) || ',x'  AS v_sagg
FROM src ORDER BY k
"""


register_sql(
    "dialect_gap_b40s_misc",
    tags=("dialect", "battery", "functions"),
    doc="""b40 family single 4/4 — entropy / product / string_agg. The
    3-element entropy list [k%3, k%5, k%3] has exactly two count
    shapes ({3} or {2,1}), so the oracle states Shannon entropy in
    closed form; product's fold collapses to (k%5)·2·0.5 = k%5 exactly;
    string_agg skips the NULL element per DuckDB.""",
    oracle=_B40S_MISC_ORACLE_SQL,
    sql=_B40S_MISC_SPARK_SQL,
)


# ---------------------------------------------------------------------------
# Round-12 b36_math bisection (r11 verdict #1): the combined math family was
# the ONLY red driver row (rows/schema green, hash red) — it passes the local
# DuckDB 1.0.0 gate, so at least one of gamma/lgamma/factorial/even/cot
# computes differently on the driver's newer oracle binary (the reference
# pins DuckDB 1.5.2, Cargo.toml:11). These five single-function entries use
# the _B36_LISTUNIQ_ORACLE_SQL technique: every oracle derives the expected
# value from arithmetic that is deterministic on ANY IEEE-754 oracle version
# (exact-in-double domains, factorial identities, cos/sin ratios), so the
# entries are green regardless of the oracle binary — while the Spark side
# still exercises the real translated function.
#
# Root-cause note for the combined entry's red hash: in 1.0.0,
# `o_totalprice % 9 - 4.5` is DOUBLE arithmetic (probed: min value
# -4.409999999974389 — fmod on the double representation), while newer
# DuckDB computes DECIMAL modulo exactly; even() of a value that drifts
# across an even-integer boundary (3 such rows at sf0.01) then flips by 2.
# The bisected even entry below feeds even() only exactly-representable,
# non-boundary inputs, which every version agrees on.
# ---------------------------------------------------------------------------

_B36M_GAMMA_SPARK_SQL = _B36_SRC + """
SELECT k,
       gamma(n)                    AS v_gi,
       gamma(k % 12 + 1)           AS v_gw,
       round(gamma(n + 0.5), 6)    AS v_gh
FROM src ORDER BY k
"""

# gamma(n) = (n-1)! exactly (all values <= 11! fit a double exactly);
# gamma(n + 0.5) = (2n)!·sqrt(pi) / (4^n·n!) — the half-integer identity,
# evaluated in plain double arithmetic both versions share.
_B36M_GAMMA_ORACLE_SQL = _B36_SRC + """
SELECT k,
       CAST(factorial(CAST(k % 7 AS INTEGER)) AS DOUBLE)  AS v_gi,
       CAST(factorial(CAST(k % 12 AS INTEGER)) AS DOUBLE) AS v_gw,
       round(CAST(factorial(CAST(2 * n AS INTEGER)) AS DOUBLE)
             / (CAST(factorial(n) AS DOUBLE) * power(4.0, n))
             * sqrt(pi()), 6)                             AS v_gh
FROM src ORDER BY k
"""


register_sql(
    "dialect_gap_b36m_gamma",
    tags=("dialect", "battery", "functions"),
    doc="""b36_math bisection 1/5 — gamma on integer args (exact-in-double
    domain: gamma(n) = (n-1)!, n <= 12) and on half-integers via the
    duplication identity, rounded to 6. The oracle never calls gamma,
    so a libm/implementation change in the oracle binary cannot move
    the expected value.""",
    oracle=_B36M_GAMMA_ORACLE_SQL,
    sql=_B36M_GAMMA_SPARK_SQL,
)


_B36M_LGAMMA_SPARK_SQL = _B36_SRC + """
SELECT k,
       round(lgamma(k % 32 + 2), 9) AS v_lg,
       round(lgamma(1), 9)          AS v_lg1,
       round(lgamma(2), 9)          AS v_lg2
FROM src ORDER BY k
"""

# lgamma(m) = ln((m-1)!); 33! still fits HUGEINT and its double cast is
# correctly rounded, so ln() of it agrees with any faithful lgamma to
# ~1e-13 — far inside the 1e-9 rounding clamp.
_B36M_LGAMMA_ORACLE_SQL = _B36_SRC + """
SELECT k,
       round(ln(CAST(factorial(CAST(k % 32 + 1 AS INTEGER)) AS DOUBLE)), 9) AS v_lg,
       CAST(0.0 AS DOUBLE) AS v_lg1,
       CAST(0.0 AS DOUBLE) AS v_lg2
FROM src ORDER BY k
"""


register_sql(
    "dialect_gap_b36m_lgamma",
    tags=("dialect", "battery", "functions"),
    doc="""b36_math bisection 2/5 — lgamma over integer args 2..33, pinned
    against ln(factorial) computed in exact HUGEINT then one correctly
    rounded double cast; plus the exact zeros lgamma(1) = lgamma(2) = 0.""",
    oracle=_B36M_LGAMMA_ORACLE_SQL,
    sql=_B36M_LGAMMA_SPARK_SQL,
)


_B36M_FACTORIAL_SPARK_SQL = _B36_SRC + """
SELECT k,
       CAST(factorial(n) AS BIGINT)                       AS v_f,
       CAST(factorial(CAST(k % 21 AS INTEGER)) AS BIGINT) AS v_fw,
       CAST(factorial(0) AS BIGINT)                       AS v_f0
FROM src ORDER BY k
"""


register_sql(
    "dialect_gap_b36m_factorial",
    tags=("dialect", "battery", "functions"),
    doc="""b36_math bisection 3/5 — factorial over 0..20 (20! is the last
    value inside BIGINT), compared AS BIGINT on both sides so the
    1.0.0 HUGEINT return type vs any later width change cannot affect
    the hash. Exact integers: no jitter surface at all.""",
    oracle=_B36M_FACTORIAL_SPARK_SQL,
)


_B36M_EVEN_SPARK_SQL = _B36_SRC + """
SELECT k,
       even((k % 16) * 0.5 + 0.25 - 4.0)     AS v_e1,
       even(CAST(k % 9 AS DOUBLE) + 0.5)     AS v_e2,
       even(-(CAST(k % 9 AS DOUBLE) + 0.5))  AS v_e3
FROM src ORDER BY k
"""


register_sql(
    "dialect_gap_b36m_even",
    tags=("dialect", "battery", "functions"),
    doc="""b36_math bisection 4/5 — even() (round away from zero to the
    next even integer) over inputs that are EXACTLY representable in
    both decimal and binary (quarter and half offsets: x.25 / x.75 /
    x.5) and never sit ON an even-integer boundary, so the
    decimal-vs-double modulo divergence that reddened the combined
    entry (see the bisection note above) cannot occur: every oracle
    version computes the identical input and the docs semantics give
    one answer.""",
    oracle=_B36M_EVEN_SPARK_SQL,
)


_B36M_COT_SPARK_SQL = _B36_SRC + """
SELECT k,
       round(cot(n), 9)     AS v_c,
       round(cot(-n), 9)    AS v_cn,
       round(cot(0.5), 9)   AS v_ch
FROM src ORDER BY k
"""

# cot(x) = cos(x)/sin(x): whether the oracle implements cot as 1/tan or
# cos/sin, both agree with this ratio to a few ulp (|cot| <= 7.02 on the
# domain), which round(., 9) absorbs with ~1e5x headroom.
_B36M_COT_ORACLE_SQL = _B36_SRC + """
SELECT k,
       round(cos(n) / sin(n), 9)         AS v_c,
       round(cos(-n) / sin(-n), 9)       AS v_cn,
       round(cos(0.5) / sin(0.5), 9)     AS v_ch
FROM src ORDER BY k
"""


register_sql(
    "dialect_gap_b36m_cot",
    tags=("dialect", "battery", "functions"),
    doc="""b36_math bisection 5/5 — cot over integer radians ±1..8 and one
    half, pinned against the cos/sin ratio the oracle's own libm
    computes; round(., 9) absorbs implementation jitter.""",
    oracle=_B36M_COT_ORACLE_SQL,
    sql=_B36M_COT_SPARK_SQL,
)


_B41_SQL = """
WITH src AS (
  SELECT doc_id AS k,
         '[' || CAST(doc_id % 5 AS VARCHAR) || ',' ||
         CAST(n_chars % 100 AS VARCHAR) || ',7.5]'          AS arr,
         CASE WHEN doc_id % 3 = 0
              THEN '{"id":' || CAST(doc_id % 7 AS VARCHAR)
                   || ',"x":true,"y":[1],"z":{"w":"t"}}'
              WHEN doc_id % 3 = 1
              THEN '{"id":"s' || CAST(doc_id % 4 AS VARCHAR)
                   || '","x":false,"y":[2],"z":{"w":"u"}}'
              ELSE '{"id":2.5,"x":true,"y":[3.5],"z":{"w":"v"}}' END AS j
  FROM documents WHERE doc_id <= 300
)
SELECT k,
       json_extract(arr, '$[#-1]')                      AS v_fe1,
       json_extract(arr, '$[#-3]')                      AS v_fe3,
       json_extract(arr, '$[#-5]')                      AS v_feoob,
       json_extract(arr, '$[#-0]')                      AS v_fe0,
       json_extract_string(j, '$.id')                   AS v_id,
       (json_extract(j, ['$.x', '$.y[#-1]']))[1]        AS v_fel1,
       (json_extract(j, ['$.x', '$.y[#-1]']))[2]        AS v_fel2,
       g.v_gs                                           AS v_gs
FROM src, (SELECT json_group_structure(j::JSON) AS v_gs FROM src) g
ORDER BY k
"""


register_sql(
    "dialect_gap_b41_json_fe",
    tags=("dialect", "battery", "functions"),
    doc="""Round-12 wave-10 battery: the two wave-8 leftovers that were
    documented loud errors — (1) DuckDB's [#-n] from-end JSON path
    indexes (probed: [#-1] last, [#-0] FIRST — python-negative-index
    semantics — out-of-range and JSON null → NULL), exercised through
    json_extract, json_extract_string and the list-of-paths form, via
    an exact-semantics pandas UDF walk; (2) json_group_structure — the
    aggregate form of json_structure — as a map-side per-row structure
    extraction + collect_set (merge is commutative/associative/
    idempotent, so only DISTINCT structure strings — bounded by schema
    complexity — reach the final fold) + one merge UDF, with DuckDB's
    unification rules (key union, numeric widening, conflict → JSON).
    The oracle pins through ::JSON, where every oracle version parses
    (1.0.0's bare-VARCHAR aggregate inconsistently wraps the text as a
    JSON string scalar — probed '"VARCHAR"' — unlike its own scalar
    json_structure; the gateway implements the consistent parse). Every
    source row carries the SAME key sequence so the merged object's
    first-seen key order is deterministic on both engines (key-UNION
    order is implementation-defined in both — pinned order-insensitively
    in the unit battery instead).""",
    oracle=_B41_SQL,
)


_B42_SQL = """
WITH src AS (
  SELECT o_orderkey AS k, o_orderdate AS d,
         TIMESTAMP '2024-01-01 00:00:00'
           + INTERVAL 1 SECOND * (o_orderkey % 86400)
           + INTERVAL 1 MICROSECOND * (o_orderkey * 7919 % 1000000) AS ts
  FROM orders WHERE o_orderkey <= 300
)
SELECT k,
       strftime(d, '%c')                            AS v_c,
       strftime(d, '%x / %X')                       AS v_xx,
       strftime(ts, '%n')                           AS v_n,
       strftime(ts, '%z|%Z|')                       AS v_z,
       strftime(d, '%u %w')                         AS v_uw,
       strftime(ts, 'day %u of wk%V, %c!')          AS v_mix,
       map_concat(map {'a': k % 3, 'b': 1},
                  map {'b': k % 5, 'c': 2})['b'][1] AS v_mc,
       len(array_zip([k % 7, k % 3], [k % 2]))          AS v_azn,
       len(list_zip([k % 7], [k % 2, k % 3], true))     AS v_azt,
       (list_select([k % 7, k % 3, k % 11], [3, 1]))[1] AS v_sel1,
       (list_select([k % 7, k % 3, k % 11], [3, 1]))[2] AS v_sel2,
       (list_grade_up([k % 7, k % 3, k % 11]))[1]       AS v_gu1,
       (list_grade_up([k % 7, k % 3, k % 11]))[3]       AS v_gu3
FROM src ORDER BY k
"""


register_sql(
    "dialect_gap_b42_strftime_map",
    tags=("dialect", "battery", "functions"),
    doc="""Round-12 wave-11 battery (≤12 idioms): strftime %c/%x/%X ISO
    composites, %n 9-digit nanoseconds, %z/%Z on naive timestamps
    ('+00'/'' — the old 'xx' mapping printed '+0000', a silent diff),
    %u/%w unpadded day-of-week expression codes (all previously loud
    'unsupported strftime code'); map_concat duplicate-key LAST-wins
    (was Spark's DUPLICATED_MAP_KEY loud error on DuckDB-valid input;
    n-ary fold with pre-filtered collisions); list_zip/array_zip as a
    transform into named_structs — DuckDB-docs field names
    list_1..list_n, NULL-pad-to-longest, literal truncate flag (the
    old arrays_zip rename used positional 0/1 field names, a silent
    diff; sized here because 1.0.0's structs are UNNAMED — numeric-
    index-only — so a field access can't be oracle-portable; names
    pinned in the unit battery); list_select / list_grade_up
    (verified natively identical). list_intersect element ORDER
    remains a documented deviation (implementation-defined in both
    engines, the list_distinct class). DuckDB probes in NOTES
    round-12 log.""",
    oracle=_B42_SQL,
)


_B43_SPARK_SQL = """
WITH src AS (
  SELECT o_orderkey % 10 AS g, o_orderkey AS k, o_totalprice AS p
  FROM orders WHERE o_orderkey <= 400
)
SELECT g,
       (max(k, 3))[1]       AS v_mx1,
       (max(k, 3))[3]       AS v_mx3,
       (min(k, 2))[1]       AS v_mn1,
       (min(k, 2))[2]       AS v_mn2,
       (arg_max(k, p, 2))[1] AS v_am1,
       (arg_max(k, p, 2))[2] AS v_am2,
       (arg_min(k, p, 2))[1] AS v_an1,
       (arg_min(k, p, 2))[2] AS v_an2
FROM src GROUP BY g ORDER BY g
"""

# The top-n aggregate forms are DuckDB ≥1.1 (the local 1.0.0 gate binary
# predates them), so the oracle derives each value from ordered list()
# slicing — identical on every oracle version. Tie order matches the
# gateway emission: arg_max ties break by arg DESC, arg_min by arg ASC.
_B43_ORACLE_SQL = """
WITH src AS (
  SELECT o_orderkey % 10 AS g, o_orderkey AS k, o_totalprice AS p
  FROM orders WHERE o_orderkey <= 400
)
SELECT g,
       (list(k ORDER BY k DESC))[1]         AS v_mx1,
       (list(k ORDER BY k DESC))[3]         AS v_mx3,
       (list(k ORDER BY k ASC))[1]          AS v_mn1,
       (list(k ORDER BY k ASC))[2]          AS v_mn2,
       (list(k ORDER BY p DESC, k DESC))[1] AS v_am1,
       (list(k ORDER BY p DESC, k DESC))[2] AS v_am2,
       (list(k ORDER BY p ASC, k ASC))[1]   AS v_an1,
       (list(k ORDER BY p ASC, k ASC))[2]   AS v_an2
FROM src GROUP BY g ORDER BY g
"""


register_sql(
    "dialect_gap_b43_topn_aggs",
    tags=("dialect", "battery", "functions"),
    doc="""Round-12 wave-12 battery: the DuckDB ≥1.1 top-n aggregate forms
    the reference's pinned 1.5.2 supports — max(arg, n) / min(arg, n)
    (LIST of the n largest/smallest, largest-first/smallest-first,
    NULLs skipped) and arg_max/arg_min(arg, val, n) (LIST of arg for
    the top-n rows by val; NULL-val rows skipped) — previously loud
    wrong-arity errors. n must be a positive integer constant, like
    DuckDB. Oracle derived via ordered list() slicing so it is green on
    the 1.0.0 local binary (which predates the forms) AND the driver's
    newer one (the b36m portable-oracle technique).""",
    oracle=_B43_ORACLE_SQL,
    sql=_B43_SPARK_SQL,
)


_B44_SPARK_SQL = """
WITH src AS (
  SELECT o_orderkey AS k,
         [o_orderkey % 7, o_orderkey % 3, o_orderkey % 11] AS xs
  FROM orders WHERE o_orderkey <= 300
)
SELECT k,
       (list_transform(xs, lambda x: x * 2 + 1))[2]         AS v_t,
       len(list_filter(xs, lambda x : x % 2 = 0))           AS v_f,
       list_reduce(xs, lambda a, b: a * 10 + b)             AS v_r,
       (list_transform(xs, lambda x:
         len(list_filter(xs, lambda y: y > x))))[1]         AS v_n
FROM src ORDER BY k
"""

# Same expressions in the arrow lambda form BOTH oracle versions parse
# (python-style `lambda x:` is DuckDB ≥1.3; 1.0.0 rejects it).
_B44_ORACLE_SQL = """
WITH src AS (
  SELECT o_orderkey AS k,
         [o_orderkey % 7, o_orderkey % 3, o_orderkey % 11] AS xs
  FROM orders WHERE o_orderkey <= 300
)
SELECT k,
       (list_transform(xs, x -> x * 2 + 1))[2]              AS v_t,
       len(list_filter(xs, x -> x % 2 = 0))                 AS v_f,
       list_reduce(xs, (a, b) -> a * 10 + b)                AS v_r,
       (list_transform(xs, x ->
         len(list_filter(xs, y -> y > x))))[1]              AS v_n
FROM src ORDER BY k
"""


register_sql(
    "dialect_gap_b44_python_lambda",
    tags=("dialect", "battery", "functions"),
    doc="""Round-12 wave-12 battery: DuckDB ≥1.3's python-style lambda
    syntax (``lambda x, y: expr`` — the docs' NEW preferred form; the
    arrow form is deprecated there, and the reference pins 1.5.2) —
    normalized at the pipeline head to the arrow form, including
    nested lambdas and multi-parameter folds; 'lambda' inside string
    literals stays text (code-only scan). Oracle uses the arrow
    spelling both oracle versions parse.""",
    oracle=_B44_ORACLE_SQL,
    sql=_B44_SPARK_SQL,
)


_B45_SPARK_SQL = """
WITH src AS (
  SELECT o_orderkey AS k,
         CASE WHEN o_orderkey % 3 = 0 THEN 'x'
              ELSE CAST(o_orderkey + 1900 AS VARCHAR) END AS s
  FROM orders WHERE o_orderkey <= 300
)
SELECT k,
       TRY(CAST(s AS INTEGER))                   AS v_tc,
       TRY(s::BIGINT)                            AS v_cc,
       TRY(strptime(s, '%Y'))                    AS v_ts,
       round(TRY(ln(CAST(k % 5 AS DOUBLE) - 2)), 9)  AS v_ln,
       round(TRY(sqrt(CAST(k % 7 AS DOUBLE) - 3)), 9) AS v_sq
FROM src ORDER BY k
"""

# TRY() is DuckDB ≥1.2; the oracle expresses the same NULL-on-error
# semantics in pre-1.2 SQL (try_cast / try_strptime / domain CASEs)
# so it is green on any oracle version.
_B45_ORACLE_SQL = """
WITH src AS (
  SELECT o_orderkey AS k,
         CASE WHEN o_orderkey % 3 = 0 THEN 'x'
              ELSE CAST(o_orderkey + 1900 AS VARCHAR) END AS s
  FROM orders WHERE o_orderkey <= 300
)
SELECT k,
       try_cast(s AS INTEGER)                    AS v_tc,
       try_cast(s AS BIGINT)                     AS v_cc,
       try_strptime(s, '%Y')                     AS v_ts,
       round(CASE WHEN CAST(k % 5 AS DOUBLE) - 2 > 0
                  THEN ln(CAST(k % 5 AS DOUBLE) - 2) END, 9)  AS v_ln,
       round(CASE WHEN CAST(k % 7 AS DOUBLE) - 3 >= 0
                  THEN sqrt(CAST(k % 7 AS DOUBLE) - 3) END, 9) AS v_sq
FROM src ORDER BY k
"""


register_sql(
    "dialect_gap_b45_try_expr",
    tags=("dialect", "battery", "functions"),
    doc="""Round-12 wave-12 battery: DuckDB ≥1.2 ``TRY(expr)`` (NULL
    instead of an error) over the error classes it actually guards —
    conversion (CAST and ``::``), datetime parsing (strptime), and
    log/sqrt domain errors (Spark's ln is already NULL-lenient; sqrt
    needs a negative-domain CASE because Spark yields NaN). Division/
    modulo by zero are already NULL in DuckDB (probed), and every
    unsupported TRY form raises loudly — no silent divergence surface.
    Oracle spelled in pre-1.2 SQL (try_cast/try_strptime/CASE).""",
    oracle=_B45_ORACLE_SQL,
    sql=_B45_SPARK_SQL,
)


# ---------------------------------------------------------------------------
# Round-13 gap wave 14: strftime/strptime dash-unpadded codes + the partial-
# date 1900 default, and list-composite idioms — found by probing candidate
# 1.0.0-valid idioms through the rewriter. Two SILENT wrong values caught
# and fixed en route: list_grade_up placed NULL elements FIRST (Spark's
# struct sort) where DuckDB grades them LAST, and strptime of a format with
# no year code defaulted to 1970 (Spark) where DuckDB uses 1900. Both
# batteries self-oracle verbatim: every pinned function is calendar
# arithmetic or positional selection — no estimator, the version-stable
# class per the r13 sweep taxonomy (NOTES 38).
# ---------------------------------------------------------------------------

_B46_SQL = """
WITH src AS (
  SELECT o_orderkey AS k, o_orderdate AS d,
         TIMESTAMP '2024-01-01 00:00:00'
           + INTERVAL 1 SECOND * (o_orderkey % 86400)
           + INTERVAL 1 MICROSECOND * (o_orderkey * 7919 % 1000000) AS ts
  FROM orders WHERE o_orderkey <= 300
)
SELECT k,
       strftime(d, '%-d/%-m/%-y')                    AS v_dash_d,
       strftime(d, '%j|%-j')                         AS v_doy,
       strftime(ts, '%I %p %H')                      AS v_12h,
       strftime(ts, '%g|%f')                         AS v_frac,
       strftime(ts, '%-H:%-I:%-M:%-S')               AS v_dash_t,
       strptime(strftime(d, '%-d/%-m/%Y'), '%-d/%-m/%Y') AS v_rt,
       strptime('03 PM', '%I %p')                    AS v_noyear,
       strptime(strftime(d, '%j %Y'), '%j %Y')       AS v_doy_rt,
       strptime(strftime(ts, '%-H:%-M:%-S'), '%-H:%-M:%-S') AS v_time_rt
FROM src ORDER BY k
"""


register_sql(
    "dialect_gap_b46_strftime_dash",
    tags=("dialect", "battery", "datetime"),
    doc="""Round-13 wave-14 battery: dash-modified (unpadded) strftime/
    strptime codes %-d/%-m/%-y/%-j/%-H/%-I/%-M/%-S (previously loud
    'unsupported strftime code %-'; %-y has no Java pattern → year%100
    expression segment), the %j day-of-year and %g millisecond / %f
    microsecond codes, 12-hour %I %p, and the partial-date default:
    strptime with no year code lands on 1900-01-01 like DuckDB (Spark
    natively defaults 1970 — a silent wrong value until r13; shifted
    -70 years, %j maps consistently since both years are non-leap).
    Round-trips pin both directions on data.""",
    oracle=_B46_SQL,
)


_B47_SQL = """
WITH src AS (
  SELECT o_orderkey AS k FROM orders WHERE o_orderkey <= 300
)
SELECT k,
       array_to_string(list_select([k % 7, k % 3, k % 11],
                   list_grade_up([k % 5, k % 9, k % 2])), ',')     AS v_sel_gu,
       array_to_string(list_grade_up(
                  [CASE WHEN k % 4 = 0 THEN NULL ELSE k % 7 END,
                   k % 3, NULL]), ',')                             AS v_gu_null,
       array_to_string(list_where([k % 7, k % 3, k % 11],
                  [k % 2 = 0, true, k % 3 = 0]), ',')              AS v_where,
       array_to_string(list_transform(list_resize([k % 7, k % 3], 4),
                  x -> coalesce(x, -1)), ',')                      AS v_grow,
       array_to_string(list_resize([1, 2], 4, 9), ',')             AS v_grow0,
       array_to_string(
         list_resize([k % 7, k % 3, k % 11, k % 5], k % 3 + 1), ',') AS v_shrink,
       array_to_string(list_reverse([k % 7, k % 3, k % 11]), ',')  AS v_rev,
       array_to_string(list_transform(
         map_entries(map {'a': k % 3, 'b': k % 5}),
         e -> e.key || '=' || e.value), ',')                       AS v_ent,
       cardinality(map {'a': k % 3, 'b': k % 5})                   AS v_card
FROM src ORDER BY k
"""


register_sql(
    "dialect_gap_b47_list_composites",
    tags=("dialect", "battery", "functions"),
    doc="""Round-13 wave-14 battery: APL-style list composites — the
    sort-one-list-by-another idiom list_select∘list_grade_up,
    grade_up's NULLS-LAST placement (fixed this round: the zip-struct
    sort put NULL elements FIRST — silent wrong value; now an explicit
    comparator with stable index tie-break), list_where boolean masks,
    list_resize grow (NULL fill over column data; explicit fill over
    constants — DuckDB 1.0.0 CRASHES std::bad_array_new_length on any
    non-constant 3-arg list_resize vector, a probed engine defect, so
    the oracle-checkable 3-arg form is constant-folded) and shrink
    (data-dependent new length), list_reverse, map_entries iterated
    through a lambda (key/value struct field names match DuckDB),
    cardinality. Permissive-only deviations (documented): DuckDB
    ERRORS on NULL elements in the selector/mask list
    (list_select([1,2,3],[1,NULL]), list_where(.., [true,NULL,..]))
    where our translation returns NULL-element / skip — Spark accepts
    more, never answers differently on DuckDB-valid input.""",
    oracle=_B47_SQL,
)


# ---------------------------------------------------------------------------
# Round-13 gap wave 15: stepped list_slice + list_histogram (both 1.0.0-
# supported — verbatim oracle) and the DuckDB >=1.1 vector-distance family
# (negative_inner_product / cosine_distance on both list_/array_ prefixes —
# the reference pins 1.5.2; the local 1.0.0 binary lacks the names, so the
# oracle states each metric EXPLICITLY over 2-vectors of exact integers:
# products/sums exact, sqrt/÷ correctly rounded → bit-identical on any
# IEEE-754 binary, the NOTES-38 portable class).
# ---------------------------------------------------------------------------

_B48_SPARK_SQL = """
WITH src AS (
  SELECT o_orderkey AS k,
         CAST(o_orderkey % 13 AS DOUBLE)    AS x1,
         CAST(o_orderkey % 7 + 1 AS DOUBLE) AS x2,
         CAST(o_custkey % 11 AS DOUBLE)     AS y1,
         CAST(o_custkey % 5 + 1 AS DOUBLE)  AS y2
  FROM orders WHERE o_orderkey <= 300
)
SELECT k,
       array_to_string(
         list_slice([k % 7, k % 3, k % 11, k % 5, k % 2], 1, 5, 2), ',') AS v_sl2,
       array_to_string(
         list_slice([k % 7, k % 3, k % 11, k % 5, k % 2], 5, 1, -2), ',') AS v_slneg,
       array_to_string(
         map_keys(list_histogram([k % 3, k % 5, k % 3, NULL])), ',')     AS v_hk,
       array_to_string(
         map_values(list_histogram([k % 3, k % 5, k % 3, NULL])), ',')   AS v_hv,
       round(list_negative_inner_product([x1, x2], [y1, y2]), 6)  AS v_nip,
       round(array_negative_dot_product([x1, x2], [y1, y2]), 6)   AS v_ndp,
       round(array_cosine_distance([x1, x2], [y1, y2]), 6) + 0    AS v_cd,
       round(list_distance([x1, x2], [y1, y2]), 6)                AS v_dist,
       round(list_inner_product([x1, x2], [y1, y2]), 6)           AS v_ip,
       struct_extract_at({'a': k % 3, 'b': k % 5}, 2)             AS v_sxa
FROM src ORDER BY k
"""

_B48_ORACLE_SQL = """
WITH src AS (
  SELECT o_orderkey AS k,
         CAST(o_orderkey % 13 AS DOUBLE)    AS x1,
         CAST(o_orderkey % 7 + 1 AS DOUBLE) AS x2,
         CAST(o_custkey % 11 AS DOUBLE)     AS y1,
         CAST(o_custkey % 5 + 1 AS DOUBLE)  AS y2
  FROM orders WHERE o_orderkey <= 300
)
SELECT k,
       array_to_string(
         list_slice([k % 7, k % 3, k % 11, k % 5, k % 2], 1, 5, 2), ',') AS v_sl2,
       array_to_string(
         list_slice([k % 7, k % 3, k % 11, k % 5, k % 2], 5, 1, -2), ',') AS v_slneg,
       array_to_string(
         map_keys(list_histogram([k % 3, k % 5, k % 3, NULL])), ',')     AS v_hk,
       array_to_string(
         map_values(list_histogram([k % 3, k % 5, k % 3, NULL])), ',')   AS v_hv,
       round(-(x1 * y1 + x2 * y2), 6)                             AS v_nip,
       round(-(x1 * y1 + x2 * y2), 6)                             AS v_ndp,
       round(1 - (x1 * y1 + x2 * y2)
             / (sqrt(x1 * x1 + x2 * x2) * sqrt(y1 * y1 + y2 * y2)), 6)
         + 0                                                       AS v_cd,
       round(sqrt((x1 - y1) * (x1 - y1) + (x2 - y2) * (x2 - y2)), 6)   AS v_dist,
       round(x1 * y1 + x2 * y2, 6)                                AS v_ip,
       k % 5                                                      AS v_sxa
FROM src ORDER BY k
"""


register_sql(
    "dialect_gap_b48_slice_vector",
    tags=("dialect", "battery", "functions"),
    doc="""Round-13 wave-15 battery: 4-arg stepped list_slice (forward and
    negative step — previously a loud wrong-arity error; delegates to
    the bracket step form), list_histogram (MAP value→count, keys
    ascending, NULLs skipped, empty→NULL — was UNRESOLVED_ROUTINE),
    and the DuckDB ≥1.1 vector metrics list/array_negative_inner_
    product / negative_dot_product / cosine_distance plus the existing
    inner_product/distance — oracle states each metric explicitly —
    plus ≥1.1 struct_extract_at (positional field via the
    FIELD_NOT_FOUND schema probe; oracle states the field value)
    (exact-integer 2-vectors; x2/y2 offset +1 so no zero vector).
    Documented rendered-order deviation found by the same probe sweep:
    DuckDB's list_intersect emits its own internal order ([1,2,3]∩
    [2,3,4] → [3,2]) while the translation keeps first-list order
    ([2,3]) — same multiset, unspecified order on both engines'
    docs.""",
    oracle=_B48_ORACLE_SQL,
    sql=_B48_SPARK_SQL,
)


_B49_SQL = """
WITH src AS (
  SELECT o_orderkey AS k, o_orderdate AS d
  FROM orders WHERE o_orderkey <= 300
)
SELECT k,
       CAST(d AS TIMESTAMP) + INTERVAL '1 month 2 days 3 hours'  AS v_mixed,
       CAST(d AS TIMESTAMP) + INTERVAL '-1 month 90 minutes'     AS v_mixneg,
       d + INTERVAL '1 quarter 1 day'                            AS v_q,
       like_escape(CAST(k AS VARCHAR), '2^5%', '^')              AS v_esc,
       ilike_escape('Key' || CAST(k AS VARCHAR), 'key^2%', '^')  AS v_iesc,
       not_like_escape(CAST(k AS VARCHAR), '1^_%', '^')          AS v_nesc,
       (SELECT count(*) FROM (SELECT regexp_split_to_table('a,,b,c', ',') AS x) t)
                                                                 AS v_rst
FROM src ORDER BY k
"""


register_sql(
    "dialect_gap_b49_interval_escape",
    tags=("dialect", "battery", "datetime"),
    doc="""Round-13 wave-16 battery (probe batch B): MIXED year-month /
    day-time interval literals (valid DuckDB calendar intervals that
    Spark's parser rejected outright — now make_interval(), per-term
    signs and quarter folding included; DATE operands still widen to
    TIMESTAMP); LIKE-family custom escapes where the escape char
    precedes an ORDINARY character (DuckDB no-op escape, Spark
    ESC_IN_THE_MIDDLE — literal patterns are now unescaped at rewrite
    time); and regexp_split_to_table → unnest∘split (keeps empty
    fields, probed). Self-oracled verbatim: calendar arithmetic and
    string matching, no estimator (NOTES-38 stable class).""",
    oracle=_B49_SQL,
)


register_sql(
    "recursive_cte_union_reachability",
    tags=("cte", "recursive", "dialect"),
    doc="""Recursive CTE in the UNION (DISTINCT) form — graph reachability
    over the nation table's synthetic successor relation, the shape
    whose termination depends on duplicate elimination (a cycle-safe
    transitive closure that UNION ALL would loop on). Spark rejects
    the form natively (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE); the
    rewriter evaluates it by driver-side SEMI-NAIVE iteration — step
    applied to the previous DELTA only, new = step(delta) − total,
    stop on empty delta, lineage cut per round
    (rewrite.py::_rewrite_recursive_union; r13 shape probe). Verbatim
    self-oracle: 1.0.0 runs the recursive UNION natively.""",
    oracle="""
WITH RECURSIVE reach(k) AS (
  SELECT 0
  UNION
  SELECT CAST((r.k * 2 + n.n_regionkey) % 25 AS INTEGER)
  FROM reach r JOIN nation n ON n.n_nationkey = r.k
)
SELECT CAST(count(*) AS BIGINT) AS n_reached,
       CAST(sum(k) AS BIGINT)   AS sum_k
FROM reach
""",
)
