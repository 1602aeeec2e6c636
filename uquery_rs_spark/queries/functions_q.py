"""Scalar-function coverage corpus (SURVEY.md §2.B.7).

One oracle-checked query per function family: string, regex, date/time,
math, array/list + higher-order lambdas, struct/map access, JSON, sequence
generation, and the reference's macro catalog. The reference admits this
whole surface via DuckDB pass-through (src/core/duckdb.rs:87-88); evidence
rows: unnest in docs/docs/response-formats.md:37, macros in tests/test.db.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import load_tables, register, register_sql


register_sql(
    "string_functions_battery",
    tags=("functions", "string"),
    doc="""lower/upper/length/substr/replace/trim/concat/||/pad/reverse/…""",
    oracle="""
SELECT c_custkey,
       lower(c_name)                         AS lname,
       upper(c_mktsegment)                   AS useg,
       length(c_name)                        AS name_len,
       substr(c_name, 1, 8)                  AS prefix,
       replace(c_name, '#', '-')             AS dashed,
       trim('  ' || c_name || ' ')           AS trimmed,
       concat(c_name, '/', c_mktsegment)     AS joined,
       left(c_mktsegment, 4)                 AS seg4,
       right(c_name, 3)                      AS last3,
       lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded,
       reverse(c_mktsegment)                 AS rev,
       contains(c_name, '1')                 AS has_one,
       starts_with(c_mktsegment, 'BUI')      AS is_bui,
       position('0' IN c_name)               AS pos0
FROM customer
WHERE c_custkey <= 500
ORDER BY c_custkey
""",
)


register_sql(
    "regex_functions",
    tags=("functions", "regex"),
    doc="""regexp_extract/replace/match + split — patterns chosen inside the
    RE2∩Java-regex common subset (SURVEY.md §7 dialect-fidelity note).""",
    oracle="""
SELECT p_partkey,
       p_type,
       regexp_extract(p_type, '^(\\w+)', 1)          AS first_word,
       regexp_replace(p_type, '[aeiou]', '_', 'g')   AS devoweled,
       regexp_matches(p_type, 'BRUSHED|POLISHED')    AS is_finished,
       split_part(p_type, ' ', 1)                    AS tok1,
       len(string_split(p_type, ' '))                AS n_tokens
FROM part
WHERE p_partkey <= 300
ORDER BY p_partkey
""",
)


register_sql(
    "datetime_functions",
    tags=("functions", "datetime"),
    doc="""date_trunc/extract/interval/strftime/epoch/datediff/last_day.""",
    oracle="""
SELECT o_orderkey,
       CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
       extract(year  FROM o_orderdate)               AS yr,
       extract(month FROM o_orderdate)               AS mo,
       extract(day   FROM o_orderdate)               AS dy,
       extract(dow   FROM o_orderdate)               AS dow,
       o_orderdate + INTERVAL 30 DAY                 AS due_date,
       strftime(o_orderdate, '%Y-%m')                AS ym,
       CAST(epoch(o_orderdate) AS BIGINT)            AS epoch_s,
       date_diff('day', TIMESTAMP '1997-01-01 00:00:00', o_orderdate) AS days_since_97,
       last_day(CAST(o_orderdate AS DATE))           AS month_end
FROM orders
WHERE o_orderkey <= 1000
ORDER BY o_orderkey
""",
)


register_sql(
    "math_functions",
    tags=("functions", "math"),
    doc="""abs/ceil/floor/ln/log10/exp/sqrt/pow/%/sign/greatest/least/pi.

    Transcendentals rounded to 6 dp — libm results agree well past that.
    DuckDB ceil/floor(double) return DOUBLE; Spark returns BIGINT — the
    oracle casts to BIGINT (documented dialect deviation, values equal).
    """,
    oracle="""
SELECT p_partkey,
       abs(p_retailprice - 1000)                    AS dist_1k,
       CAST(ceil(p_retailprice) AS BIGINT)          AS c,
       CAST(floor(p_retailprice) AS BIGINT)         AS f,
       round(ln(p_retailprice), 6)                  AS log_price,
       round(log10(p_retailprice), 6)               AS log10_price,
       round(exp(p_size / 25.0), 6)                 AS e_size,
       round(sqrt(p_retailprice), 6)                AS root,
       round(pow(p_size, 2), 1)                     AS size_sq,
       p_size % 7                                   AS m7,
       sign(p_retailprice - 1200)                   AS sgn,
       greatest(p_size, 25)                         AS hi,
       least(p_size, 25)                            AS lo,
       round(pi(), 6)                               AS pi_val
FROM part
WHERE p_partkey <= 300
ORDER BY p_partkey
""",
)


register_sql(
    "array_functions",
    tags=("functions", "array", "higher-order"),
    doc="""Array ops incl. higher-order lambdas: transform / filter / aggregate.""",
    oracle="""
SELECT doc_id,
       len(toks)                                             AS n_toks,
       toks[1]                                               AS first_tok,
       toks[len(toks)]                                       AS last_tok,
       list_contains(toks, 'spark')                          AS has_spark,
       array_to_string(list_sort(list_distinct(toks)), ',')  AS uniq_sorted,
       list_transform(toks, t -> upper(t))[1]                AS first_upper,
       len(list_filter(toks, t -> length(t) > 4))            AS n_long,
       list_reduce(list_transform(toks, t -> length(t)), (a, b) -> a + b) AS total_chars
FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE doc_id <= 100)
ORDER BY doc_id
""",
)


register_sql(
    "explode_unnest_series",
    tags=("functions", "unnest", "generator"),
    doc="""unnest(generate_series(…)) cross-joined against a table
    (unnest evidence: docs/docs/response-formats.md:37).""",
    oracle="""
SELECT n.n, r_name, n * r_regionkey AS product
FROM region, (SELECT unnest(generate_series(1, 3)) AS n) n
ORDER BY r_name, n.n
""",
)


register_sql(
    "struct_map_access",
    tags=("functions", "struct", "map"),
    doc="""struct_pack / MAP construction + field access, flattened output
    (flat scalars compare engine-agnostically).""",
    oracle="""
SELECT o_orderkey,
       struct_pack(k := o_orderkey, p := o_totalprice).k         AS sk,
       round(struct_pack(k := o_orderkey, p := o_totalprice).p, 2) AS sp,
       map {'status': o_orderstatus, 'prio': o_orderpriority}['status'][1] AS m_status,
       map {'status': o_orderstatus, 'prio': o_orderpriority}['prio'][1]   AS m_prio
FROM orders WHERE o_orderkey <= 500 ORDER BY o_orderkey
""",
)


register_sql(
    "json_extract_props",
    tags=("functions", "json"),
    doc="""JSON path extraction over the events.props VARCHAR column
    (DuckDB `->>` ≡ Spark get_json_object; SURVEY.md §2.B.7).""",
    oracle="""
SELECT event_type,
       count(*)                                                    AS n,
       round(avg(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 4) AS avg_k,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT))      AS max_k
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)


register_sql(
    "macros_battery",
    tags=("functions", "macros"),
    doc="""The reference's macro catalog (geomean / count_if / fmod / fdiv from
    tests/test.db, SURVEY.md §2.B.4) applied per market segment, served
    by calling the macros through the gateway.""",
    oracle="""
SELECT c_mktsegment,
       round(exp(avg(ln(c_acctbal))), 2)                  AS geomean_bal,
       CAST(sum(CASE WHEN c_acctbal > 5000 THEN 1 ELSE 0 END) AS BIGINT)  AS n_rich,
       round(sum(c_acctbal - 1000 * trunc(c_acctbal / 1000)), 2) AS fmod_total,
       CAST(sum(CAST(floor(c_acctbal / 1000) AS BIGINT)) AS BIGINT) AS fdiv_total
FROM customer
WHERE c_acctbal > 0
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
    sql="""
SELECT c_mktsegment,
       round(geomean(c_acctbal), 2)                       AS geomean_bal,
       count_if(c_acctbal > 5000)                         AS n_rich,
       round(sum(fmod(c_acctbal, 1000)), 2)               AS fmod_total,
       CAST(sum(fdiv(c_acctbal, 1000)) AS BIGINT)         AS fdiv_total
FROM customer
WHERE c_acctbal > 0
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)


register_sql(
    "regex_pattern_battery",
    tags=("functions", "regex", "dialect", "edge"),
    doc="""RE2-vs-Java adversarial subset, aligned where semantics diverge:
    backreferences are \\1 in DuckDB but $1 in Spark; DuckDB regexp_replace without 'g' replaces the FIRST
    match while Spark always replaces all, so unflagged replaces use
    anchored single-match patterns; SIMILAR TO is a fully-anchored regex;
    GLOB maps to LIKE wildcards.
    ``toks`` is serialized with array_to_string/array_join — registry
    convention: no array-typed result columns (the driver canonicalizer
    hashes scalar cells only; enforced by tests/test_oracle_gate.py).""",
    oracle=r"""
SELECT p_partkey,
       regexp_replace(p_type, '(\w+)$', '[\1]', 'g')   AS bracketed_last,
       regexp_replace(p_type, '^\w+', 'T')             AS head_replaced,
       regexp_extract(p_type, '^(.+?) ', 1)            AS nongreedy_first,
       p_type ILIKE '%brushed%'                        AS has_brushed_ci,
       p_type SIMILAR TO '.*(STEEL|BRASS)'             AS sim_metal,
       p_type GLOB '*STEEL'                            AS glob_steel,
       array_to_string(string_split_regex(p_type, '\s+'), '|') AS toks
FROM part WHERE p_partkey <= 300
ORDER BY p_partkey
""",
)


register_sql(
    "datetime_edge_battery",
    tags=("functions", "datetime", "dialect", "edge"),
    doc="""Date-arithmetic edges, tz-free by construction: date+int,
    boundary-crossing month diff expressed as y*12+m arithmetic
    on BOTH sides (DuckDB date_diff('month') counts boundary crossings;
    Spark's months_between is fractional — deliberately avoided), epoch
    millis via day arithmetic (no session-timezone dependency), and
    trunc() (returns DATE) rather than date_trunc (TIMESTAMP in Spark).""",
    oracle="""
SELECT o_orderkey,
       last_day(d)                                             AS month_end,
       d + 7                                                   AS week_later,
       date_diff('day', d, DATE '2030-01-01')                  AS days_to_2030,
       epoch_ms(CAST(d AS TIMESTAMP))                          AS epoch_millis,
       make_date(CAST(year(d) AS INT), 1, 1)                   AS year_start,
       CAST(date_trunc('quarter', d) AS DATE)                  AS quarter_start,
       (year(DATE '2030-06-15') * 12 + month(DATE '2030-06-15'))
         - (year(d) * 12 + month(d))                           AS month_boundaries
FROM (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d FROM orders WHERE o_orderkey <= 500)
ORDER BY o_orderkey
""",
)


register_sql(
    "percentile_battery",
    tags=("functions", "aggregate", "ordered-set"),
    doc="""Exact ordered-set aggregates (percentile_cont; median ==
    percentile_cont(0.5)), computed in double — DECIMAL inputs would
    quantize differently in DuckDB.
    Round-13 version-skew sweep: the oracle no longer calls median /
    percentile_cont — each quantile is explicit order statistics at
    rank q·(n−1) with a + (b−a)·frac interpolation over DOUBLE casts,
    so DuckDB's decimal-quantile quantization (1.0.0 truncates to
    input scale; newer binaries may interpolate) can never move an
    expected value.""",
    oracle="""
WITH r1 AS (
  SELECT l_returnflag,
         CAST(l_quantity AS DOUBLE)      AS q,
         CAST(l_extendedprice AS DOUBLE) AS ep,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY CAST(l_quantity AS DOUBLE)) AS rq,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY CAST(l_extendedprice AS DOUBLE)) AS rp,
         count(*)    OVER (PARTITION BY l_returnflag) AS n
  FROM lineitem
), p AS (
  SELECT l_returnflag, q, ep, rq, rp, n,
         0.5  * (n - 1) AS i50, CAST(floor(0.5  * (n - 1)) AS BIGINT) AS l50,
         0.25 * (n - 1) AS i25, CAST(floor(0.25 * (n - 1)) AS BIGINT) AS l25,
         0.75 * (n - 1) AS i75, CAST(floor(0.75 * (n - 1)) AS BIGINT) AS l75,
         0.9  * (n - 1) AS i90, CAST(floor(0.9  * (n - 1)) AS BIGINT) AS l90
  FROM r1
)
SELECT l_returnflag,
       round(CASE WHEN max(i50) = floor(max(i50))
             THEN max(q) FILTER (rq = l50 + 1)
             ELSE (max(l50) + 1 - max(i50))
                  * (max(q) FILTER (rq = l50 + 1))
                  + (max(i50) - max(l50))
                  * (max(q) FILTER (rq = l50 + 2)) END, 2) AS med_qty,
       round(CASE WHEN max(i25) = floor(max(i25))
             THEN max(ep) FILTER (rp = l25 + 1)
             ELSE (max(l25) + 1 - max(i25))
                  * (max(ep) FILTER (rp = l25 + 1))
                  + (max(i25) - max(l25))
                  * (max(ep) FILTER (rp = l25 + 2)) END, 2) AS p25_price,
       round(CASE WHEN max(i75) = floor(max(i75))
             THEN max(ep) FILTER (rp = l75 + 1)
             ELSE (max(l75) + 1 - max(i75))
                  * (max(ep) FILTER (rp = l75 + 1))
                  + (max(i75) - max(l75))
                  * (max(ep) FILTER (rp = l75 + 2)) END, 2) AS p75_price,
       round(CASE WHEN max(i90) = floor(max(i90))
             THEN max(q) FILTER (rq = l90 + 1)
             ELSE (max(l90) + 1 - max(i90))
                  * (max(q) FILTER (rq = l90 + 1))
                  + (max(i90) - max(l90))
                  * (max(q) FILTER (rq = l90 + 2)) END, 2) AS p90_qty
FROM p
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)


@register(
    "unpivot_part_measures",
    tags=("functions", "unpivot", "dialect"),
    oracle="""
SELECT p_partkey, metric, round(val, 2) AS val
FROM (
  UNPIVOT (SELECT p_partkey, p_retailprice, CAST(p_size AS DOUBLE) AS p_size_d
           FROM part WHERE p_partkey <= 100)
  ON p_retailprice, p_size_d INTO NAME metric VALUE val
)
ORDER BY p_partkey, metric
""",
)
def unpivot_part_measures(spark: SparkSession, sf: str) -> DataFrame:
    """Wide→long UNPIVOT: DuckDB's UNPIVOT ... ON ... INTO NAME/VALUE and
    Spark's df.unpivot (melt) produce the same rows; measures are cast to
    a common double type first because UNPIVOT requires one value type."""
    part = load_tables(spark, sf)["part"].filter(F.col("p_partkey") <= 100)
    return (
        part.select(
            "p_partkey",
            F.col("p_retailprice"),
            F.col("p_size").cast("double").alias("p_size_d"),
        )
        .unpivot("p_partkey", ["p_retailprice", "p_size_d"], "metric", "v")
        .select("p_partkey", "metric", F.round("v", 2).alias("val"))
        .orderBy("p_partkey", "metric")
    )


register_sql(
    "approx_percentile_prices",
    tags=("agg", "approx"),
    doc="""Price quartiles in the hash-checkable approx shape, like
    approx_distinct_parts: the EXACT interpolated percentiles plus a
    ``within_bound`` column that the oracle pins TRUE.""",
    oracle="""
WITH r1 AS (
  SELECT CAST(l_extendedprice AS DOUBLE) AS ep,
         row_number() OVER (ORDER BY CAST(l_extendedprice AS DOUBLE)) AS rp,
         count(*)    OVER () AS n
  FROM lineitem
), p AS (
  SELECT ep, rp, n,
         0.25 * (n - 1) AS i25, CAST(floor(0.25 * (n - 1)) AS BIGINT) AS l25,
         0.50 * (n - 1) AS i50, CAST(floor(0.50 * (n - 1)) AS BIGINT) AS l50,
         0.95 * (n - 1) AS i95, CAST(floor(0.95 * (n - 1)) AS BIGINT) AS l95
  FROM r1
)
SELECT round(CASE WHEN max(i25) = floor(max(i25))
             THEN max(ep) FILTER (rp = l25 + 1)
             ELSE (max(l25) + 1 - max(i25))
                  * (max(ep) FILTER (rp = l25 + 1))
                  + (max(i25) - max(l25))
                  * (max(ep) FILTER (rp = l25 + 2)) END, 2) AS p25,
       round(CASE WHEN max(i50) = floor(max(i50))
             THEN max(ep) FILTER (rp = l50 + 1)
             ELSE (max(l50) + 1 - max(i50))
                  * (max(ep) FILTER (rp = l50 + 1))
                  + (max(i50) - max(l50))
                  * (max(ep) FILTER (rp = l50 + 2)) END, 2) AS p50,
       round(CASE WHEN max(i95) = floor(max(i95))
             THEN max(ep) FILTER (rp = l95 + 1)
             ELSE (max(l95) + 1 - max(i95))
                  * (max(ep) FILTER (rp = l95 + 1))
                  + (max(i95) - max(l95))
                  * (max(ep) FILTER (rp = l95 + 2)) END, 2) AS p95,
       TRUE AS within_bound
FROM p
""",
)
