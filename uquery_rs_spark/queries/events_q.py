"""Time-series / event analytics corpus over the `events` table.

The reference has no streaming operators (SURVEY.md §2.B.10) — "streaming"
there means incremental HTTP delivery. The driver's `events` table instead
exercises time-windowed *batch* analytics (F.window), sessionization, and
the as-of join from the admitted-but-unexercised dialect (§2.B.3). The
Structured Streaming twins of these live in uquery_rs_spark.streaming.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..operators.asof import asof_join
from .registry import load_tables, register, register_sql


@register(
    "tumbling_window_events",
    bench=True,
    tags=("events", "window-agg"),
    oracle="""
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
       event_type,
       count(*)                                  AS n_events,
       round(sum(value), 2)                      AS total_value,
       count(DISTINCT user_id)                   AS n_users
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def tumbling_window_events(spark: SparkSession, sf: str) -> DataFrame:
    """Tumbling 1-hour windows via F.window — the Spark-native form of
    time-bucketed aggregation (window.start ≡ date_trunc('hour'))."""
    ev = load_tables(spark, sf)["events"]
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value", "n_users")
        .orderBy("window_start", "event_type")
    )


register_sql(
    "tumbling_window_approx",
    tags=("events", "window-agg", "approx"),
    doc="""tumbling_window_events in the hash-checkable approx shape
    (within_bound registry convention, like the ANN recall shapes): the
    exact per-window values plus a ``within_bound`` column that the
    oracle pins TRUE.""",
    oracle="""
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
       event_type,
       count(*)                                  AS n_events,
       count(DISTINCT user_id)                   AS n_users,
       TRUE                                      AS within_bound
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
""",
)


register_sql(
    "sliding_window_events",
    tags=("events", "window-agg"),
    doc="""Sliding windows (2h size, 1h slide): every event lands in two
    windows. Oracle models the same by exploding each row into its two
    containing window starts.""",
    oracle="""
WITH slid AS (
  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP)                   AS ws, * FROM events
  UNION ALL
  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) - INTERVAL 1 HOUR AS ws, * FROM events
)
SELECT ws AS window_start, count(*) AS n_events, round(sum(value), 2) AS total_value
FROM slid
GROUP BY ws
ORDER BY ws
""",
)


register_sql(
    "daily_user_activity",
    tags=("events", "window-agg"),
    oracle="""
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       count(DISTINCT user_id)                  AS dau,
       count(*)                                 AS n_events,
       round(sum(value) FILTER (WHERE event_type = 'purchase'), 2) AS purchase_value
FROM events
GROUP BY 1 ORDER BY 1
""",
)


@register(
    "sessionization_30min",
    bench=True,
    tags=("events", "session"),
    oracle="""
WITH gaps AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE OR
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sessions AS (
  SELECT user_id, ts, event_id,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
  FROM gaps
)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       count(*) AS n_events, min(ts) AS session_start, max(ts) AS session_end
FROM sessions
GROUP BY user_id, session_idx
ORDER BY user_id, session_idx
""",
)
def sessionization_30min(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-based sessionization: lag → new-session flag → running sum as
    session id → per-session rollup. One shuffle on user_id; all
    window+agg stages reuse that partitioning."""
    ev = load_tables(spark, sf)["events"]
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    prev_ts = F.lag("ts").over(w)
    new_session = F.when(
        prev_ts.isNull() | ((F.col("ts") - prev_ts) > F.expr("INTERVAL 30 MINUTES")), 1
    ).otherwise(0)
    return (
        ev.select("user_id", "ts", "event_id", new_session.alias("new_session"))
        .withColumn("session_idx", F.sum("new_session").over(run))
        .groupBy("user_id", "session_idx")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .orderBy("user_id", "session_idx")
    )


@register(
    "asof_join_purchase_view",
    bench=True,
    tags=("events", "asof", "join"),
    oracle="""
SELECT p.event_id, p.user_id, p.ts,
       round(p.value, 4)  AS purchase_value,
       v.ts               AS view_ts,
       round(v.value, 4)  AS view_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id AND v.ts <= p.ts
ORDER BY p.event_id
""",
)
def asof_join_purchase_view(spark: SparkSession, sf: str) -> DataFrame:
    """ASOF LEFT JOIN (DuckDB dialect, SURVEY.md §2.B.3): each purchase
    matched to the user's latest prior view. Custom operator
    operators/asof.py (union + windowed last-non-null; one shuffle)."""
    ev = load_tables(spark, sf)["events"]
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts", "value")
    # duplicate the ordering column into the payload so the matched view's
    # timestamp rides along (ASOF JOIN exposes the matched right.ts)
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("ts").alias("view_ts"), F.col("value").alias("view_value")
    )
    joined = asof_join(purchases, views, on="ts", by="user_id", right_cols=["view_ts", "view_value"])
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        F.round("value", 4).alias("purchase_value"),
        "view_ts",
        F.round("view_value", 4).alias("view_value"),
    ).orderBy("event_id")


@register(
    "asof_direction_battery",
    tags=("events", "asof", "join"),
    oracle="""
WITH p AS (SELECT DISTINCT user_id, ts FROM events WHERE event_type = 'purchase'),
     v AS (SELECT user_id, ts, ts AS vts FROM events WHERE event_type = 'view'),
b AS (SELECT p.user_id, p.ts, v.vts AS back_ts
      FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts),
f AS (SELECT p.user_id, p.ts, v.vts AS fwd_ts
      FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts <= v.ts)
SELECT b.user_id, b.ts, b.back_ts, f.fwd_ts,
       CASE WHEN f.fwd_ts IS NULL THEN b.back_ts
            WHEN b.back_ts IS NULL THEN f.fwd_ts
            WHEN b.ts - b.back_ts <= f.fwd_ts - b.ts THEN b.back_ts
            ELSE f.fwd_ts END AS nearest_ts
FROM b JOIN f ON b.user_id = f.user_id AND b.ts = f.ts
ORDER BY b.user_id, b.ts
""",
)
def asof_direction_battery(spark: SparkSession, sf: str) -> DataFrame:
    """All three as-of directions over one dataset (operators/asof.py):
    backward = DuckDB's `l.ts >= r.ts`, forward = `l.ts <= r.ts`,
    nearest = closer of the two (ties backward, merge_asof convention —
    computed as two window passes over the SAME sorted partition, one
    shuffle). Oracle runs DuckDB's native ASOF JOIN both ways and
    derives nearest by interval comparison."""
    ev = load_tables(spark, sf)["events"]
    p = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts").distinct()
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("ts").alias("vts")
    )
    back = asof_join(p, v, on="ts", by="user_id", right_cols=["vts"]).withColumnRenamed(
        "vts", "back_ts"
    )
    fwd = asof_join(
        p, v, on="ts", by="user_id", right_cols=["vts"], direction="forward"
    ).withColumnRenamed("vts", "fwd_ts")
    near = asof_join(
        p, v, on="ts", by="user_id", right_cols=["vts"], direction="nearest"
    ).withColumnRenamed("vts", "nearest_ts")
    return (
        back.join(fwd, ["user_id", "ts"])
        .join(near, ["user_id", "ts"])
        .select("user_id", "ts", "back_ts", "fwd_ts", "nearest_ts")
        .orderBy("user_id", "ts")
    )


register_sql(
    "time_range_window_events",
    tags=("events", "window-frame", "time-series"),
    doc="""Time-based RANGE frame (sliding 1-hour lookback per event):
    inclusive bounds on both engines, and duplicate timestamps all fall
    inside the frame (RANGE, not ROWS). One shuffle on user_id shared by
    both window aggregates.""",
    oracle="""
SELECT event_id, user_id,
       count(*) OVER (PARTITION BY user_id ORDER BY ts
                      RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
         AS n_last_hour,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts
                      RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW), 2)
         AS value_last_hour
FROM events WHERE user_id <= 50
ORDER BY event_id
""",
)


register_sql(
    "funnel_view_click_purchase",
    tags=("events", "funnel"),
    doc="""Ordered conversion funnel (view → click → purchase): per user, the
    first view, the first click AFTER that view, the first purchase AFTER
    that click; output is users surviving each stage.""",
    oracle="""
WITH v AS (
  SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t1
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t2
  GROUP BY e.user_id
)
SELECT stage, n_users FROM (
  SELECT '1_view' AS stage, count(*) AS n_users FROM v
  UNION ALL SELECT '2_click', count(*) FROM c
  UNION ALL SELECT '3_purchase', count(*) FROM p
)
ORDER BY stage
""",
)


register_sql(
    "cohort_retention_daily",
    tags=("events", "cohort"),
    doc="""Cohort retention triangle: users grouped by first-seen day, counted
    on each later active day.""",
    oracle="""
WITH activity AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day FROM events
), cohorts AS (
  SELECT user_id, day, min(day) OVER (PARTITION BY user_id) AS cohort_day FROM activity
)
SELECT cohort_day, datediff('day', cohort_day, day) AS day_offset, count(*) AS n_users
FROM cohorts
GROUP BY 1, 2
ORDER BY 1, 2
""",
)


register_sql(
    "events_anomaly_zscore",
    tags=("events", "anomaly"),
    doc="""Traffic-anomaly detection: hours where an event type's volume runs
    >= 2 sigma above its own hourly mean. One (type, hour) aggregate
    (map-side combined) then a per-type window over the ALREADY tiny
    hourly table — the raw event stream is shuffled once, the z-score
    math touches only hours x types rows.""",
    oracle="""
WITH hourly AS (
  SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
         count(*) AS n_events
  FROM events
  GROUP BY 1, 2
),
stats AS (
  SELECT *,
         avg(n_events)    OVER (PARTITION BY event_type) AS mu,
         stddev(n_events) OVER (PARTITION BY event_type) AS sigma
  FROM hourly
)
SELECT event_type, hour, n_events,
       round((n_events - mu) / sigma, 2) AS z
FROM stats
WHERE sigma > 0 AND (n_events - mu) / sigma >= 2.0
ORDER BY event_type, hour
""",
)


register_sql(
    "events_resample_gapfill",
    tags=("events", "time-series", "resample"),
    doc="""Time-series resampling with gap fill: each user's activity
    re-gridded to 6-hour slots anchored at their own first active hour,
    empty slots ZERO-FILLED (the step plain groupBy can't do — absent
    groups produce no rows). Grid generation unnests a per-user
    generate_series off a tiny span aggregate; counts join the grid on
    (user, slot).""",
    oracle="""
WITH spans AS (
  SELECT user_id,
         date_trunc('hour', min(ts)) AS t0,
         date_trunc('hour', max(ts)) AS t1
  FROM events WHERE user_id <= 20 GROUP BY user_id
),
grid AS (
  SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 6 HOUR)) AS slot
  FROM spans
),
actual AS (
  SELECT user_id,
         t0 + INTERVAL 6 HOUR * CAST(floor(date_diff('hour', t0, date_trunc('hour', ts)) / 6) AS BIGINT) AS slot,
         count(*) AS n
  FROM events JOIN spans USING (user_id)
  WHERE user_id <= 20
  GROUP BY 1, 2
)
SELECT g.user_id, CAST(g.slot AS TIMESTAMP) AS slot,
       coalesce(a.n, 0) AS n_events
FROM grid g LEFT JOIN actual a ON g.user_id = a.user_id AND g.slot = a.slot
ORDER BY g.user_id, slot
""",
)


register_sql(
    "events_markov_transitions",
    tags=("events", "sequence"),
    doc="""First-order behavior model: the event-type transition matrix
    P(next | current) across per-user event sequences — lead() over the
    one user_id sort-shuffle, then a tiny (type, type) aggregate and a
    partition-total window on the ALREADY aggregated 5x5 table.""",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_type
  FROM events
)
SELECT event_type, next_type, count(*) AS n,
       round(count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY event_type), 4)
         AS p_next
FROM seq WHERE next_type IS NOT NULL
GROUP BY event_type, next_type
ORDER BY event_type, next_type
""",
)


@register(
    "events_hll_sketch_rollup",
    tags=("events", "approx", "scale"),
    oracle="""
WITH leaf AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
         count(DISTINCT user_id) AS exact_leaf
  FROM events GROUP BY 1, 2
),
d AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         count(DISTINCT user_id) AS exact_day
  FROM events GROUP BY 1
)
SELECT d.day,
       (SELECT count(*) FROM leaf WHERE leaf.day = d.day) AS n_types,
       d.exact_day,
       TRUE AS leaf_ok,
       TRUE AS rollup_ok
FROM d ORDER BY d.day
""",
)
def events_hll_sketch_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """MATERIALIZED re-mergeable distinct-count sketches — the piece
    tumbling_window_approx doesn't cover: hll_sketch_agg produces a
    binary Datasketches HLL per (day, event_type) leaf that can be
    STORED and later hll_union_agg'd to any coarser grain WITHOUT
    re-scanning raw events. At 100 TB this is the difference between a
    daily full-corpus distinct scan and unioning yesterday's few-KB
    sketches: shuffle volume ∝ groups at build time, ∝ sketches at
    rollup time, raw data read once ever. Output carries the EXACT
    per-day distinct count (hash-checked against DuckDB) plus
    within_bound booleans: every leaf estimate and every union-rollup
    estimate within max(1, 5%) of exact (lgConfigK=12 ≈ 1.6% rse)."""
    ev = load_tables(spark, sf)["events"]
    day = F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
    leaf = ev.groupBy(day, F.col("event_type")).agg(
        F.expr("hll_sketch_agg(user_id, 12)").alias("sk"),
        F.countDistinct("user_id").alias("exact_leaf"),
    )
    leaf_checked = leaf.withColumn(
        "leaf_ok",
        F.abs(
            F.expr("hll_sketch_estimate(sk)").cast("double")
            - F.col("exact_leaf").cast("double")
        )
        <= F.greatest(F.lit(1.0), F.col("exact_leaf") * F.lit(0.05)),
    )
    rolled = leaf_checked.groupBy("day").agg(
        F.count("*").alias("n_types"),
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est_day"),
        F.min(F.col("leaf_ok").cast("int")).alias("all_leaf_ok"),
    )
    exact_day = ev.groupBy(day).agg(F.countDistinct("user_id").alias("exact_day"))
    return (
        rolled.join(exact_day, "day")
        .select(
            "day",
            "n_types",
            "exact_day",
            (F.col("all_leaf_ok") == 1).alias("leaf_ok"),
            (
                F.abs(F.col("est_day").cast("double") - F.col("exact_day").cast("double"))
                <= F.greatest(F.lit(1.0), F.col("exact_day") * F.lit(0.05))
            ).alias("rollup_ok"),
        )
        .orderBy("day")
    )


@register(
    "events_hll_sliding_uniques",
    tags=("events", "approx", "scale"),
    oracle="""
WITH days AS (
  SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day FROM events
)
SELECT d.day,
       (SELECT count(DISTINCT e.user_id) FROM events e
         WHERE CAST(date_trunc('day', e.ts) AS DATE)
               BETWEEN d.day - 6 AND d.day) AS exact_7d,
       TRUE AS within_bound
FROM days d ORDER BY d.day
""",
)
def events_hll_sliding_uniques(spark: SparkSession, sf: str) -> DataFrame:
    """7-day rolling distinct users by UNIONING the materialized daily
    HLL sketches in a window frame — the composition story on top of
    events_hll_sketch_rollup: a naive rolling distinct re-reads every
    event 7 times (each day lands in 7 windows); here raw events are
    scanned ONCE into per-day sketches and the rolling union is a
    window over ~#days few-KB sketch rows (RANGE INTERVAL 6 DAYS so
    calendar gaps stay correct). At 100 TB the window input is
    kilobytes. Output carries the EXACT rolling count (hash-checked
    against DuckDB's windowed re-scan) plus a within-5% bound check on
    the sketch estimate (lgConfigK=12 ≈ 1.6% rse)."""
    ev = load_tables(spark, sf)["events"]
    day = F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
    daily = ev.groupBy(day).agg(
        F.expr("hll_sketch_agg(user_id, 12)").alias("sk")
    )
    est = daily.selectExpr(
        "day",
        "hll_sketch_estimate(hll_union_agg(sk) OVER ("
        "ORDER BY CAST(day AS TIMESTAMP) "
        "RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)) AS est_7d",
    )
    days = daily.select("day")
    exact = (
        ev.select(F.to_date(F.date_trunc("day", F.col("ts"))).alias("eday"), "user_id")
        .join(
            F.broadcast(days),
            on=[
                F.col("eday") >= F.date_sub(F.col("day"), 6),
                F.col("eday") <= F.col("day"),
            ],
        )
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("exact_7d"))
    )
    return (
        est.join(exact, "day")
        .select(
            "day",
            "exact_7d",
            (
                F.abs(F.col("est_7d").cast("double") - F.col("exact_7d").cast("double"))
                <= F.greatest(F.lit(1.0), F.col("exact_7d") * F.lit(0.05))
            ).alias("within_bound"),
        )
        .orderBy("day")
    )


from ..operators import qsummary as QS  # noqa: E402


@register(
    "events_qsummary_sliding_quantiles",
    tags=("events", "approx", "scale"),
    # Oracle: EXPLICIT rolling order statistics (rank q·(n−1) with
    # a+(b−a)·f interpolation over a day-window self-join) — the
    # version-portable form per the r13 sweep taxonomy; bound columns
    # are asserted TRUE (a false bound flips the boolean and the hash).
    oracle="""
WITH days AS (
  SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day FROM events
), w AS (
  SELECT d.day, CAST(e.value AS DOUBLE) AS v
  FROM days d JOIN events e
    ON CAST(date_trunc('day', e.ts) AS DATE) BETWEEN d.day - 6 AND d.day
), r AS (
  SELECT day, v,
         row_number() OVER (PARTITION BY day ORDER BY v) AS rn,
         count(*)    OVER (PARTITION BY day) AS n
  FROM w
), p AS (
  SELECT day, v, rn, n,
         0.50 * (n - 1) AS i50, CAST(floor(0.50 * (n - 1)) AS BIGINT) AS l50,
         0.95 * (n - 1) AS i95, CAST(floor(0.95 * (n - 1)) AS BIGINT) AS l95
  FROM r
)
SELECT day,
       round(CASE WHEN max(i50) = floor(max(i50))
             THEN max(v) FILTER (rn = l50 + 1)
             ELSE (max(l50) + 1 - max(i50))
                  * (max(v) FILTER (rn = l50 + 1))
                  + (max(i50) - max(l50))
                  * (max(v) FILTER (rn = l50 + 2)) END, 4) AS p50_exact,
       round(CASE WHEN max(i95) = floor(max(i95))
             THEN max(v) FILTER (rn = l95 + 1)
             ELSE (max(l95) + 1 - max(i95))
                  * (max(v) FILTER (rn = l95 + 1))
                  + (max(i95) - max(l95))
                  * (max(v) FILTER (rn = l95 + 2)) END, 4) AS p95_exact,
       TRUE AS p50_ok,
       TRUE AS p95_ok
FROM p GROUP BY day ORDER BY day
""",
)
def events_qsummary_sliding_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """7-day rolling p50/p95 of event value by MERGING materialized
    per-day equi-rank quantile summaries (operators/qsummary.py) — the
    quantile analog of events_hll_sliding_uniques: raw events are
    scanned ONCE into ~#days (n, quantile-vector) rows; the rolling
    merge is a window over those KB-sized summaries (weighted
    upper-endpoint points, first cumulative crossing — all Spark
    higher-order functions, zero Python). Spark's own
    approx_percentile cannot re-merge materialized state, so this is
    the composition Spark lacks natively. Output: the EXACT rolling
    quantiles (hash-checked, explicit-order-statistics oracle) plus
    rank-space bound booleans for the summary estimate — the true
    rank of each estimate must sit within 2·N/k + 7 of q·N
    (k=128 → <2%; derivation in the operator docstring)."""
    ev = load_tables(spark, sf)["events"]
    k = 128
    daily = QS.daily_quantile_summaries(ev, "value", k=k)
    est = QS.rolling_quantile(daily, 0.50, 7, k, "p50_est")
    est = QS.rolling_quantile(est, 0.95, 7, k, "p95_est")
    days_est = est.select(
        "day", "p50_est", "p95_est", F.col("p50_est_n").alias("n_win")
    )
    joined = ev.select(
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("eday"),
        F.col("value").cast("double").alias("v"),
    ).join(
        F.broadcast(days_est),
        on=[
            F.col("eday") >= F.date_sub(F.col("day"), 6),
            F.col("eday") <= F.col("day"),
        ],
    )
    slack = F.lit(2.0) * F.col("nw") / F.lit(float(k)) + F.lit(7.0)
    return (
        joined.groupBy("day")
        .agg(
            F.round(F.expr("percentile(v, 0.50D)"), 4).alias("p50_exact"),
            F.round(F.expr("percentile(v, 0.95D)"), 4).alias("p95_exact"),
            F.sum((F.col("v") <= F.col("p50_est")).cast("long")).alias("r50"),
            F.sum((F.col("v") <= F.col("p95_est")).cast("long")).alias("r95"),
            F.first("n_win").alias("nw"),
        )
        .select(
            "day",
            "p50_exact",
            "p95_exact",
            (F.abs(F.col("r50") - 0.50 * F.col("nw")) <= slack).alias("p50_ok"),
            (F.abs(F.col("r95") - 0.95 * F.col("nw")) <= slack).alias("p95_ok"),
        )
        .orderBy("day")
    )
