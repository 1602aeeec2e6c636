"""Query registry: name → (PySpark callable, DuckDB oracle SQL).

This is the correctness backbone. Every operator claimed in SURVEY.md §2 gets
one entry here; the oracle gate runs each entry's Spark callable and its
oracle SQL on DuckDB side-by-side over the same parquet directory and
compares row count + schema + order-insensitive value hash.

An entry is one of two kinds:

- **SQL text** (:func:`register_sql`): the entry is data. Its ``spark_fn``
  is :func:`gateway_sql` bound to the entry's text, i.e. exactly the path
  an HTTP client's query takes (``load_tables`` → the session's
  ``SqlRewriter`` → ``spark.sql``). The text is the ``oracle`` itself, or
  ``sql=`` when the gateway text deliberately differs from it — e.g. it
  exercises a DuckDB idiom whose oracle is restated version-portably, or
  it is an equivalent plan rewrite the oracle pins.
- **Code** (:func:`register` as a decorator): a Python function. An
  entry stays code only for one of these reasons:

  - it is a ``bench`` entry: bench.py times its DataFrame kernel;
  - a test reads its ``spark_fn`` (tests/test_plans.py pins DataFrame
    plans);
  - its oracle hard-codes what the code computes (constant checks, the
    closed form of a synthesized input), so the oracle text is not the
    same query;
  - it runs more than one statement, or post-processes the result;
  - the gateway cannot serve its oracle text yet (the served gate's
    ``EXCLUDED``).

  The served gate's ``KEPT_AS_CODE`` names the reason for each code
  entry that is not a bench kernel, plan-pinned or excluded.

  Any other query is SQL text: a DataFrame copy of a query the gateway
  already serves correctly is a second path to the same answer.

Conventions (critical for hash-matching):
- Alias EVERY computed/aggregate column identically in Spark and SQL.
- Round floating-point aggregates with ``round(x, 2)`` on BOTH sides —
  double summation order differs between engines; 2-decimal rounding
  absorbs the ~1e-9 accumulation error without (realistically) crossing a
  rounding boundary.
- Timestamps: Spark session tz is UTC, matching DuckDB's naive-UTC.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..rewrite import SqlRewriter

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@dataclass
class Query:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → driver records a weaker rows-only check
    doc: str = ""
    bench: bool = False  # include in bench.py headline set
    tags: tuple[str, ...] = field(default_factory=tuple)
    # When set, bench.py times THIS callable instead of spark_fn — used when
    # the oracle-checked query wraps the kernel in a verification shape
    # (e.g. _ann_recall_shape runs kernel + exact baseline) that would
    # distort the timing of the kernel itself. The correctness oracle
    # matches spark_fn, not bench_fn, so it can't be the DuckDB timing twin.
    bench_fn: Callable[[SparkSession, str], DataFrame] | None = None
    # DuckDB SQL timed (never hash-compared) as the ratio twin for
    # bench_fn entries — the same user-visible TASK on DuckDB's best
    # available plan. Round-11 addition: ann_ivf_topk regressed 2.9x in
    # BENCH_r10 and no ratio gate fired because bench_fn entries had no
    # twin (r10 verdict #3).
    bench_oracle: str | None = None
    # Gateway text served instead of ``oracle`` (SQL-text entries only).
    sql: str | None = None


REGISTRY: dict[str, Query] = {}


def _add(query: Query) -> None:
    if query.name in REGISTRY:
        raise ValueError(f"duplicate query name: {query.name}")
    REGISTRY[query.name] = query


def register(
    name: str,
    oracle: str | None = None,
    doc: str = "",
    bench: bool = False,
    tags: tuple[str, ...] = (),
    bench_fn: Callable[[SparkSession, str], DataFrame] | None = None,
    bench_oracle: str | None = None,
):
    """Decorator registering a query callable under ``name``."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        _add(
            Query(
                name,
                fn,
                oracle,
                doc or (fn.__doc__ or ""),
                bench,
                tags,
                bench_fn,
                bench_oracle,
            )
        )
        return fn

    return deco


def register_sql(
    name: str,
    oracle: str,
    doc: str = "",
    bench: bool = False,
    tags: tuple[str, ...] = (),
    sql: str | None = None,
) -> None:
    """Register a SQL-text entry: it serves ``sql or oracle`` through
    :func:`gateway_sql`. ``doc`` never falls back to the callable's
    docstring (a ``functools.partial`` carries partial's own)."""
    fn = functools.partial(gateway_sql, sql=sql or oracle)
    _add(Query(name, fn, oracle, doc, bench, tags, sql=sql))


# ---------------------------------------------------------------------------
# Table loading. Cached per (session, sf_dir) so repeated queries() calls
# don't re-plan the scans; temp views are (re-)registered so SQL-flavored
# queries resolve bare table names.
# ---------------------------------------------------------------------------

_loaded: dict[tuple[int, str], dict[str, DataFrame]] = {}

# r14 note: an input-bytes-keyed AQE gate (disable adaptive execution
# below ~1 GiB of scanned input) was implemented and A/B-measured here.
# A sequential A/B suggested 0.1-0.5 s/query wins, but a properly
# INTERLEAVED A/B (same session, alternating runs) showed the effect is
# net-neutral: AQE's per-stage job overhead on tiny inputs is offset by
# its partition coalescing collapsing 32-task reduce waves to 1 task
# (tumbling/ann were 0.1-0.17 s FASTER with AQE on). Reverted; AQE
# stays on unconditionally, as in every round since r1.


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    key = (id(spark), sf_dir)
    cached = _loaded.get(key)
    if cached is not None:
        return cached
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # round 8: TIME casts/extract need the feature flag (the driver
    # harness builds a plain session, so it must be set HERE)
    spark.conf.set("spark.sql.timeType.enabled", "true")
    # TIMESTAMP(MICROS) parquet reads natively as TIMESTAMP_NTZ, which
    # matches DuckDB's naive-UTC TIMESTAMP exactly AND keeps timestamp
    # predicates pushable to parquet row-group min/max pruning — the thing
    # that matters on a 100 TB time-ranged scan. Only genuinely-nanos files
    # (which Spark 4 refuses to read natively: PARQUET_TYPE_ILLEGAL) take
    # the legacy nanosAsLong + convert path; that conversion wraps the
    # column in an expression and forfeits pushdown, so it is strictly a
    # compatibility fallback, never the preferred route.
    ns_cols = {name: _nanos_timestamp_cols(f"{sf_dir}/{name}.parquet") for name in TABLES}
    any_ns = any(ns_cols.values())
    # STICKY conf policy: once any loaded dir needs nanosAsLong, leave it
    # on for the session's lifetime. Flipping it per-dir (round-3 code)
    # retroactively breaks cached DataFrames from earlier dirs — the conf
    # is read at SCAN time, so a cached ns-dir frame re-planned under
    # "false" raises PARQUET_TYPE_ILLEGAL. Sticky-true is safe for every
    # frame this loader builds: the ns→us wrapper is keyed on the parquet
    # FOOTER (pyarrow), not the conf, and micros files read identically
    # under either setting.
    if any_ns:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    tables: dict[str, DataFrame] = {}
    for name in TABLES:
        path = f"{sf_dir}/{name}.parquet"
        df = spark.read.parquet(path)
        for col in ns_cols[name]:
            # nanosAsLong surfaces ns-timestamps as epoch-nano longs;
            # integer `div 1000` truncates to micros exactly like DuckDB's
            # ns→us conversion (float division would lose precision at 1e18).
            df = df.withColumn(
                col, F.expr(f"timestamp_micros({col} div 1000)").cast("timestamp_ntz")
            )
        df.createOrReplaceTempView(name)
        tables[name] = df
    _loaded[key] = tables
    return tables


_rewriters: dict[int, SqlRewriter] = {}


def gateway_sql(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    """Run gateway-dialect SQL exactly as an HTTP client's query would:
    ``load_tables`` → the session's single ``SqlRewriter`` → ``spark.sql``."""
    load_tables(spark, sf_dir)
    rw = _rewriters.get(id(spark))
    if rw is None:
        rw = _rewriters[id(spark)] = SqlRewriter(spark)
    return spark.sql(rw.rewrite(sql))


def _nanos_timestamp_cols(path: str) -> list[str]:
    """Columns stored as parquet timestamp[ns] (local paths only)."""
    try:
        import pyarrow.parquet as pq

        schema = pq.read_schema(path)
        return [
            f.name
            for f in schema
            if str(f.type).startswith("timestamp[ns")
        ]
    except Exception:
        return []
