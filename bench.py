#!/usr/bin/env python
"""Headline benchmark — the driver's per-round performance probe.

Runs the bench-tagged queries from the registry at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Timing counts execution only (result materialization to driver-side
Arrow included, JVM+session startup excluded) — matching BASELINE.md's
"startup-excluded query latency" deviation note. BOTH engines
materialize to Arrow (Spark df.toArrow(), DuckDB .arrow()): the serving
path of this engine is Arrow-native end to end (engine.py streams the
JVM's Arrow batches), so Python Row-object construction is a cost the
product never pays — and fetchall() vs collect() compared C-tuple building
against Python Row building, charging Spark up to ~1 s/100k rows of
pure client-binding overhead.

Measurement hygiene (round-2 lesson: a stale-JVM-polluted run recorded a
phantom 2.1x regression on untouched code): stray Spark JVMs from earlier
test runs are killed before timing; Spark shuffle/spill dirs sit on tmpfs
(session.py — the box's virtio disk stalls seconds on flush); each query
gets one untimed warmup run (codegen / page cache) then >=3 timed repeats
(5 when warmup lands over a second, where variance is the signal), for
BOTH engines identically. The artifact records best, median and spread
per query. `value` / `vs_duckdb_ratio` stay best-of-N for continuity with
earlier rounds; `queries_median` / `queries_spread` expose stability.

Because the reference publishes no numbers (BASELINE.md), the honest
baseline is the engine it delegates to: each bench query's DuckDB oracle
SQL is also timed on the same machine over the same parquet, and the
output carries `duckdb_queries` / `duckdb_total_sec` / `vs_duckdb_ratio`
so the per-round record is a direct same-scale throughput comparison.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from uquery_rs_spark import queries as Q
from uquery_rs_spark.session import get_spark

Q.load_all()

# minimum repeats; queries whose first pass exceeds SLOW_SEC get
# SLOW_REPEATS — on >1 s queries single-run variance (±0.5 s on a shared
# box) is the size of the signal being measured. The shared host also
# shows multi-second steal-time stalls lasting a couple of runs
# (measured: consecutive 10 s outliers on a 2 s query), so even
# sub-second queries get enough repeats for best-of-N to dodge a stall.
REPEATS = 5
SLOW_REPEATS = 7
SLOW_SEC = 1.0


def _kill_stale_spark_jvms() -> None:
    """Kill leftover Spark JVMs from earlier test runs.

    They hold cores/memory and skew timings; round 2 recorded a phantom
    2.1x regression this way. Only JVMs OUTSIDE this process's ancestry
    are touched (ours isn't launched yet, but be safe under pytest).
    """
    import signal

    me = os.getpid()
    ancestors = set()
    pid = me
    for _ in range(32):
        try:
            with open(f"/proc/{pid}/stat") as f:
                pid = int(f.read().split(") ", 1)[1].split()[1])
        except Exception:
            break
        if pid <= 1:
            break
        ancestors.add(pid)
    for p in os.listdir("/proc"):
        if not p.isdigit() or int(p) in ancestors or int(p) == me:
            continue
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except Exception:
            continue
        if "java" in cmd and ("pyspark-shell" in cmd or "SparkSubmit" in cmd):
            try:
                os.kill(int(p), signal.SIGKILL)
            except Exception:
                pass


def _time_repeats(run, first: float) -> list[float]:
    """`first` is the query's initial (codegen/cache-warming) run — used
    only to pick the repeat count, NOT recorded, so best/median/spread
    describe steady-state plan quality for both engines."""
    times = []
    n = SLOW_REPEATS if first > SLOW_SEC else REPEATS
    for _ in range(n):
        t0 = time.perf_counter()
        run()
        times.append(time.perf_counter() - t0)
    return sorted(times)


def _median(times: list[float]) -> float:
    n = len(times)
    return times[n // 2] if n % 2 else (times[n // 2 - 1] + times[n // 2]) / 2


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    _kill_stale_spark_jvms()
    spark = get_spark("uquery-bench")

    bench_queries = {n: q for n, q in Q.REGISTRY.items() if q.bench}

    # Warm the session + parquet footers once so q1 doesn't pay JVM startup.
    next(iter(bench_queries.values())).spark_fn(spark, sf_dir).count()

    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    spreads: dict[str, float] = {}
    for name, q in bench_queries.items():
        fn = q.bench_fn or q.spark_fn

        def run():
            fn(spark, sf_dir).toArrow()

        t0 = time.perf_counter()
        run()
        times = _time_repeats(run, time.perf_counter() - t0)
        timings[name] = round(times[0], 4)
        medians[name] = round(_median(times), 4)
        spreads[name] = round(times[-1] - times[0], 4)

    duck: dict[str, float] = {}
    duck_medians: dict[str, float] = {}
    duck_spreads: dict[str, float] = {}
    try:
        from uquery_rs_spark.oracle import oracle_connection

        con = oracle_connection(sf_dir)
        for name, q in bench_queries.items():
            # bench_fn entries time a raw kernel whose oracle describes the
            # verification-shaped spark_fn — a DuckDB timing of that oracle
            # would not be comparable. They join the ratio only via an
            # explicit bench_oracle twin (the same user-visible task on
            # DuckDB's best plan) so kernel regressions can't hide from
            # the ratio gate (r10: ann_ivf_topk regressed 2.9x unseen).
            twin = q.bench_oracle if q.bench_fn is not None else q.oracle
            if twin is None:
                continue

            def run_duck():
                con.execute(twin).arrow()

            t0 = time.perf_counter()
            run_duck()
            times = _time_repeats(run_duck, time.perf_counter() - t0)
            duck[name] = round(times[0], 4)
            duck_medians[name] = round(_median(times), 4)
            duck_spreads[name] = round(times[-1] - times[0], 4)
    except Exception:  # noqa: BLE001 — comparison column is best-effort
        duck = {}

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline_queries_total_sec",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "queries_median": medians,
        "queries_spread": spreads,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if duck:
        # Ratio over the oracle-comparable subset only, so both sums cover
        # the same queries.
        spark_subset = sum(timings[n] for n in duck)
        out["duckdb_queries"] = duck
        out["duckdb_queries_median"] = duck_medians
        out["duckdb_queries_spread"] = duck_spreads
        out["duckdb_total_sec"] = round(sum(duck.values()), 4)
        out["vs_duckdb_ratio"] = round(spark_subset / max(sum(duck.values()), 1e-9), 3)
        # Round-13 bench-protocol addition (r12 verdict #7): the DuckDB
        # side swings 5.8-7.3 s across runs on this shared host, moving
        # the AGGREGATE ratio 1.45-1.78 with identical code. The
        # regression gate therefore reads the PAIRWISE per-query ratios
        # (best/best alongside median/median) — a real Spark-side
        # regression shows up in its own query's ratio and cannot hide
        # behind a slow DuckDB read elsewhere in the aggregate (and a
        # slow-host round can't fake one).
        out["vs_duckdb_per_query"] = {
            n: round(timings[n] / max(duck[n], 1e-9), 3) for n in duck
        }
        out["vs_duckdb_per_query_median"] = {
            n: round(medians[n] / max(duck_medians[n], 1e-9), 3) for n in duck
        }
        out["vs_duckdb_ratio_median"] = round(
            sum(medians[n] for n in duck)
            / max(sum(duck_medians.values()), 1e-9), 3
        )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
