"""Two-executor standalone-cluster demonstration (round-7 verdict item 4).

The standing claim for the perf-weak set is that the residual Spark-vs-
DuckDB gap is the per-row shuffle constant of a scale-out architecture —
cost that parallelizes across executors on a real cluster rather than
amortizing on one box. local[32] cannot show that: its "shuffle" is an
in-process byte copy and every stage shares one JVM. This script runs
the weak five on a REAL Spark standalone cluster on this host — a
master plus N workers, separate JVMs, netty shuffle, serialized task
dispatch — at two executor counts with the SAME total core budget:

    1 executor x 2C cores   vs   2 executors x C cores

If wall-clock holds roughly constant, the shuffle work demonstrably
redistributes across executor boundaries without a serial bottleneck —
the property that makes the "add executors" scale path real (the same
plan shapes run on a 1000-executor cluster; only the constant divides).

Usage:
    python tools/cluster_demo.py SCALED_DIR [CORES_PER_SIDE]
    # default CORES_PER_SIDE=8: compares 1x16 vs 2x8

pip-installed pyspark has no sbin start scripts — the master/worker
daemons are launched directly via bin/spark-class (Popen, killed on
exit). Master binds spark://127.0.0.1:7077.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# Round 8 (verdict item 3): the full perf-weak nine.
QUERY_SET = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q8_market_share",
    "q10_returned_items",
    "q21_suppliers_kept_waiting",
    "tumbling_window_events",
    "sessionization_30min",
    "asof_join_purchase_view",
]

MASTER = "spark://127.0.0.1:7077"
_procs: list = []


def _spark_class() -> str:
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-class")


def start_cluster(n_workers: int, cores: int, mem: str) -> None:
    log = open("/tmp/cluster_demo_daemons.log", "ab")
    _procs.append(subprocess.Popen(
        [_spark_class(), "org.apache.spark.deploy.master.Master",
         "-h", "127.0.0.1", "-p", "7077"],
        stdout=log, stderr=log,
    ))
    time.sleep(6)
    for _ in range(n_workers):
        _procs.append(subprocess.Popen(
            [_spark_class(), "org.apache.spark.deploy.worker.Worker",
             MASTER, "-c", str(cores), "-m", mem],
            stdout=log, stderr=log,
        ))
    time.sleep(8)


def stop_cluster() -> None:
    while _procs:
        p = _procs.pop()
        p.terminate()
        try:
            p.wait(timeout=10)
        except Exception:
            p.kill()
    time.sleep(3)


def best_of(run, n=3) -> float:
    run()
    times = []
    for _ in range(n):
        t0 = time.perf_counter()
        run()
        times.append(time.perf_counter() - t0)
    return min(times)


def run_config(
    scaled: str, n_workers: int, cores: int, no_broadcast: bool = False
) -> dict:
    from pyspark.sql import SparkSession

    from uquery_rs_spark import queries as Q

    Q.load_all()
    start_cluster(n_workers, cores, "8g")
    try:
        b = (
            SparkSession.builder.master(MASTER)
            .config("spark.executor.cores", str(cores))
            .config("spark.executor.memory", "6g")
            .config("spark.cores.max", str(n_workers * cores))
            .config("spark.sql.shuffle.partitions", "32")
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.ui.enabled", "false")
            .appName(f"cluster-demo-{n_workers}x{cores}")
        )
        if no_broadcast:
            # r7 finding: AQE's runtime broadcast is free locally but a
            # real ship on a cluster — this arm isolates that effect
            b = b.config("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark = b.getOrCreate()
        execs = spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size() - 1
        print(f"-- {n_workers} worker(s) x {cores} cores: "
              f"{execs} executor(s) registered", flush=True)
        out = {}
        Q.REGISTRY[QUERY_SET[0]].spark_fn(spark, scaled).count()  # warm
        for name in QUERY_SET:
            q = Q.REGISTRY[name]
            out[name] = best_of(lambda: q.spark_fn(spark, scaled).toArrow())
            print(f"  {name}: {out[name]:.2f}s", flush=True)
        spark.stop()
        return out
    finally:
        stop_cluster()


def main() -> None:
    """Round 8: 1x16 / 2x8 / 4x4 scaling curve at a fixed 16-core total
    (verdict item 3) — the measurement that can move the weak nine out
    of `weak` under the stated rule. Pass --no-broadcast for the
    autoBroadcastJoinThreshold=-1 arm."""
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    no_bcast = "--no-broadcast" in sys.argv
    if "--reverse" in sys.argv:
        # positional diagnostic: if a 4x4 regression follows RUN ORDER
        # rather than the query, it is session accumulation (broadcast
        # blocks / GC on the smaller heaps), not a scaling property
        QUERY_SET.reverse()
    scaled = args[0]
    total = int(args[1]) if len(args) > 1 else 16
    rungs = [(1, total), (2, total // 2), (4, total // 4)]
    results = {}
    for n_workers, cores in rungs:
        results[(n_workers, cores)] = run_config(
            scaled, n_workers, cores, no_broadcast=no_bcast
        )
    hdr = " | ".join(f"{n}x{c}c" for n, c in rungs)
    print(f"\n(broadcast {'OFF' if no_bcast else 'on'}) "
          f"| query | {hdr} | 4-exec/1-exec |")
    print("|---|" + "---|" * (len(rungs) + 1))
    for name in QUERY_SET:
        row = " | ".join(f"{results[r][name]:.2f}" for r in rungs)
        ratio = results[rungs[-1]][name] / results[rungs[0]][name]
        print(f"| {name} | {row} | {ratio:.2f} |")


if __name__ == "__main__":
    main()
