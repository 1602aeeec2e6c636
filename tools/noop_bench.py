"""Isolated noop-sink timing for individual bench queries (guide §1.4).

Times fn(spark, sf).write.format("noop") — computation only, no Arrow
materialization — so per-change A/B numbers isolate plan cost from the
driver-side result transfer that bench.py (the driver contract) includes.

Usage: python tools/noop_bench.py [name ...]   (default: all bench queries)
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, UQ_NOOP_REPEATS (default 5).
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from uquery_rs_spark import queries as Q
from uquery_rs_spark.session import get_spark

Q.load_all()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repeats = int(os.environ.get("UQ_NOOP_REPEATS", "5"))
    names = sys.argv[1:] or [n for n, q in Q.REGISTRY.items() if q.bench]
    unknown = [n for n in names if n not in Q.REGISTRY]
    if unknown:
        raise SystemExit(f"unknown query names: {unknown}")
    spark = get_spark("noop-bench")
    # warm session + parquet footers with the first TIMED callable
    # (bench_fn when set) so its plan/codegen isn't cold relative to
    # the others' — plus each query's own untimed warmup run below.
    q0 = Q.REGISTRY[names[0]]
    (q0.bench_fn or q0.spark_fn)(spark, sf_dir).count()
    out = {}
    for name in names:
        q = Q.REGISTRY[name]
        fn = q.bench_fn or q.spark_fn
        spark.sparkContext.setJobDescription(f"noop:{name}")

        def run():
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

        run()  # warmup (codegen, page cache)
        times = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            run()
            times.append(time.perf_counter() - t0)
        times.sort()
        out[name] = {
            "best": round(times[0], 4),
            "median": round(times[len(times) // 2], 4),
            "spread": round(times[-1] - times[0], 4),
        }
        print(f"{name}: best={out[name]['best']} median={out[name]['median']}", flush=True)
    spark.sparkContext.setJobDescription(None)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
