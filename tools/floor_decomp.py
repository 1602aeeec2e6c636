"""Per-query floor decomposition (r14, guide §1): where does the ~0.3 s
go for the scheduler-floor-bound bench queries?

For each query, repeats N times and records the best-of split of the
bench timed region fn(spark, sf) + toArrow() into:

  build    — fn(spark, sf): py4j plan construction (+ rewrite for the
             gateway TPC-H entries)
  plan     — analysis + optimization + physical planning
             (df._jdf.queryExecution().executedPlan())
  exec     — toArrow() on the planned frame (job scheduling + execution
             + Arrow collect)
  jobs     — Spark job count for the exec phase (job-group counter)

Usage: python tools/floor_decomp.py [name ...]   (default: bench set)
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, UQ_DECOMP_REPEATS (default 5).
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
    repeats = int(os.environ.get("UQ_DECOMP_REPEATS", "5"))
    names = sys.argv[1:] or [n for n, q in Q.REGISTRY.items() if q.bench]
    spark = get_spark("floor-decomp")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    Q.REGISTRY[names[0]].spark_fn(spark, sf_dir).count()  # warm session

    out = {}
    for name in names:
        q = Q.REGISTRY[name]
        fn = q.bench_fn or q.spark_fn
        rows = []
        for i in range(repeats + 1):  # first is warmup
            group = f"decomp:{name}:{i}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            df.toArrow()
            t3 = time.perf_counter()
            jobs = len(tracker.getJobIdsForGroup(group))
            sc.setJobGroup(None, None)
            rows.append((t1 - t0, t2 - t1, t3 - t2, t3 - t0, jobs))
        rows = rows[1:]
        best = min(rows, key=lambda r: r[3])
        out[name] = {
            "build": round(best[0], 4),
            "plan": round(best[1], 4),
            "exec": round(best[2], 4),
            "total": round(best[3], 4),
            "jobs": best[4],
        }
        print(f"{name}: {out[name]}", flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
