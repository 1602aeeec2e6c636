"""Capture .explain("formatted") for bench queries into plans/<tag>/.

Usage: python tools/plan_capture.py <tag> [suffix] [name ...]
Writes plans/<tag>/<query>_<suffix>.txt (suffix default "before").
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from uquery_rs_spark import queries as Q
from uquery_rs_spark.session import get_spark

Q.load_all()


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r13"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:] or [n for n, q in Q.REGISTRY.items() if q.bench]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    outdir = os.path.join(ROOT, "plans", tag)
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("plan-capture")
    for name in names:
        q = Q.REGISTRY[name]
        fn = q.bench_fn or q.spark_fn
        df = fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = f"{outdir}/{name}_{suffix}.txt"
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)", flush=True)


if __name__ == "__main__":
    main()
