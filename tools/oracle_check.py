"""Local mirror of the driver's t2 correctness gate.

Runs every registry query on Spark and its DuckDB oracle side-by-side.
Usage:  python tools/oracle_check.py [sf_dir] [name ...]
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from uquery_rs_spark import queries as Q
from uquery_rs_spark.oracle import compare_query, oracle_connection
from uquery_rs_spark.session import get_spark

Q.load_all()


def main() -> int:
    args = sys.argv[1:]
    sf = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    names = [a for a in args if "/" not in a] or list(Q.REGISTRY)

    spark = get_spark("oracle-check")
    con = oracle_connection(sf)

    failures = []
    for name in names:
        q = Q.REGISTRY[name]
        try:
            passed, detail = compare_query(spark, con, q, sf)
        except Exception as e:  # noqa: BLE001
            passed, detail = False, f"error: {str(e)[:300]}"
        mark = "ok " if passed else "FAIL"
        if passed and q.oracle is None:
            mark = "ok*"
        if not passed:
            failures.append(name)
        print(f"{mark}   {name}: {detail}", flush=True)
    print(f"\n{len(names) - len(failures)}/{len(names)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
