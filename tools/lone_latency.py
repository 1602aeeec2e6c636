"""Lone-client latency of the served path, in process.

Serves `SELECT 1` and a 4-partition `range` from an in-process server
(the same Engine, SqlRewriter and handler as `python -m
uquery_rs_spark.web`) to one keep-alive `http.client` connection, and
prints one JSON line:

  {"reps", "cpus", "texts": {sql: {"p50_total_ms", "p50_header_to_body_ms"}}}

`total` runs from sending the request to the end of the body;
`header_to_body` from the return of getresponse() (the headers are in)
to the end of the body. A TCP stall on the response (Nagle holding a
small chunk until the client's delayed ACK) shows in both as ~40 ms.

Usage: python tools/lone_latency.py [--reps N] [--cpus N]
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TEXTS = ("SELECT 1", "SELECT id FROM range(0, 10, 1, 4)")


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--reps", type=int, default=30, help="timed requests per text")
    p.add_argument("--cpus", type=int, default=4, help="local Spark cores")
    args = p.parse_args()
    os.environ.setdefault("UQ_DRIVER_MEMORY", "1g")

    from uquery_rs_spark.engine import Engine
    from uquery_rs_spark.rewrite import SqlRewriter
    from uquery_rs_spark.session import get_spark
    from uquery_rs_spark.web.app import ServiceConfig, make_server

    spark = get_spark("lone-latency", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    engine = Engine(spark, pool_size=2, rewriter=SqlRewriter(spark, allowed_dirs=[]))
    server = make_server("127.0.0.1", 0, ServiceConfig(engine))
    threading.Thread(target=server.serve_forever, daemon=True).start()
    conn = http.client.HTTPConnection("127.0.0.1", server.server_address[1], timeout=60)
    headers = {"Content-Type": "text/plain", "Accept": "application/json"}
    out = {}
    try:
        for sql in TEXTS:
            totals, gaps = [], []
            for i in range(args.reps + 3):  # the first 3 warm up
                t0 = time.perf_counter()
                conn.request("POST", "/", body=sql.encode(), headers=headers)
                resp = conn.getresponse()
                t1 = time.perf_counter()
                body = resp.read()
                t2 = time.perf_counter()
                if resp.status != 200:
                    raise SystemExit(f"{sql}: {resp.status} {body[:300]!r}")
                if i >= 3:
                    totals.append(t2 - t0)
                    gaps.append(t2 - t1)
            out[sql] = {
                "p50_total_ms": round(statistics.median(totals) * 1000, 2),
                "p50_header_to_body_ms": round(statistics.median(gaps) * 1000, 2),
            }
    finally:
        conn.close()
        server.shutdown()
        server.server_close()
        spark.stop()
    print(json.dumps({"reps": args.reps, "cpus": args.cpus, "texts": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
