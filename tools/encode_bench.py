"""Encode throughput of the four response writers, in process, no Spark.

Builds the perfbench tables (`perfbench/datagen.py`, sf 0.01 by default)
in a temporary directory, feeds each table to each writer of
`writer_for_format` in 65,536-row batches (the size of the JVM's Arrow
batches that engine.execute hands the writers), into a sink that only
counts bytes, and prints one JSON line:

  {"sf", "reps", "tables": {table: {format: {"ms", "mb_per_s", "bytes"}}}}

`ms` is the median over `reps` full encodes of the table; `mb_per_s` is
the encoded bytes (in 10^6) per second at that median. To compare a
change with its parent, copy this file into the parent checkout's
`tools/` and run it in both.

Usage: python tools/encode_bench.py [--sf SF] [--reps N] [--tables a,b]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

FORMATS = ("json", "jsonl", "csv", "arrow")
JVM_BATCH_ROWS = 65_536


class _CountingSink:
    def __init__(self):
        self.bytes = 0

    def write(self, data) -> None:
        self.bytes += len(data)


def _encode_ms(writer_for_format, table, fmt: str) -> tuple[float, int]:
    sink = _CountingSink()
    t0 = time.perf_counter()
    w = writer_for_format(fmt, sink)
    w.on_schema(table.schema)
    for batch in table.to_batches(max_chunksize=JVM_BATCH_ROWS):
        w.on_batch(batch)
    w.finish()
    return 1000 * (time.perf_counter() - t0), sink.bytes


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--sf", type=float, default=0.01, help="perfbench scale factor")
    p.add_argument("--reps", type=int, default=5, help="timed encodes per table and format")
    p.add_argument("--tables", default="", help="comma-separated tables (default: all)")
    args = p.parse_args()

    import pyarrow.parquet as pq

    from uquery_rs_spark.writers import writer_for_format

    out = {}
    with tempfile.TemporaryDirectory(prefix="encode-bench-") as tmp:
        datagen = os.path.join(ROOT, "perfbench", "datagen.py")
        table_dir = subprocess.run(
            [sys.executable, datagen, tmp, str(args.sf)],
            check=True, capture_output=True, text=True,
        ).stdout.strip()
        names = args.tables.split(",") if args.tables else sorted(
            f[: -len(".parquet")] for f in os.listdir(table_dir) if f.endswith(".parquet")
        )
        for name in names:
            table = pq.read_table(os.path.join(table_dir, f"{name}.parquet"))
            out[name] = {}
            for fmt in FORMATS:
                _encode_ms(writer_for_format, table, fmt)  # warm-up
                runs = [_encode_ms(writer_for_format, table, fmt) for _ in range(args.reps)]
                ms = statistics.median(r[0] for r in runs)
                size = runs[0][1]
                out[name][fmt] = {
                    "ms": round(ms, 2),
                    "mb_per_s": round(size / 1e6 / (ms / 1000), 1) if ms else None,
                    "bytes": size,
                }
    print(json.dumps({"sf": args.sf, "reps": args.reps, "tables": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
