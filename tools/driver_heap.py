"""JVM driver heap held while a large multi-partition result streams.

Runs `SELECT id, repeat('x', W) AS s FROM range(0, ROWS, 1, PARTS)`
through Engine.execute in process, with a consumer that drops each
batch. Before the query and at every batch it runs a full GC in the
driver JVM (System.gc()) and reads the heap in use, so a reading is the
live data the driver holds at that moment. Prints one JSON line:

  {"cpus", "partitions", "batches", "result_mb", "baseline_mb",
   "held_peak_mb", "held_p50_mb"}

`held_*` is the heap in use after GC at a batch minus the baseline
before the query: the part of the result the driver holds while the
consumer reads it. `result_mb` is the Arrow bytes served in all.

Usage: python tools/driver_heap.py [--rows N] [--width W] [--parts N] [--cpus N]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

MB = 1 << 20


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--rows", type=int, default=1_600_000)
    p.add_argument("--width", type=int, default=200, help="characters per row's string")
    p.add_argument("--parts", type=int, default=16, help="result partitions")
    p.add_argument("--cpus", type=int, default=4, help="local Spark cores")
    p.add_argument("--max-result-mb", type=int, help="spark.driver.maxResultSize (default 1g)")
    args = p.parse_args()
    os.environ.setdefault("UQ_DRIVER_MEMORY", "2g")
    if args.max_result_mb:
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--conf spark.driver.maxResultSize={args.max_result_mb}m pyspark-shell"
        )

    from uquery_rs_spark.engine import Engine, RecordBatchConsumer
    from uquery_rs_spark.session import get_spark

    spark = get_spark("driver-heap", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark.sparkContext._jvm
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()

    def live_mb() -> float:
        jvm.java.lang.System.gc()
        return heap.getHeapMemoryUsage().getUsed() / MB

    class Sampler(RecordBatchConsumer):
        def __init__(self):
            self.held, self.nbytes = [], 0

        def on_schema(self, schema):
            pass

        def on_batch(self, batch):
            self.nbytes += batch.nbytes
            self.held.append(live_mb() - baseline)

        def finish(self):
            pass

    sql = (
        f"SELECT id, repeat('x', {args.width}) AS s "
        f"FROM range(0, {args.rows}, 1, {args.parts})"
    )
    engine = Engine(spark, pool_size=1)
    try:
        for _ in range(2):  # the first run warms up classes and codegen
            sink, baseline = Sampler(), live_mb()
            engine.prepare(sql).execute(sink)
    finally:
        spark.stop()
    print(json.dumps({
        "cpus": args.cpus,
        "partitions": args.parts,
        "batches": len(sink.held),
        "result_mb": round(sink.nbytes / MB, 1),
        "baseline_mb": round(baseline, 1),
        "held_peak_mb": round(max(sink.held), 1),
        "held_p50_mb": round(statistics.median(sink.held), 1),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
