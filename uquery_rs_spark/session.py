"""SparkSession factory for the engine.

One shared session per process, mirroring the reference's single embedded
DuckDB instance cloned across a connection pool (src/core/duckdb.rs:9-45).
In Spark, concurrency isolation comes from the scheduler (FAIR pools +
per-query job groups), not per-connection state, so a single session with
bounded concurrent job submission is the idiomatic equivalent.

Scale notes (100 TB design intent):
- AQE on: runtime coalescing, skew-join splitting, dynamic join strategy.
- shuffle.partitions is a local-mode default; on a real cluster AQE's
  coalescing makes the initial number far less critical.
- Arrow execution on: every driver-side materialization (result streaming,
  pandas interchange) moves columnar batches, not pickled rows.
- UTC session timezone: parquet timestamps compare bit-identically against
  the DuckDB oracle (naive-UTC semantics).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS: dict[str, str] = {
    # round 8: DuckDB TIME parity — Spark 4.1's TIME type sits behind
    # this flag (literals parse regardless; casts/extract need it)
    "spark.sql.timeType.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Bound Arrow batch size so result streaming is incremental and
    # driver memory stays flat regardless of result cardinality
    # (reference streams batch-at-a-time: src/core/duckdb.rs:91-93).
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    # Broadcast threshold: keep Spark's 10 MB default. A higher value
    # (64m, tried in round 3) makes Catalyst broadcast the column-pruned
    # FACT table once its estimated size dips under the bar — measured at
    # 10x sf0.1 it hash-builds 6M lineitem rows single-threaded (q5 went
    # 0.9s -> 4s) and at real scale it would OOM the executors. Small dims
    # still broadcast from stats, and AQE upgrades shuffle joins to
    # broadcast at runtime when the *actual* post-filter size is small.
    "spark.sql.autoBroadcastJoinThreshold": "10m",
    # DuckDB dialect: double quotes always delimit identifiers (never
    # string literals) — matches attached-macro bodies and client SQL.
    "spark.sql.ansi.doubleQuotedIdentifiers": "true",
    "spark.scheduler.mode": "FAIR",
    "spark.ui.enabled": "false",
}

# Applied ONLY when this factory builds a local[*] master — never safe to
# copy onto a cluster session (previously these sat in _DEFAULTS with a
# comment saying as much but nothing enforcing it):
_LOCAL_ONLY: dict[str, str] = {
    # Prefer shuffled-hash join over sort-merge when a side fits
    # per-partition hash maps: skips two full sorts per join. Spark bounds
    # the build side by threshold x shuffle.partitions and AQE still
    # splits skewed partitions, so the OOM guard rails stay on. Measured
    # at 10x sf0.1: q10 3.3s -> 0.9s, sessionization 2.0s -> 0.85s.
    # Local-only because a cluster's spill/network profile changes the
    # trade-off; leave the Spark default in charge there.
    "spark.sql.join.preferSortMergeJoin": "false",
    # Shuffle blocks live on tmpfs in local mode (see spark.local.dir
    # below) and never cross a network, so lz4 framing is pure CPU
    # overhead here. On a real cluster compression stays ON — there the
    # bytes do cross the wire.
    "spark.shuffle.compress": "false",
    "spark.shuffle.spill.compress": "false",
}


def default_cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(app_name: str = "uquery_rs_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) the shared SparkSession.

    Honors an existing active session (the driver harness may pass one in);
    only constructs a local-mode session when none exists.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    n = cpus or default_cpus()
    # UQ_MASTER lets a deployment point this factory at a real cluster
    # (spark://…, yarn, k8s://…); the tmpfs/compression tunings below are
    # gated on the master actually being local.
    master = os.environ.get("UQ_MASTER", f"local[{n}]")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("UQ_DRIVER_MEMORY", "32g"))
    )
    if master.startswith("local"):
        # Pin shuffle parallelism to the local core count. On a cluster
        # master the driver box's CPU count says nothing about executor
        # parallelism — leave Spark's default (AQE coalescing makes the
        # initial number non-critical) unless explicitly overridden.
        builder = builder.config("spark.sql.shuffle.partitions", str(n))
    elif "UQ_SHUFFLE_PARTITIONS" in os.environ:
        builder = builder.config(
            "spark.sql.shuffle.partitions", os.environ["UQ_SHUFFLE_PARTITIONS"]
        )
    # Shuffle/spill files on tmpfs when available: this box's virtio disk
    # stalls multi-second on buffered-write flushes, which round-2 bench
    # recorded as phantom query regressions. On a real cluster the
    # equivalent is pointing spark.local.dir at node-local NVMe.
    if master.startswith("local"):
        shm = os.environ.get("UQ_LOCAL_DIR", "/dev/shm/uq-spark-local")
        try:
            os.makedirs(shm, exist_ok=True)
            builder = builder.config("spark.local.dir", shm)
        except OSError:
            pass
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    if master.startswith("local"):
        for k, v in _LOCAL_ONLY.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
