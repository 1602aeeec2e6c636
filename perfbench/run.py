"""Served-path benchmark for the µQuery HTTP gateway.

Usage:
  python3 perfbench/run.py --workload {interactive,export} --seed N \\
      --seconds S --trace {0,1}

Starts the real server (`python -m uquery_rs_spark.web`) in a session of
its own, drives it from this one process with a closed loop of
HTTP clients, checks every response against DuckDB running the same SQL,
and prints one JSON object as its last stdout line:
{"correct", "attempted", "failed", "metrics"}.

--trace 0: end-to-end metrics with tracing off. The server is started
  twice; set-up time (process start to the first `GET /health` 200) is
  the median of both starts, and the second one serves the timed phase.
--trace 1: per-layer metrics. The workload runs once on a plain server
  and once on perfbench/traced_server.py; layer times come from the
  traced run, and the tracing overhead is traced minus plain.

The line before the last is a JSON summary: attempted and failed counts,
latency per request kind next to DuckDB's time for the same text (the
served ratio; context only, not gated), and the known-defect probes sent
after the timed phase. Tables are generated under perfbench/.work on
first use (perfbench/datagen.py).
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import signal
import statistics
import sys
import time
import urllib.request
from collections import defaultdict
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import resource_tracker

import duckdb

_BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [_BENCH_DIR, os.path.dirname(_BENCH_DIR)]  # this directory, the repo root

import datagen  # noqa: E402
import procs  # noqa: E402
from client import (  # noqa: E402
    ACCEPT,
    Bodies,
    Client,
    body_digest,
    table_digest,
    highest_percentile_with_tail,
    percentile,
    run_rounds,
)
from workloads import WORKLOADS, kind  # noqa: E402

from bench import _kill_stale_spark_jvms  # noqa: E402  (the repo root's bench.py)

SETUP_TIMEOUT_S = 150
MAX_ROUNDS = 60
DUCKDB_REPEATS = 3
CHECK_WORKERS = min(4, os.cpu_count() or 1)

E2E_UNITS = {
    "setup_s": "s",
    "qps": "1/s",
    "latency_p50_ms": "ms",
    "ttfb_p50_ms": "ms",
    "mb_per_s": "MB/s",
    "py_rss_peak_mb": "MB",
}

# Per-layer metrics: means per timed request, except start-up (once per
# server) and the tracing overhead (traced run minus plain run).
LAYER_UNITS = {
    "rewrite.ms": "ms",
    "rewrite.probes": "count",
    "rewrite.probe_jvm": "count",
    "rewrite.probe_memo_hit_share": "share",
    "engine.permit_wait_ms": "ms",
    "engine.analyze_ms": "ms",
    "engine.execute_ms": "ms",
    "engine.first_batch_ms": "ms",
    "engine.spark_jobs": "count",
    "engine.spark_stages": "count",
    "engine.spark_tasks": "count",
    "engine.rows": "count",
    "writers.encode_ms": "ms",
    "writers.driver_batches": "count",
    "writers.executor_payloads": "count",
    "web.queue_block_ms": "ms",
    "web.stream_ms": "ms",
    "web.bytes": "bytes",
    "web.request_ms": "ms",
    "session.spark_start_s": "s",
    "session.macros_s": "s",
    "sources.views_s": "s",
    "trace.latency_p50_overhead_ms": "ms",
    "trace.qps_overhead_share": "share",
}


class Server:
    """One server lifetime: started, timed to its first /health 200,
    killed with every process of its session."""

    def __init__(self, wl, tables_dir: str, traced: bool, tag: str):
        self.traced = traced
        self.port = procs.free_port()
        args = [
            "--addr", "127.0.0.1",
            "--port", str(self.port),
            "--pool-size", str(wl.pool_size),
            "--query-timeout-secs", str(wl.query_timeout_s),
            "--tables-dir", tables_dir,
        ]  # fmt: skip
        self.spans_path = os.path.join(procs.WORK_DIR, f"spans-{tag}.json")
        if os.path.exists(self.spans_path):
            os.remove(self.spans_path)
        if traced:
            launcher = os.path.join(procs.BENCH_DIR, "traced_server.py")
            argv = [sys.executable, launcher, self.spans_path, *args]
        else:
            argv = [sys.executable, "-m", "uquery_rs_spark.web", *args]
        self.group = procs.Group(argv, f"server-{tag}")
        try:
            self.setup_s = self._wait_healthy()
        except BaseException:
            self.group.kill()
            raise

    def _wait_healthy(self) -> float:
        url = f"http://127.0.0.1:{self.port}/health"
        while True:
            try:
                with urllib.request.urlopen(url, timeout=1) as r:
                    if r.status == 200:
                        return time.perf_counter() - self.group.started
            except OSError:  # refused while starting; URLError is an OSError
                pass
            if self.group.proc.poll() is not None:
                raise RuntimeError(f"server exited during start-up:\n{self.group.log_tail()}")
            if time.perf_counter() - self.group.started > SETUP_TIMEOUT_S:
                raise RuntimeError(f"server not healthy after {SETUP_TIMEOUT_S}s")
            time.sleep(0.02)

    def rss_peak_mb(self) -> float:
        """VmHWM of the server's Python process (its JVM is a child)."""
        with open(f"/proc/{self.group.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("VmHWM missing")

    def spans(self, timeout: float = 60.0) -> dict:
        """Ask the traced server for its record (SIGUSR1) and wait for it."""
        self.group.signal(signal.SIGUSR1)
        deadline = time.monotonic() + timeout
        while not os.path.exists(self.spans_path):
            if time.monotonic() > deadline:
                raise RuntimeError("traced server did not write its spans")
            time.sleep(0.05)
        with open(self.spans_path) as f:
            return json.load(f)

    def kill(self) -> None:
        self.group.kill()


def serve(wl, server: Server, plan, seconds: float, probes: bool) -> dict:
    """Warm up, run the timed closed loop, then the known-defect probes."""
    warm, rounds = plan
    # a warm-up failure shows again, and is counted, in the timed phase
    _, _, warmup_s = run_rounds(
        server.port, [warm], wl.clients, float("inf"), wl.deadline_s, None
    )
    bodies = Bodies()
    results, extra, wall = run_rounds(
        server.port, rounds, wl.clients, seconds, wl.deadline_s, bodies
    )
    if wall < seconds:
        raise RuntimeError(f"all {MAX_ROUNDS} rounds ran in {wall:.1f}s; raise MAX_ROUNDS")
    rss = server.rss_peak_mb()
    spans = server.spans() if server.traced else None
    probe_results = []
    if probes:
        c = Client(server.port, wl.deadline_s)
        probe_results = [(p, c.send(p.req, bodies)) for p in wl.probes()]
        c.close()
    return {
        "results": results,
        "extra": extra,
        "wall": wall,
        "rss": rss,
        "bodies": bodies,
        "spans": spans,
        "probes": probe_results,
        "warmup_s": warmup_s,
    }


class Oracle:
    """DuckDB answers and timings, computed once per distinct text after
    the server is gone; digests run in worker processes."""

    def __init__(self, tables_dir: str):
        from uquery_rs_spark.oracle import oracle_connection

        self.con = oracle_connection(tables_dir)
        self.tables: dict = {}
        self.seconds: dict[str, float] = {}

    def run(self, sql: str):
        """DuckDB's answer; its time is the median of a few runs."""
        if sql not in self.tables:
            times = []
            for _ in range(DUCKDB_REPEATS):
                t0 = time.perf_counter()
                self.tables[sql] = self.con.execute(sql).arrow()
                times.append(time.perf_counter() - t0)
            self.seconds[sql] = statistics.median(times)
        return self.tables[sql]

    def check_bodies(self, wl, bodies: Bodies, reqs: dict) -> tuple[dict, dict]:
        """Per kept body: problem ("" when it matches DuckDB) and row count."""
        verdict, nrows = {}, {}
        ctx = multiprocessing.get_context("spawn")
        with ProcessPoolExecutor(CHECK_WORKERS, mp_context=ctx) as pool:
            texts = {reqs[key].sql for key, _ in bodies.kept}
            want = {sql: pool.submit(table_digest, self.run(sql)) for sql in texts}
            got = {
                (key, sha): pool.submit(
                    body_digest,
                    reqs[key].fmt,
                    body,
                    reqs[key].gzip,
                    self.tables[reqs[key].sql].schema,
                    key in wl.ordered_keys,
                )
                for (key, sha), body in bodies.kept.items()
            }
            for (key, sha), fut in got.items():
                cols, digest, in_order = fut.result()
                want_cols, want_digest = want[reqs[key].sql].result()
                if cols is None:
                    problem = digest
                elif cols != want_cols:
                    problem = f"columns {cols} != {want_cols}"
                elif digest != want_digest:
                    problem = f"rows/digest {digest} != duckdb {want_digest}"
                elif not in_order:
                    problem = "rows out of ORDER BY order"
                else:
                    problem = ""
                verdict[(key, sha)] = problem
                nrows[(key, sha)] = digest[0] if cols is not None else 0
        # the spawn pool started multiprocessing's resource tracker, which
        # would otherwise outlive this process briefly; stop it and wait
        resource_tracker._resource_tracker._stop()
        return verdict, nrows

    def close(self) -> None:
        self.con.close()


def judge(res, verdict: dict) -> str:
    """Why a request failed, or "" when it passed."""
    if res.error and res.status == 0:
        return res.error
    if res.status != 200:
        return f"HTTP {res.status}: {res.error[:200]}"
    if not res.content_type.startswith(ACCEPT[res.req.fmt]):
        return f"content type {res.content_type!r}"
    return verdict.get((res.req.key, res.sha), "body not checked")


def end_to_end(phase: dict, setups: list[float]) -> dict[str, float]:
    res, wall = phase["results"], phase["wall"]
    return {
        "setup_s": statistics.median(setups),
        "qps": len(res) / wall,
        "latency_p50_ms": 1000 * statistics.median(r.latency for r in res),
        "ttfb_p50_ms": 1000 * statistics.median(r.ttfb for r in res),
        "mb_per_s": sum(r.nbytes for r in res) / 1e6 / wall,
        "py_rss_peak_mb": phase["rss"],
    }


def per_layer(phase: dict, nrows: dict, plain: dict[str, float], traced: dict[str, float]) -> dict:
    """Mean per measured request of each layer's self time and counts."""
    by_id = {r["id"]: r for r in phase["spans"]["requests"]}
    recs = [by_id.get(r.rid, {}) for r in phase["results"]]  # {}: never reached the server
    n = len(recs)

    def total(key: str) -> float:
        return sum(r.get(key, 0.0) for r in recs)

    def mean(key: str) -> float:
        return total(key) / n

    res = phase["results"]
    probes, jvm = total("rewrite.probes"), total("rewrite.probe_jvm")
    startup = phase["spans"]["startup"]
    return {
        "rewrite.ms": mean("rewrite.ms"),
        "rewrite.probes": probes / n,
        "rewrite.probe_jvm": jvm / n,
        "rewrite.probe_memo_hit_share": 1 - jvm / probes if probes else 0.0,
        "engine.permit_wait_ms": mean("engine.permit_wait_ms"),
        "engine.analyze_ms": mean("engine.dataframe_ms") - mean("rewrite.ms"),
        "engine.execute_ms": mean("engine.execute_total_ms")
        - mean("engine.dataframe_ms")
        - mean("writers.call_ms"),
        "engine.first_batch_ms": mean("engine.first_batch_ms"),
        "engine.spark_jobs": mean("engine.spark_jobs"),
        "engine.spark_stages": mean("engine.spark_stages"),
        "engine.spark_tasks": mean("engine.spark_tasks"),
        "engine.rows": sum(nrows.get((r.req.key, r.sha), 0) for r in res) / len(res),
        "writers.encode_ms": mean("writers.call_ms") - mean("web.queue_block_ms"),
        "writers.driver_batches": mean("writers.driver_batches"),
        "writers.executor_payloads": mean("writers.executor_payloads"),
        "web.queue_block_ms": mean("web.queue_block_ms"),
        "web.stream_ms": 1000 * statistics.fmean(r.latency - r.ttfb for r in res),
        "web.bytes": statistics.fmean(r.nbytes for r in res),
        "web.request_ms": mean("web.request_ms"),
        "session.spark_start_s": startup["session.spark_start_s"],
        "session.macros_s": startup["session.macros_s"],
        "sources.views_s": startup["sources.views_s"],
        "trace.latency_p50_overhead_ms": traced["latency_p50_ms"] - plain["latency_p50_ms"],
        "trace.qps_overhead_share": 1 - traced["qps"] / plain["qps"],
    }


def summarize(wl, seed: int, phase: dict, oracle: Oracle, probes: list) -> dict:
    res = phase["results"]
    by_kind = defaultdict(list)
    for r in res:
        by_kind[kind(r.req.key)].append(r)
    kinds = {}
    for k, rs in sorted(by_kind.items()):
        p50 = statistics.median(r.latency for r in rs)
        for r in rs:
            oracle.run(r.req.sql)
        duck = statistics.median(oracle.seconds[r.req.sql] for r in rs)
        kinds[k] = {
            "n": len(rs),
            "p50_ms": round(1000 * p50, 2),
            "duckdb_ms": round(1000 * duck, 3),
            "served_ratio": round(p50 / duck, 1),
        }
    lat = [r.latency for r in res]
    q = highest_percentile_with_tail(len(lat))
    out = {
        "workload": wl.name,
        "seed": seed,
        "sf": wl.sf,
        "clients": wl.clients,
        "pool_size": wl.pool_size,
        "samples": len(lat),
        "kinds": kinds,
        "duckdb_version": duckdb.__version__,
        "duckdb_note": "served_ratio uses the local duckdb wheel; the reference pins 1.5.2",
        "known_defects": probes,
    }
    if q is not None:
        out[f"latency_p{q}_ms"] = round(1000 * percentile(lat, q), 2)
    return out


def check_phase(wl, phase: dict, oracle: Oracle) -> tuple[list, dict, list]:
    sent = phase["results"] + phase["extra"]
    reqs = {r.req.key: r.req for r in sent}
    reqs.update({p.req.key: p.req for p, _ in phase["probes"]})
    verdict, nrows = oracle.check_bodies(wl, phase["bodies"], reqs)
    failures = []
    for r in sent:
        why = judge(r, verdict)
        if why:
            failures.append({"key": r.req.key, "why": why})
    probes = []
    for p, r in phase["probes"]:
        why = judge(r, verdict)
        probes.append(
            {
                "name": p.name,
                "status": r.status,
                "failed": bool(why),
                "why": why[:200],
                "defect": p.defect,
                "seconds": round(r.latency, 2),
            }
        )
    return failures, nrows, probes


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # SIGTERM unwinds through the `finally` blocks that kill the servers
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    procs.become_subreaper()
    clock = {"start": time.perf_counter()}
    wl = WORKLOADS[args.workload]()
    plan = wl.plan(args.seed, MAX_ROUNDS)
    _kill_stale_spark_jvms()
    tables_dir = datagen.build(os.path.join(procs.WORK_DIR, "data"), wl.sf)
    clock["prepared"] = time.perf_counter()

    def lifetime(traced: bool, tag: str, probes: bool):
        server = Server(wl, tables_dir, traced=traced, tag=tag)
        try:
            return server.setup_s, serve(wl, server, plan, args.seconds, probes)
        finally:
            server.kill()

    if args.trace == 0:
        # an extra start for the set-up median; the second one serves
        first = Server(wl, tables_dir, traced=False, tag="setup")
        first.kill()
        setup_s, phase = lifetime(False, "plain", probes=True)
        setups, phases = [first.setup_s, setup_s], [phase]
    else:
        plain_setup, plain_phase = lifetime(False, "plain", probes=False)
        traced_setup, phase = lifetime(True, "traced", probes=False)
        setups, phases = [plain_setup, traced_setup], [plain_phase, phase]
    clock["served"] = time.perf_counter()

    oracle = Oracle(tables_dir)
    failures, nrows, probes = [], {}, []
    for ph in phases:
        f, nrows, probes = check_phase(wl, ph, oracle)  # the last phase's rows/probes
        failures += f
    metrics = end_to_end(phase, setups)
    if args.trace == 0:
        out = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics.items()}
    else:
        layers = per_layer(phase, nrows, end_to_end(plain_phase, setups), metrics)
        out = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layers.items()}
    attempted = sum(len(ph["results"]) + len(ph["extra"]) for ph in phases)
    summary = summarize(wl, args.seed, phase, oracle, probes)
    oracle.close()
    clock["checked"] = time.perf_counter()
    summary.update(
        attempted=attempted,
        failed=len(failures),
        error_share=len(failures) / attempted,
        failures=failures[:5],
        setups_s=[round(x, 3) for x in setups],
        warmup_s=round(phase["warmup_s"], 3),
        timed_s=round(phase["wall"], 3),
        prepare_s=round(clock["prepared"] - clock["start"], 3),
        serve_s=round(clock["served"] - clock["prepared"], 3),
        check_s=round(clock["checked"] - clock["served"], 3),
    )
    print(json.dumps(summary))
    print(
        json.dumps(
            {"correct": not failures, "attempted": attempted, "failed": len(failures), "metrics": out}
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
