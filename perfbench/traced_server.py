"""Launch the µQuery server with spans recorded around its layers.

Usage: python3 perfbench/traced_server.py SPANS_FILE [server args...]

Wraps, from outside the program, the public entry point of each layer,
then calls `uquery_rs_spark.web.__main__.main(server args)`:

  web       UQueryHandler.do_POST; the _QueueSink each writer is handed
  engine    Engine.prepare (permit wait), PreparedQuery.dataframe
            (rewrite + analysis), PreparedQuery.execute
  rewrite   SqlRewriter.rewrite; probe counts from _probe_analyzes and
            _probe_analyzes_uncached
  writers   writer_for_format and the writer it returns
  session   get_spark, register_sql_macros
  sources   resolve_path

Each request's record is opened on its handler thread and carries the
client's X-Request-Id header; its Spark job group links the worker
thread that executes it to the same record. Spark job, stage and task
counts come from the status tracker by job group when the records are
written, off the request path. Everything stays in memory until the
process receives SIGUSR1 (the server handles SIGTERM and SIGINT itself,
and SIGTERM deadlocks), which writes one JSON document to SPANS_FILE.
"""

from __future__ import annotations

import itertools
import json
import os
import signal
import sys
import threading
import time


class Recorder:
    """Per-request layer times and counts, plus one-shot start-up times."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.startup: dict[str, float] = {}
        self.requests: dict[int, dict[str, float]] = {}
        self.by_group: dict[str, int] = {}
        self.spark = None
        self.tls = threading.local()
        self._ids = itertools.count(1)

    def new_request(self, client_id: str | None) -> int:
        rid = next(self._ids)
        with self.lock:
            self.requests[rid] = {"id": client_id}
        self.tls.rid = rid
        return rid

    def add(self, rid: int | None, key: str, value: float) -> None:
        if rid is None:
            return
        with self.lock:
            rec = self.requests[rid]
            rec[key] = rec.get(key, 0.0) + value

    def set_once(self, rid: int | None, key: str, value: float) -> None:
        if rid is None:
            return
        with self.lock:
            self.requests[rid].setdefault(key, value)

    def add_startup(self, key: str, value: float) -> None:
        with self.lock:
            self.startup[key] = self.startup.get(key, 0.0) + value

    def dump(self, path: str) -> None:
        """Write everything recorded so far. Spark job counts are read
        here, off the request path, from the status tracker."""
        with self.lock:
            groups = dict(self.by_group)
        counts = {g: _spark_counts(self.spark, g) for g in groups} if self.spark else {}
        with self.lock:
            for g, rid in groups.items():
                rec = self.requests.get(rid)
                if rec is not None and g in counts:
                    rec["engine.spark_jobs"], rec["engine.spark_stages"], rec["engine.spark_tasks"] = counts[g]
            doc = {
                "startup": dict(self.startup),
                "requests": list(self.requests.values()),
            }
        tmp = f"{path}.tmp"
        with open(tmp, "w") as f:
            json.dump(doc, f)
        os.replace(tmp, path)


def _timed_startup(rec: Recorder, key: str, fn):
    def wrapper(*args, **kwargs):
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            rec.add_startup(key, time.perf_counter() - t0)

    return wrapper


def _spark_counts(spark, group: str) -> tuple[int, int, int]:
    tracker = spark.sparkContext.statusTracker()
    jobs = stages = tasks = 0
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        jobs += 1
        for stage_id in info.stageIds:
            st = tracker.getStageInfo(stage_id)
            if st is not None:
                stages += 1
                tasks += st.numTasks
    return jobs, stages, tasks


def install(rec: Recorder) -> None:
    from uquery_rs_spark import engine, functions, rewrite, session
    from uquery_rs_spark.sources import files
    from uquery_rs_spark.web import app

    get_spark = _timed_startup(rec, "session.spark_start_s", session.get_spark)

    def traced_get_spark(*args, **kwargs):
        rec.spark = get_spark(*args, **kwargs)
        return rec.spark

    session.get_spark = traced_get_spark
    functions.register_sql_macros = _timed_startup(
        rec, "session.macros_s", functions.register_sql_macros
    )
    files.resolve_path = _timed_startup(rec, "sources.views_s", files.resolve_path)

    # -- web ---------------------------------------------------------------
    do_post = app.UQueryHandler.do_POST

    def traced_do_post(self):
        rid = rec.new_request(self.headers.get("X-Request-Id"))
        t0 = time.perf_counter()
        try:
            return do_post(self)
        finally:
            rec.add(rid, "web.request_ms", 1000 * (time.perf_counter() - t0))
            rec.tls.rid = None

    app.UQueryHandler.do_POST = traced_do_post

    # -- engine ------------------------------------------------------------
    prepare = engine.Engine.prepare

    def traced_prepare(self, sql):
        rid = getattr(rec.tls, "rid", None)
        t0 = time.perf_counter()
        prepared = prepare(self, sql)
        rec.add(rid, "engine.permit_wait_ms", 1000 * (time.perf_counter() - t0))
        if rid is not None:
            with rec.lock:
                rec.by_group[prepared.job_group] = rid
        return prepared

    engine.Engine.prepare = traced_prepare

    dataframe = engine.PreparedQuery.dataframe

    def traced_dataframe(self):
        rid = getattr(rec.tls, "rid", None)
        t0 = time.perf_counter()
        try:
            return dataframe(self)
        finally:
            rec.add(rid, "engine.dataframe_ms", 1000 * (time.perf_counter() - t0))

    engine.PreparedQuery.dataframe = traced_dataframe

    execute = engine.PreparedQuery.execute

    def traced_execute(self, consumer, *args, **kwargs):
        with rec.lock:
            rid = rec.by_group.get(self.job_group)
        rec.tls.rid = rid  # the worker thread now speaks for this request
        rec.tls.exec_start = t0 = time.perf_counter()
        try:
            return execute(self, consumer, *args, **kwargs)
        finally:
            rec.add(rid, "engine.execute_total_ms", 1000 * (time.perf_counter() - t0))
            rec.tls.rid = None

    engine.PreparedQuery.execute = traced_execute

    # -- rewrite -----------------------------------------------------------
    rw = rewrite.SqlRewriter.rewrite

    def traced_rewrite(self, sql):
        depth = getattr(rec.tls, "rw_depth", 0)
        rec.tls.rw_depth = depth + 1
        t0 = time.perf_counter()
        try:
            return rw(self, sql)
        finally:
            rec.tls.rw_depth = depth
            if depth == 0:
                rec.add(getattr(rec.tls, "rid", None), "rewrite.ms", 1000 * (time.perf_counter() - t0))

    rewrite.SqlRewriter.rewrite = traced_rewrite

    def _counter(key, fn):
        def wrapper(self, probe_sql):
            rec.add(getattr(rec.tls, "rid", None), key, 1)
            return fn(self, probe_sql)

        return wrapper

    rewrite.SqlRewriter._probe_analyzes = _counter(
        "rewrite.probes", rewrite.SqlRewriter._probe_analyzes
    )
    rewrite.SqlRewriter._probe_analyzes_uncached = _counter(
        "rewrite.probe_jvm", rewrite.SqlRewriter._probe_analyzes_uncached
    )

    # -- writers (and the queue sink they write into) -----------------------
    writer_for_format = app.writer_for_format

    def traced_writer_for_format(fmt, sink):
        rid = getattr(rec.tls, "rid", None)
        put = sink.write

        def timed_write(data):
            t0 = time.perf_counter()
            try:
                return put(data)
            finally:
                rec.add(rid, "web.queue_block_ms", 1000 * (time.perf_counter() - t0))

        sink.write = timed_write
        return _TracedWriter(rec, writer_for_format(fmt, sink), rid)

    app.writer_for_format = traced_writer_for_format


class _TracedWriter:
    """Times every call into the wrapped writer (which includes its sink
    writes; the report subtracts those) and counts batches by path."""

    def __init__(self, rec: Recorder, inner, rid):
        self._rec = rec
        self._inner = inner
        self._rid = rid

    def _call(self, name, *args):
        t0 = time.perf_counter()
        try:
            return getattr(self._inner, name)(*args)
        finally:
            self._rec.add(self._rid, "writers.call_ms", 1000 * (time.perf_counter() - t0))

    def _first_batch(self) -> None:
        start = getattr(self._rec.tls, "exec_start", None)
        if start is not None:
            self._rec.set_once(self._rid, "engine.first_batch_ms", 1000 * (time.perf_counter() - start))

    def on_schema(self, schema):
        return self._call("on_schema", schema)

    def on_batch(self, batch):
        self._first_batch()
        self._rec.add(self._rid, "writers.driver_batches", 1)
        return self._call("on_batch", batch)

    def on_batch_bytes(self, payload):
        self._first_batch()
        self._rec.add(self._rid, "writers.executor_payloads", 1)
        return self._call("on_batch_bytes", payload)

    def finish(self):
        return self._call("finish")

    def __getattr__(self, name):
        # batch_bytes_serializer is looked up with getattr(...) and is
        # absent on some writers: forward presence faithfully.
        return getattr(self._inner, name)


def main() -> int:
    spans_path = sys.argv[1]
    rec = Recorder()
    install(rec)
    signal.signal(signal.SIGUSR1, lambda signum, frame: rec.dump(spans_path))
    from uquery_rs_spark.web.__main__ import main as server_main

    return server_main(sys.argv[2:])


if __name__ == "__main__":
    sys.exit(main())
