"""Engine facade: prepare/execute over one shared SparkSession.

Mirrors the reference's core dataflow contract (src/core/engine.rs:4-19):

    trait RecordBatchConsumer { on_schema; on_batch; finish }
    UQueryEngine::prepare(sql) -> ExecutableQuery
    ExecutableQuery::execute(&mut consumer)

Reference concurrency = a pool of N cloned DuckDB connections with a
condvar queue (src/core/duckdb.rs:9-45). Spark needs no per-connection
state — the scheduler multiplexes jobs — so the pool becomes a semaphore
bounding concurrent queries on one session (FAIR scheduler), and `Drop`-
based connection release becomes a context-managed permit.

Streaming: the reference pulls Arrow batches one at a time with bounded
memory (duckdb.rs:91-93) and hands each to the consumer, which encodes it.
Here execute() serves the JVM's own Arrow batches (Dataset.toArrowBatchRdd)
in waves: a wave is at most defaultParallelism consecutive result
partitions (one round of tasks), collected by one Spark job
(PythonRDD.runJob) and served as one buffered socket stream in partition
order, so a range-partitioned ORDER BY stays sorted and N partitions run
ceil(N / defaultParallelism) jobs. The JVM driver holds one wave; a wave
over spark.driver.maxResultSize runs again one partition per job. Python
decodes one IPC frame at a time and passes the RecordBatch to the
consumer. An error inside the first wave comes before any batch (a 400).
The stream starts no Python worker.
Cancellation: every execution runs in a job group so a timeout or client
disconnect can cancelJobGroup mid-scan.
"""

from __future__ import annotations

import threading
import time
import uuid
from abc import ABC, abstractmethod
from collections.abc import Iterator
from contextlib import contextmanager

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, types

from .errors import UQueryError


def _first_line(e: BaseException) -> str:
    """The first line of the root cause: a task failure reaches the driver
    as py4j's "An error occurred while calling oNN.getResult." wrapper, so
    walk to the deepest Java cause and report its message."""
    while e.__cause__ is not None:
        e = e.__cause__
    jexc = getattr(e, "java_exception", None)
    if jexc is None:
        text = str(e)
    else:
        while jexc.getCause() is not None:
            jexc = jexc.getCause()
        text = jexc.getMessage() or jexc.toString()
    lines = [ln for ln in text.splitlines() if ln.strip()]
    return (lines[0] if lines else repr(e))[:500]


class RecordBatchConsumer(ABC):
    """Sink interface — schema once, then batches, then finish
    (reference: src/core/engine.rs:4-8). The batches arrive on the driver
    in result order; the consumer encodes them there."""

    @abstractmethod
    def on_schema(self, schema: pa.Schema) -> None: ...

    @abstractmethod
    def on_batch(self, batch: pa.RecordBatch) -> None: ...

    @abstractmethod
    def finish(self) -> None: ...


def _arrow_schema(df: DataFrame) -> pa.Schema:
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(df.schema)


def _arrow_batches(df: DataFrame, schema: pa.Schema) -> Iterator[pa.RecordBatch]:
    """The result's non-empty Arrow batches as the JVM encoded them, in
    partition order, each conformed to `schema`. Each wave of at most
    defaultParallelism partitions is one Spark job, whose frames the JVM
    driver holds and writes to one buffered socket stream; from a wave
    over spark.driver.maxResultSize on, a job is one partition, as Spark
    checks that bound per job. An error in the first wave raises first.

    Every served frame is one IPC record-batch message without a schema,
    so it is read with the schema the JVM wrote: the announced one, with
    large string/binary offsets under arrowUseLargeVarTypes. LTZ
    timestamps come tagged with the session time zone, but their values
    are UTC instants either way, so they read as the announced UTC type."""
    from pyspark.serializers import NoOpSerializer
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.util import _load_from_socket

    session = df.sparkSession
    wire = to_arrow_schema(df.schema, prefers_large_types=session._jconf.arrowUseLargeVarTypes())
    sc = session.sparkContext
    rdd = df._jdf.toArrowBatchRdd().toJavaRDD()
    lo, parts, wave = 0, rdd.getNumPartitions(), sc.defaultParallelism
    while lo < parts:
        hi = min(lo + wave, parts)
        try:
            sock = sc._jvm.PythonRDD.runJob(sc._jsc.sc(), rdd, list(range(lo, hi)))
        except Exception as e:  # no frame of this wave is out yet
            if wave == 1 or "maxResultSize" not in _first_line(e):
                raise
            wave = 1
            continue
        sock = sock[0], sock[1]  # not sock[2], the JVM's server: it keeps the wave alive
        for frame in _load_from_socket(sock, NoOpSerializer()):
            batch = pa.ipc.read_record_batch(pa.py_buffer(frame), wire)
            if batch.num_rows:
                yield batch if wire.equals(schema) else batch.cast(schema)
        lo = hi


class PreparedQuery:
    """A staged query holding a concurrency permit until executed/closed
    (reference ExecutableQuery + Drop-release, duckdb.rs:59-81)."""

    def __init__(self, engine: "Engine", sql: str):
        self._engine = engine
        self._sql = sql
        self.job_group = f"uq-{uuid.uuid4().hex[:12]}"
        self._released = False
        self._cancelled = False
        self._temp_views: list[str] = []

    def cancel(self) -> None:
        """Stop the query: its running jobs now, and any job it has not
        started yet (execute() checks the flag before its first job)."""
        self._cancelled = True
        self._engine.spark.sparkContext.cancelJobGroup(self.job_group)

    def release(self) -> None:
        """End the query: drop the temp views its rewrite registered, then
        give the permit back."""
        if not self._released:
            self._released = True
            try:
                for view in self._temp_views:
                    self._engine.spark.catalog.dropTempView(view)
            finally:
                self._engine._permits.release()

    def dataframe(self) -> DataFrame:
        """Analyze the (rewritten) SQL into a DataFrame — Spark's 'prepare'.

        Interval-typed RESULT columns render as DuckDB's display text
        (functions/interval_text.py): Spark cannot convert Calendar/
        YearMonth intervals to Arrow AT ALL, so before this every query
        returning one 400'd through the Arrow serving path where the
        reference serves it; DayTime intervals convert but would
        serialize as raw durations where DuckDB prints '1 day 01:30:00'.
        Same text-rendering precedent as age() (rewrite.py batch 28)."""
        sql, rewriter = self._sql, self._engine._rewriter
        if rewriter is not None:
            try:
                sql = rewriter.rewrite(sql)
            finally:
                self._temp_views += rewriter.temp_views()
        df = self._engine.spark.sql(sql)
        kinds = []
        for f in df.schema.fields:
            if isinstance(f.dataType, types.YearMonthIntervalType):
                kinds.append("ym")
            elif isinstance(f.dataType, types.DayTimeIntervalType):
                kinds.append("dt")
            elif isinstance(f.dataType, types.CalendarIntervalType):
                kinds.append("cal")
            else:
                kinds.append(None)
        if any(kinds):
            from pyspark.sql import functions as F

            from .functions.interval_text import duck_interval_expr

            # Positional rename → transform → rename back: selecting by
            # NAME breaks duplicate result columns (legal SQL — e.g.
            # SELECT a.x, b.x, ts1 - ts2 …) with an ambiguous-column
            # AnalysisException (round-10 ADVICE). toDF() is positional,
            # so duplicates round-trip.
            orig = [f.name for f in df.schema.fields]
            tmp = [f"uq_ic_{i}" for i in range(len(orig))]
            df = df.toDF(*tmp)
            cols = []
            for t, kind in zip(tmp, kinds):
                cols.append(
                    F.expr(duck_interval_expr(f"`{t}`", kind)).alias(t)
                    if kind
                    else F.col(f"`{t}`")
                )
            df = df.select(cols).toDF(*orig)
        return df

    def execute(self, consumer: RecordBatchConsumer) -> None:
        """Run the query, pushing the schema and then each result batch
        into `consumer`.

        Raises UQueryError(400 "SQL Error") on analysis/execution failure —
        the web layer converts errors-before-first-batch into HTTP 400
        (reference routers.rs:166-173).
        """
        sc = self._engine.spark.sparkContext
        try:
            try:
                df = self.dataframe()
                schema = _arrow_schema(df)
            except UQueryError:
                raise
            except Exception as e:  # AnalysisException etc.
                raise UQueryError.sql_error(_first_line(e)) from e
            consumer.on_schema(schema)
            # set before toArrowBatchRdd: adaptive query stages run there
            sc.setJobGroup(self.job_group, f"uquery {self.job_group}", interruptOnCancel=True)
            try:
                if self._cancelled:  # cancelled during rewrite/analysis
                    raise UQueryError.sql_error("query cancelled")
                for batch in _arrow_batches(df, schema):
                    consumer.on_batch(batch)
            except UQueryError:
                raise
            except Exception as e:
                raise UQueryError.sql_error(_first_line(e)) from e
            finally:
                sc.setJobGroup("", "")
            consumer.finish()
        finally:
            self.release()


class Engine:
    """prepare/execute facade with bounded concurrency
    (reference UQueryEngine + ConnectionPool; --pool-size → permits)."""

    def __init__(
        self,
        spark: SparkSession,
        pool_size: int = 4,
        rewriter=None,
    ):
        self.spark = spark
        self._permits = threading.Semaphore(pool_size)
        self._rewriter = rewriter
        self._deadline = threading.local()

    @contextmanager
    def deadline(self, seconds: float | None):
        """Within this block, prepare() on this thread waits for a permit
        only until `seconds` after entry (None: as long as it takes).
        Yields the deadline as a time.monotonic() value, or None."""
        at = None if seconds is None else time.monotonic() + seconds
        self._deadline.at, self._deadline.seconds = at, seconds
        try:
            yield at
        finally:
            self._deadline.at = None

    def prepare(self, sql: str) -> PreparedQuery:
        """Stage a query, blocking for a permit if the pool is exhausted
        (reference: condvar wait in duckdb.rs:31-39). Past the deadline
        this thread set with deadline(), raise 408 instead (SURVEY §3.1).
        SQL parsing is deferred to execute() — single prepare
        (routers.rs:115-116)."""
        at = getattr(self._deadline, "at", None)
        if at is None:
            self._permits.acquire()
        elif not self._permits.acquire(timeout=max(0.0, at - time.monotonic())):
            raise UQueryError.query_timeout(self._deadline.seconds)
        return PreparedQuery(self, sql)
