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
memory (duckdb.rs:91-93). Here execute() keeps the data columnar end to
end: mapInArrow IPC-serializes each executor-side Arrow batch into one
binary-column row, and toLocalIterator(prefetchPartitions=True) pulls
those rows incrementally — the driver holds one partition's serialized
batches at a time and never materializes Python row objects. Cancellation:
every execution runs in a job group so a timeout or client disconnect can
cancelJobGroup mid-scan.
"""

from __future__ import annotations

import threading
import uuid
from abc import ABC, abstractmethod

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, types

from .errors import UQueryError

DEFAULT_BATCH_ROWS = 8192
# below this known result bound, JSON serialization stays on the driver
# (the executor offload's extra stage costs more than it saves)
_EXEC_JSON_MIN_ROWS = 50000


def _first_line(e: Exception) -> str:
    lines = [ln for ln in str(e).splitlines() if ln.strip()]
    return (lines[0] if lines else repr(e))[:500]


class RecordBatchConsumer(ABC):
    """Sink interface — schema once, then batches, then finish
    (reference: src/core/engine.rs:4-8)."""

    @abstractmethod
    def on_schema(self, schema: pa.Schema) -> None: ...

    @abstractmethod
    def on_batch(self, batch: pa.RecordBatch) -> None: ...

    @abstractmethod
    def finish(self) -> None: ...


def _arrow_schema(df: DataFrame) -> pa.Schema:
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(df.schema)


def _ipc_serialize(iterator):
    """Executor-side: wrap each Arrow batch as one IPC-stream blob.

    Runs inside mapInArrow, so the JVM→Python hop is a vectorized Arrow
    transfer (no per-row pickling); serialization is a memcpy-sized IPC
    write. Each output row is a single `ipc: binary` cell holding one
    whole input batch (sized by spark.sql.execution.arrow.maxRecordsPerBatch).
    """
    for batch in iterator:
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, batch.schema) as writer:
            writer.write_batch(batch)
        yield pa.RecordBatch.from_arrays(
            [pa.array([sink.getvalue().to_pybytes()], type=pa.binary())], names=["ipc"]
        )


def _stream_arrow_batches(df: DataFrame, schema: pa.Schema, batch_rows: int):
    """Yield the query result as Arrow RecordBatches with bounded driver
    memory: one serialized batch in flight at a time, re-sliced to
    `batch_rows`, cast to the announced schema (Spark's worker-side Arrow
    schema can differ in timestamp tz / nullability metadata).

    mapInArrow is a per-partition map, so partition order and any ORDER BY
    range-partitioned sort survive; toLocalIterator walks partitions in
    order without collecting the whole result.
    """
    ser = df.mapInArrow(_ipc_serialize, "ipc binary")
    for row in ser.toLocalIterator(prefetchPartitions=True):
        with pa.ipc.open_stream(row.ipc) as reader:
            for batch in reader:
                if batch.schema.names != schema.names:
                    # duplicate-name results travel under unique temp
                    # names (execute() renames them for mapInArrow)
                    batch = batch.rename_columns(schema.names)
                if batch.schema != schema:
                    batch = batch.cast(schema)
                for off in range(0, batch.num_rows, batch_rows):
                    yield batch.slice(off, batch_rows)


class PreparedQuery:
    """A staged query holding a concurrency permit until executed/closed
    (reference ExecutableQuery + Drop-release, duckdb.rs:59-81)."""

    def __init__(self, engine: "Engine", sql: str):
        self._engine = engine
        self._sql = sql
        self.job_group = f"uq-{uuid.uuid4().hex[:12]}"
        self._released = False
        self._cancelled = False

    def cancel(self) -> None:
        """Stop the query: its running jobs now, and any job it has not
        started yet (execute() checks the flag before its first job)."""
        self._cancelled = True
        self._engine.spark.sparkContext.cancelJobGroup(self.job_group)

    def release(self) -> None:
        if not self._released:
            self._released = True
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
        sql = self._engine.rewrite(self._sql)
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

    def execute(self, consumer: RecordBatchConsumer, batch_rows: int = DEFAULT_BATCH_ROWS) -> None:
        """Run the query, pushing schema + Arrow batches into `consumer`.

        Raises UQueryError(400 "SQL Error") on analysis/execution failure —
        the web layer converts errors-before-first-batch into HTTP 400
        (reference routers.rs:166-173).
        """
        spark = self._engine.spark
        sc = spark.sparkContext
        try:
            try:
                df = self.dataframe()
                schema = _arrow_schema(df)
                # Duplicate result-column names (legal SQL) break
                # pyspark's OWN mapInArrow, which re-selects every
                # column by name (map_ops.py: self[col]) — rename to
                # unique temp names for the executor hop; the announced
                # schema keeps the real names and every serializer
                # renames batches back to it (round-11; broader than
                # the interval-only case the r10 ADVICE flagged).
                # casefolded: Spark's default resolution is
                # case-insensitive, so SELECT 1 AS x, 2 AS X hits the
                # same AMBIGUOUS_REFERENCE (ADVICE r12)
                if len({c.lower() for c in df.columns}) != len(df.columns):
                    df = df.toDF(*[f"uq_c_{i}" for i in range(len(df.columns))])
            except UQueryError:
                raise
            except Exception as e:  # AnalysisException etc.
                raise UQueryError.sql_error(_first_line(e)) from e
            consumer.on_schema(schema)
            # serialized fast path: a consumer that can accept pre-encoded
            # row bytes (the JSON writers) supplies a mapInArrow factory —
            # the Arrow→Python conversion + serialization then runs in the
            # EXECUTORS, parallel across partitions, instead of single-
            # threaded on the driver. Byte output is identical.
            ser_factory = getattr(consumer, "batch_bytes_serializer", None)
            ser_fn = ser_factory(schema) if ser_factory is not None else None
            # payload-aware engage (round-7 measurement: at a 5000-row
            # export the extra mapInArrow stage costs 5-12% wall under
            # 8-client load — the offload only pays when driver-side
            # encode dominates stage launch). maxRows is defined for
            # LIMIT-bounded plans; unbounded scans (the big exports the
            # offload exists for) stay on the executor path.
            if ser_fn is not None:
                try:
                    mr = df._jdf.queryExecution().optimizedPlan().maxRows()
                    if mr.isDefined() and int(str(mr.get())) < _EXEC_JSON_MIN_ROWS:
                        ser_fn = None
                except Exception:
                    pass
            sc.setJobGroup(self.job_group, f"uquery {self.job_group}", interruptOnCancel=True)
            try:
                if self._cancelled:  # cancelled during rewrite/analysis
                    raise UQueryError.sql_error("query cancelled")
                if ser_fn is not None:
                    ser = df.mapInArrow(ser_fn, "payload binary")
                    for row in ser.toLocalIterator(prefetchPartitions=True):
                        consumer.on_batch_bytes(row.payload)
                else:
                    for batch in _stream_arrow_batches(df, schema, batch_rows):
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

    def rewrite(self, sql: str) -> str:
        return self._rewriter.rewrite(sql) if self._rewriter is not None else sql

    def prepare(self, sql: str) -> PreparedQuery:
        """Stage a query, blocking for a permit if the pool is exhausted
        (reference: condvar wait in duckdb.rs:31-39). SQL parsing is
        deferred to execute() — single prepare (routers.rs:115-116)."""
        self._permits.acquire()
        return PreparedQuery(self, sql)
