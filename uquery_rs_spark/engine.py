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
Here the batches live in the executors, so the consumer's encoder goes to
them: execute() runs one mapInArrow that conforms each executor-side Arrow
batch to the announced schema and encodes it into one binary cell of
response bytes, and toLocalIterator(prefetchPartitions=True) pulls those
cells in partition order — the driver holds one partition's payloads at a
time, never decodes a batch, and only forwards bytes to the consumer.
Cancellation: every execution runs in a job group so a timeout or client
disconnect can cancelJobGroup mid-scan.
"""

from __future__ import annotations

import threading
import uuid
from abc import ABC, abstractmethod
from collections.abc import Callable

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
    (reference: src/core/engine.rs:4-8).

    Departs from the reference trait in one place: the batches never reach
    the driver, so instead of `on_batch(RecordBatch)` the consumer supplies
    a picklable encoder (`batch_bytes_serializer`) that runs where each
    batch is, and receives the encoded bytes in `on_batch_bytes`."""

    @abstractmethod
    def on_schema(self, schema: pa.Schema) -> None: ...

    @abstractmethod
    def batch_bytes_serializer(self, schema: pa.Schema) -> Callable[[pa.RecordBatch], bytes]:
        """A picklable function that encodes one batch of `schema`."""

    @abstractmethod
    def on_batch_bytes(self, payload: bytes) -> None: ...

    @abstractmethod
    def finish(self) -> None: ...


def _arrow_schema(df: DataFrame) -> pa.Schema:
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(df.schema)


def _encode_batches(schema: pa.Schema, encode: Callable[[pa.RecordBatch], bytes]):
    """mapInArrow function: conform each non-empty executor-side batch to
    the announced schema, then encode it as one `payload: binary` cell.

    Duplicate-name results travel under unique temp names (execute()
    renames them for mapInArrow) and get the real names back here; Spark's
    worker-side Arrow schema can differ in timestamp tz / nullability
    metadata, hence the cast. mapInArrow is a per-partition map, so
    partition order and any ORDER BY range-partitioned sort survive."""

    def fn(iterator):
        for batch in iterator:
            if batch.num_rows == 0:
                continue
            if batch.schema.names != schema.names:
                batch = batch.rename_columns(schema.names)
            if batch.schema != schema:
                batch = batch.cast(schema)
            yield pa.RecordBatch.from_arrays(
                [pa.array([encode(batch)], type=pa.binary())], names=["payload"]
            )

    return fn


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

    def execute(self, consumer: RecordBatchConsumer) -> None:
        """Run the query, pushing the schema and then each batch's encoded
        bytes into `consumer`.

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
                # schema keeps the real names and _encode_batches
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
            encode = _encode_batches(schema, consumer.batch_bytes_serializer(schema))
            sc.setJobGroup(self.job_group, f"uquery {self.job_group}", interruptOnCancel=True)
            try:
                if self._cancelled:  # cancelled during rewrite/analysis
                    raise UQueryError.sql_error("query cancelled")
                encoded = df.mapInArrow(encode, "payload binary")
                for row in encoded.toLocalIterator(prefetchPartitions=True):
                    consumer.on_batch_bytes(row.payload)
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
