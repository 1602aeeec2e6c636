"""RecordBatchConsumer implementations for the four response formats."""

from __future__ import annotations

import csv
import io
import json
from datetime import date, datetime
from decimal import Decimal

import pyarrow as pa

from ..engine import RecordBatchConsumer

try:  # optional fast path — ~5-10x stdlib json; same value formats
    import orjson
except ImportError:  # pragma: no cover
    orjson = None


def _json_default(v):
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def _dump_row(row: dict) -> bytes:
    """One compact JSON object. orjson when present (C serializer;
    datetimes ISO-8601 natively, same as _json_default; NaN → null like
    the reference's arrow-json), stdlib otherwise."""
    if orjson is not None:
        return orjson.dumps(row, default=_json_default)
    return json.dumps(row, separators=(",", ":"), default=_json_default).encode()


def _rows(batch: pa.RecordBatch) -> list[dict]:
    return batch.to_pylist()


def _json_payload_fn(schema: pa.Schema, sep: bytes):
    """mapInArrow factory: serialize each executor-side Arrow batch to
    `sep`-joined orjson rows as ONE binary cell. The JSON bytes are
    IDENTICAL to the driver-side writers (same _dump_row), but the
    Arrow→Python conversion + serialization — the measured bottleneck,
    ~12 MB/s single-threaded — runs in the executors, parallel across
    partitions and free of the driver's GIL. The batch is cast to the
    ANNOUNCED schema first, like the driver path, so timestamp tz
    metadata differences can't leak into the text."""

    def fn(iterator):
        for batch in iterator:
            if batch.num_rows == 0:
                continue
            if batch.schema.names != schema.names:
                # duplicate-name results travel under unique temp names
                # (engine.execute() renames them for mapInArrow)
                batch = batch.rename_columns(schema.names)
            if batch.schema != schema:
                batch = batch.cast(schema)
            payload = sep.join(map(_dump_row, batch.to_pylist()))
            yield pa.RecordBatch.from_arrays(
                [pa.array([payload], type=pa.binary())], names=["payload"]
            )

    return fn


class JsonArrayWriter(RecordBatchConsumer):
    """`[{...},{...}]` — golden shape from reference src/main.rs:154-167
    (ArrayWriter semantics: one array, rows as objects, compact)."""

    def __init__(self, sink):
        self._sink = sink
        self._first = True

    def on_schema(self, schema: pa.Schema) -> None:
        pass  # `[` goes out with the first row, so nothing is written before it

    def on_batch(self, batch: pa.RecordBatch) -> None:
        rows = _rows(batch)
        if not rows:
            return
        self.on_batch_bytes(b",".join(map(_dump_row, rows)))

    def batch_bytes_serializer(self, schema: pa.Schema):
        """Engine fast path: rows serialized executor-side (same bytes)."""
        return _json_payload_fn(schema, b",")

    def on_batch_bytes(self, payload: bytes) -> None:
        if not payload:
            return
        self._sink.write((b"[" if self._first else b",") + payload)
        self._first = False

    def finish(self) -> None:
        self._sink.write(b"[]" if self._first else b"]")


class JsonLinesWriter(RecordBatchConsumer):
    """NDJSON — one compact object per line (reference routers.rs:145-147)."""

    def __init__(self, sink):
        self._sink = sink

    def on_schema(self, schema: pa.Schema) -> None:
        pass

    def on_batch(self, batch: pa.RecordBatch) -> None:
        rows = _rows(batch)
        if rows:
            self.on_batch_bytes(b"\n".join(map(_dump_row, rows)))

    def batch_bytes_serializer(self, schema: pa.Schema):
        """Engine fast path: rows serialized executor-side (same bytes)."""
        return _json_payload_fn(schema, b"\n")

    def on_batch_bytes(self, payload: bytes) -> None:
        if payload:
            self._sink.write(payload + b"\n")

    def finish(self) -> None:
        pass


class CsvWriter(RecordBatchConsumer):
    """CSV with a single header row (reference golden: src/main.rs:192
    `Id,Name,Description\\n1,Rust,"Safe, concurrent, ..."\\n`).

    One sink write per batch; the header rides on the first one (or on
    finish for an empty result), so nothing is written before it."""

    def __init__(self, sink):
        self._sink = sink
        self._header: list[list[str]] = []

    def _write_rows(self, rows) -> None:
        buf = io.StringIO()
        out = csv.writer(buf, lineterminator="\n")
        out.writerows(self._header)
        out.writerows(rows)
        self._header = []
        text = buf.getvalue()
        if text:
            self._sink.write(text.encode())

    def on_schema(self, schema: pa.Schema) -> None:
        self._header = [list(schema.names)]

    def on_batch(self, batch: pa.RecordBatch) -> None:
        # POSITIONAL conversion (zip of per-column pylists), never dict
        # rows: duplicate result-column names are legal SQL and a dict
        # would collapse them to the last value (round 11).
        cols = [c.to_pylist() for c in batch.columns]
        self._write_rows(
            [
                "" if v is None else (v.isoformat() if isinstance(v, (datetime, date)) else v)
                for v in row
            ]
            for row in zip(*cols)
        )

    def finish(self) -> None:
        self._write_rows(())


class ArrowIpcWriter(RecordBatchConsumer):
    """Arrow IPC stream — schema header lazily on first use, then raw
    batches; byte-compatible with any IPC reader (reference
    src/web/consumers.rs:47-75, cross-library test src/main.rs:196-213)."""

    def __init__(self, sink):
        self._sink = sink
        self._writer: pa.ipc.RecordBatchStreamWriter | None = None

    def on_schema(self, schema: pa.Schema) -> None:
        self._writer = pa.ipc.new_stream(self._sink, schema)

    def on_batch(self, batch: pa.RecordBatch) -> None:
        assert self._writer is not None, "on_schema must precede on_batch"
        self._writer.write_batch(batch)

    def finish(self) -> None:
        if self._writer is not None:
            self._writer.close()


def writer_for_format(fmt: str, sink) -> RecordBatchConsumer:
    return {
        "json": JsonArrayWriter,
        "jsonl": JsonLinesWriter,
        "csv": CsvWriter,
        "arrow": ArrowIpcWriter,
    }[fmt](sink)
