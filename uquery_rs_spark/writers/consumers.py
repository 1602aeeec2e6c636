"""RecordBatchConsumer implementations for the four response formats.

Each writer pairs an encoder (module-level, picklable: one Arrow batch →
bytes, run in the executors by engine.execute) with driver-side framing
that only adds what sits between and around the payloads: the JSON
array's brackets and commas, the CSV header, the Arrow schema message and
end-of-stream marker."""

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


def _json_encoder(sep: bytes):
    """One batch → its rows as `sep`-joined compact JSON objects."""

    def encode(batch: pa.RecordBatch) -> bytes:
        return sep.join(map(_dump_row, batch.to_pylist()))

    return encode


def _csv_text(rows) -> bytes:
    buf = io.StringIO()
    csv.writer(buf, lineterminator="\n").writerows(rows)
    return buf.getvalue().encode()


def _csv_rows(batch: pa.RecordBatch) -> bytes:
    # POSITIONAL conversion (zip of per-column pylists), never dict
    # rows: duplicate result-column names are legal SQL and a dict
    # would collapse them to the last value (round 11).
    cols = [c.to_pylist() for c in batch.columns]
    return _csv_text(
        [
            "" if v is None else (v.isoformat() if isinstance(v, (datetime, date)) else v)
            for v in row
        ]
        for row in zip(*cols)
    )


# IPC record batches carry at most this many rows each
_ARROW_BATCH_ROWS = 8192
_ARROW_EOS = b"\xff\xff\xff\xff\x00\x00\x00\x00"


def _arrow_messages(batch: pa.RecordBatch) -> bytes:
    """One batch → the IPC stream messages of its _ARROW_BATCH_ROWS slices."""
    return b"".join(
        batch.slice(off, _ARROW_BATCH_ROWS).serialize()
        for off in range(0, batch.num_rows, _ARROW_BATCH_ROWS)
    )


class JsonArrayWriter(RecordBatchConsumer):
    """`[{...},{...}]` — golden shape from reference src/main.rs:154-167
    (ArrayWriter semantics: one array, rows as objects, compact)."""

    def __init__(self, sink):
        self._sink = sink
        self._first = True

    def on_schema(self, schema: pa.Schema) -> None:
        pass  # `[` goes out with the first row, so nothing is written before it

    def batch_bytes_serializer(self, schema: pa.Schema):
        return _json_encoder(b",")

    def on_batch_bytes(self, payload: bytes) -> None:
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

    def batch_bytes_serializer(self, schema: pa.Schema):
        return _json_encoder(b"\n")

    def on_batch_bytes(self, payload: bytes) -> None:
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
        self._header = b""

    def on_schema(self, schema: pa.Schema) -> None:
        self._header = _csv_text([schema.names])

    def batch_bytes_serializer(self, schema: pa.Schema):
        return _csv_rows

    def on_batch_bytes(self, payload: bytes) -> None:
        self._sink.write(self._header + payload)
        self._header = b""

    def finish(self) -> None:
        if self._header:
            self._sink.write(self._header)


class ArrowIpcWriter(RecordBatchConsumer):
    """Arrow IPC stream — the schema message rides on the first payload
    (or on finish for an empty result), then the record batch messages,
    then the end-of-stream marker; byte-compatible with any IPC reader
    (reference src/web/consumers.rs:47-75, cross-library test
    src/main.rs:196-213)."""

    def __init__(self, sink):
        self._sink = sink
        self._header = b""

    def on_schema(self, schema: pa.Schema) -> None:
        self._header = schema.serialize().to_pybytes()

    def batch_bytes_serializer(self, schema: pa.Schema):
        return _arrow_messages

    def on_batch_bytes(self, payload: bytes) -> None:
        self._sink.write(self._header + payload)
        self._header = b""

    def finish(self) -> None:
        self._sink.write(self._header + _ARROW_EOS)


def writer_for_format(fmt: str, sink) -> RecordBatchConsumer:
    return {
        "json": JsonArrayWriter,
        "jsonl": JsonLinesWriter,
        "csv": CsvWriter,
        "arrow": ArrowIpcWriter,
    }[fmt](sink)
