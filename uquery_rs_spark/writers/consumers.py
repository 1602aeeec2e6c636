"""RecordBatchConsumer implementations for the four response formats.

Each writer encodes the batches engine.execute hands it on the driver,
in slices of at most _ARROW_BATCH_ROWS rows so that the Python objects
of one slice bound what JSON and CSV encoding hold at a time, and writes
each slice to its sink with what sits between and around the rows: the
JSON array's brackets and commas, the CSV header, the Arrow schema
message and end-of-stream marker."""

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


def _json_rows(batch: pa.RecordBatch, sep: bytes) -> bytes:
    """The batch's rows as `sep`-joined compact JSON objects."""
    return sep.join(map(_dump_row, batch.to_pylist()))


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


# Writers encode at most this many rows at a time; IPC record batches
# carry at most this many rows each
_ARROW_BATCH_ROWS = 8192
_ARROW_EOS = b"\xff\xff\xff\xff\x00\x00\x00\x00"


class _SlicedWriter(RecordBatchConsumer):
    """Encodes each batch in slices of at most _ARROW_BATCH_ROWS rows with
    the subclass's `encode(part) -> bytes`, one sink write per slice.
    `head(schema)` rides on the first slice (or on finish, for an empty
    result), so nothing is written before it; `sep` goes between slices
    and `tail` at the end."""

    sep = tail = b""

    def __init__(self, sink):
        self._sink = sink
        self._head = b""
        self._started = False

    def head(self, schema: pa.Schema) -> bytes:
        return b""

    def on_schema(self, schema: pa.Schema) -> None:
        self._head = self.head(schema)

    def on_batch(self, batch: pa.RecordBatch) -> None:
        for off in range(0, batch.num_rows, _ARROW_BATCH_ROWS):
            before = self.sep if self._started else self._head
            self._sink.write(before + self.encode(batch.slice(off, _ARROW_BATCH_ROWS)))
            self._started = True

    def finish(self) -> None:
        self._sink.write((b"" if self._started else self._head) + self.tail)


class JsonArrayWriter(_SlicedWriter):
    """`[{...},{...}]` — golden shape from reference src/main.rs:154-167
    (ArrayWriter semantics: one array, rows as objects, compact)."""

    sep, tail = b",", b"]"

    def head(self, schema: pa.Schema) -> bytes:
        return b"["

    def encode(self, part: pa.RecordBatch) -> bytes:
        return _json_rows(part, b",")


class JsonLinesWriter(_SlicedWriter):
    """NDJSON — one compact object per line (reference routers.rs:145-147)."""

    def encode(self, part: pa.RecordBatch) -> bytes:
        return _json_rows(part, b"\n") + b"\n"


class CsvWriter(_SlicedWriter):
    """CSV with a single header row (reference golden: src/main.rs:192
    `Id,Name,Description\\n1,Rust,"Safe, concurrent, ..."\\n`)."""

    def head(self, schema: pa.Schema) -> bytes:
        return _csv_text([schema.names])

    def encode(self, part: pa.RecordBatch) -> bytes:
        return _csv_rows(part)


class ArrowIpcWriter(_SlicedWriter):
    """Arrow IPC stream — the schema message, then the record batch
    messages, then the end-of-stream marker; byte-compatible with any IPC
    reader (reference src/web/consumers.rs:47-75, cross-library test
    src/main.rs:196-213)."""

    tail = _ARROW_EOS

    def head(self, schema: pa.Schema) -> bytes:
        return schema.serialize().to_pybytes()

    def encode(self, part: pa.RecordBatch) -> bytes:
        return part.serialize()  # a pa.Buffer: `bytes + buffer` is bytes


def writer_for_format(fmt: str, sink) -> RecordBatchConsumer:
    return {
        "json": JsonArrayWriter,
        "jsonl": JsonLinesWriter,
        "csv": CsvWriter,
        "arrow": ArrowIpcWriter,
    }[fmt](sink)
