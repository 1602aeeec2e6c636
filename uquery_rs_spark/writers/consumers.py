"""RecordBatchConsumer implementations for the four response formats.

Each writer encodes the batches engine.execute hands it on the driver,
in slices of at most _ARROW_BATCH_ROWS rows, and writes each slice to its
sink with what sits between and around the rows: the JSON array's
brackets and commas, the CSV header, the Arrow schema message and
end-of-stream marker.

JSON and JSON Lines encode a slice column by column, like the
reference's arrow-json writers: each column becomes one Arrow string
array of JSON value texts (_json_values), and one kernel call joins them
with the keys into rows (_json_rows). The bytes are those of orjson over
the slice's `to_pylist()` rows (_dump_row), which the parity tests pin.
CSV still converts each slice to Python objects, so the objects of one
slice bound what CSV encoding holds at a time."""

from __future__ import annotations

import csv
import io
from datetime import date, datetime, timedelta
from decimal import Decimal

import numpy as np
import orjson
import pyarrow as pa
import pyarrow.compute as pc

from ..engine import RecordBatchConsumer


def _json_default(v):
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def _dump_row(row: dict) -> bytes:
    """One compact JSON object, as orjson writes it: datetimes ISO-8601
    natively, the same as _json_default; NaN and ±Inf as null, like the
    reference's arrow-json. The byte format _json_rows reproduces."""
    return orjson.dumps(row, default=_json_default)


# What orjson escapes in a string, with its escapes: `\\` first (the
# other escapes add backslashes), then `"` and the control characters
_ESCAPES = {c: orjson.dumps(chr(c))[1:-1].decode() for c in (0x5C, 0x22, *range(0x20))}
_US = pa.timestamp("us")
# the instants Python's datetime holds (years 0001 through 9999), in µs
_US_BOUNDS = tuple(
    (d - datetime(1970, 1, 1)) // timedelta(microseconds=1) for d in (datetime.min, datetime.max)
)


def _text_bytes(col: pa.Array) -> np.ndarray:
    """The bytes of a string column's values, back to back."""
    wide = col.type == pa.large_string()
    offsets = np.frombuffer(col.buffers()[1], np.int64 if wide else np.int32)
    data = col.buffers()[2]
    if data is None:
        return np.empty(0, np.uint8)
    return np.frombuffer(data, np.uint8)[offsets[col.offset] : offsets[col.offset + len(col)]]


def _floats(col: pa.Array) -> pa.Array:
    """orjson's float texts, from one call over the float64 values (a
    float32 prints as its float64 repr, as `to_pylist` gives it); NULL,
    NaN and ±Inf come out as `null`. Number texts hold no comma, so the
    commas that part them give the offsets."""
    text = np.frombuffer(
        orjson.dumps(
            col.cast(pa.float64()).to_numpy(zero_copy_only=False),
            option=orjson.OPT_SERIALIZE_NUMPY,
        ),
        np.uint8,
    )[1:-1]
    commas = np.flatnonzero(text == ord(","))
    offsets = np.empty(len(col) + 1, np.int32)
    offsets[0], offsets[-1] = 0, len(text) - len(commas)
    offsets[1:-1] = commas - np.arange(len(commas))
    data = text[text != ord(",")]
    return pa.Array.from_buffers(
        pa.string(), len(col), [None, pa.py_buffer(offsets), pa.py_buffer(data)]
    )


def _escaped(col: pa.Array) -> pa.Array:
    """The strings with orjson's escapes, one replace pass for each
    escaped character that occurs."""
    counts = np.bincount(_text_bytes(col), minlength=256)
    for c, esc in _ESCAPES.items():
        if counts[c]:
            col = pc.replace_substring(col, chr(c), esc)
    return col


def _timestamps(col: pa.Array) -> pa.Array:
    """The ISO-8601 text datetime.isoformat writes, without the zone: `T`
    between date and time, and the microseconds only when not 0 (the one
    `.` of the cast text is theirs)."""
    text = pc.replace_substring(col.cast(_US).cast(pa.string()), " ", "T")
    return pc.replace_substring(text, ".000000", "")


def _in_datetime_range(col: pa.Array) -> bool:
    lo, hi = pc.min_max(col.cast(pa.int64())).values()
    return lo.as_py() is None or (_US_BOUNDS[0] <= lo.as_py() and hi.as_py() <= _US_BOUNDS[1])


def _wrapped(text: pa.Array, open_: str, close: str) -> tuple[str, pa.Array, str]:
    """`text` between `open_` and `close`, NULL as `null`: the wrapping is
    left to the row join when there is no NULL."""
    if not text.null_count:
        return open_, text, close
    if open_ or close:
        open_, close, empty = (pa.scalar(s, text.type) for s in (open_, close, ""))
        text = pc.binary_join_element_wise(open_, text, close, empty)
    return "", pc.fill_null(text, "null"), ""


def _json_values(col: pa.Array) -> tuple[str, pa.Array, str]:
    """The column's JSON value texts as (open, texts, close), every value
    `open + text + close`: a vector encoder for integers, booleans,
    floats, strings and microsecond timestamps (naive or UTC) that
    Python's datetime can hold, else orjson on each value."""
    t = col.type
    if pa.types.is_integer(t) or pa.types.is_boolean(t):
        return _wrapped(col.cast(pa.string()), "", "")
    if t in (pa.float32(), pa.float64()):
        return "", _floats(col), ""
    if t in (pa.string(), pa.large_string()):
        return _wrapped(_escaped(col), '"', '"')
    if t in (_US, pa.timestamp("us", "UTC")) and _in_datetime_range(col):
        return _wrapped(_timestamps(col), '"', '+00:00"' if t.tz else '"')
    texts = [orjson.dumps(v, default=_json_default) for v in col.to_pylist()]
    large = sum(map(len, texts)) >= 2**31
    return "", pa.array(texts, pa.large_binary() if large else pa.binary()).view(
        pa.large_string() if large else pa.string()
    ), ""


def _json_rows(batch: pa.RecordBatch, sep: bytes, *, closed: bool = False) -> pa.Buffer:
    """The batch's rows as `sep`-joined compact JSON objects, each as
    _dump_row writes the row's `to_pylist()` dict, plus a last `sep` when
    `closed`: one join of the keys and the columns' value texts. A
    duplicate name keeps a dict's semantics: its first position, with its
    last value."""
    n, trim = batch.num_rows, 0 if closed else len(sep)
    slots = {name: i for i, name in enumerate(batch.schema.names)}
    pieces, values = ["{"], []
    for name, i in slots.items():
        open_, text, close = _json_values(batch.column(i))
        pieces[-1] += ("," if values else "") + orjson.dumps(name).decode() + ":" + open_
        pieces.append(close)
        values.append(text)
    pieces[-1] += "}" + sep.decode()
    if not values:
        return pa.py_buffer((pieces[0] * n).encode()[: len(pieces[0]) * n - trim])
    text_type = pa.string()
    if any(v.type != text_type for v in values) or (
        sum(v.nbytes for v in values) + n * len("".join(pieces).encode()) >= 2**31 - 1
    ):
        text_type = pa.large_string()
        values = [v.cast(text_type) for v in values]
    args = [pa.scalar(pieces[0], text_type)]
    for text, piece in zip(values, pieces[1:]):
        args += [text, pa.scalar(piece, text_type)]
    rows = pc.binary_join_element_wise(*args, pa.scalar("", text_type))
    text = _text_bytes(rows)
    return pa.py_buffer(text[: len(text) - trim])


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
        return _json_rows(part, b"\n", closed=True)


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
