"""Byte parity of the columnar JSON encoder, in process, pyarrow only.

JsonArrayWriter and JsonLinesWriter encode each slice column by column
(writers/consumers.py::_json_rows); every case here must give exactly
the bytes of orjson over the rows' `to_pylist()` dicts (_dump_row), the
format the row-at-a-time encoder wrote."""

from __future__ import annotations

import io
from datetime import date, datetime, time, timedelta, timezone
from decimal import Decimal

import pyarrow as pa
import pytest

from uquery_rs_spark.writers.consumers import (
    _ARROW_BATCH_ROWS,
    JsonArrayWriter,
    JsonLinesWriter,
    _dump_row,
)

NAN, INF = float("nan"), float("inf")
FLOATS = [
    0.1, 1 / 3, -0.0, 0.0, NAN, INF, -INF, 1e20, 1e-7, 5e-324, 1.7976931348623157e308, 1e16, 123.0,
    None,
]
CONTROLS = [chr(c) for c in range(0x20)]
TEXTS = CONTROLS + [
    "\\", '"', '\\"', "\x7f", "\u2028", "\u2029", "\U0001f600", "naïve é", "",
    "a\\b\"c\nd\x00e\x1f", "/", None,
]
MICROS = (0, 1, 500_000)
DATETIMES = [
    datetime(y, 1 + y % 12, 1 + y % 28, 23, 59, 59, us)
    for y in (1, 999, 1970, 2024, 9999)
    for us in MICROS
] + [datetime(9999, 12, 31, 23, 59, 59, 999_999), datetime(1, 1, 1), None]


def _reference(table: pa.Table, fmt: str) -> bytes:
    rows = [_dump_row(r) for r in table.to_pylist()]
    if fmt == "jsonl":
        return b"".join(r + b"\n" for r in rows)
    return b"[" + b",".join(rows) + b"]"


def _encoded(batches: list[pa.RecordBatch], schema: pa.Schema, fmt: str) -> bytes:
    sink = io.BytesIO()
    writer = (JsonArrayWriter if fmt == "json" else JsonLinesWriter)(sink)
    writer.on_schema(schema)
    for b in batches:
        writer.on_batch(b)
    writer.finish()
    return sink.getvalue()


def _assert_parity(table: pa.Table) -> None:
    for fmt in ("json", "jsonl"):
        got = _encoded(table.to_batches(), table.schema, fmt)
        assert got == _reference(table, fmt), fmt


def _table(**columns) -> pa.Table:
    return pa.table(columns)


CASES = {
    "float32": _table(
        f=pa.array([0.1, 1 / 3, 1e-45, 3.4028234663852886e38, -0.0, NAN, INF, None], pa.float32())
    ),
    "float64_specials": _table(f=pa.array(FLOATS, pa.float64())),
    "float_without_nulls": _table(f=pa.array([x for x in FLOATS if x is not None], pa.float64())),
    "integers": _table(
        i8=pa.array([-128, 127, None], pa.int8()),
        i16=pa.array([-32768, 0, 32767], pa.int16()),
        i32=pa.array([None, -(2**31), 2**31 - 1], pa.int32()),
        i64=pa.array([-(2**63), 2**63 - 1, None], pa.int64()),
        u8=pa.array([0, 255, None], pa.uint8()),
        u64=pa.array([0, 2**64 - 1, None], pa.uint64()),
    ),
    "booleans": _table(b=pa.array([True, False, None]), always=pa.array([True, False, True])),
    "strings": _table(s=pa.array(TEXTS, pa.string())),
    "strings_without_nulls": _table(s=pa.array([t for t in TEXTS if t is not None])),
    "every_control_character_in_one_string": _table(
        s=pa.array(["".join(CONTROLS) + '\\"', None, ""])
    ),
    "large_string": _table(s=pa.array(TEXTS, pa.large_string()), n=pa.array(range(len(TEXTS)))),
    "all_null_and_empty_strings": _table(
        a=pa.array([None, None], pa.string()), e=pa.array(["", ""])
    ),
    "timestamps_ntz": _table(ts=pa.array(DATETIMES, pa.timestamp("us"))),
    "timestamps_utc": _table(
        ts=pa.array(
            [d and d.replace(tzinfo=timezone.utc) for d in DATETIMES], pa.timestamp("us", "UTC")
        )
    ),
    "timestamps_without_nulls": _table(
        ntz=pa.array(DATETIMES[:-1], pa.timestamp("us")),
        ltz=pa.array(DATETIMES[:-1], pa.timestamp("us")).cast(pa.timestamp("us", "UTC")),
    ),
    "all_null_timestamps": _table(ts=pa.array([None, None], pa.timestamp("us", "UTC"))),
    "timestamps_other_units_and_zones": _table(
        s=pa.array([datetime(2024, 1, 1, 10), None], pa.timestamp("s")),
        ms=pa.array([datetime(2024, 1, 1, 10, 0, 0, 5000), None], pa.timestamp("ms")),
        zoned=pa.array([datetime(2024, 7, 1, 10), None], pa.timestamp("us")).cast(
            pa.timestamp("us", "America/New_York")
        ),
    ),
    "other_types": _table(
        d=pa.array([date(1, 1, 1), date(999, 12, 31), date(9999, 12, 31), None], pa.date32()),
        dec=pa.array(
            [Decimal("1.005"), Decimal("-0.1"), Decimal("12345678901234567.891"), None],
            pa.decimal128(20, 3),
        ),
        bin=pa.array([b"\x00\xff", b"", b"ab", None], pa.binary()),
        lst=pa.array([[1, None], [], None, [3]], pa.list_(pa.int64())),
        st=pa.array(
            [{"a": 1, "b": "x\n"}, {"a": None, "b": None}, None, {"a": 2, "b": '"'}],
            pa.struct([("a", pa.int64()), ("b", pa.string())]),
        ),
        m=pa.array([[("k", 1.5)], [], None, [("v", NAN)]], pa.map_(pa.string(), pa.float64())),
        t=pa.array([time(1, 2, 3), time(0, 0, 0, 1), None, time(23, 59)], pa.time64("us")),
        dur=pa.array(
            [timedelta(seconds=90), None, timedelta(0), timedelta(days=-1)], pa.duration("us")
        ),
        nested_ts=pa.array(
            [[datetime(2024, 1, 1, 10)], None, [None], [datetime(1, 1, 1, 0, 0, 0, 1)]],
            pa.list_(pa.timestamp("us")),
        ),
    ),
    "duplicate_and_case_differing_names": pa.table(
        [pa.array([1, 2]), pa.array(["a", None]), pa.array([3.5, None]), pa.array([True, False])],
        names=["x", "X", "x", "y"],
    ),
    "names_that_need_escapes": pa.table(
        [pa.array([1]), pa.array([2]), pa.array([3])], names=['a"b', "é\n", "\\"]
    ),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_json_writers_match_rowwise_orjson(case):
    _assert_parity(CASES[case])


def test_sliced_batch_with_offset():
    """A batch that is a slice of a larger one (non-zero offset in every
    column, string data outside the slice) encodes only its rows; `late`
    needs escapes only inside the slice."""
    wide = pa.table(
        {
            "i": pa.array([None if k % 5 == 0 else k for k in range(60)]),
            "f": pa.array([FLOATS[k % len(FLOATS)] for k in range(60)]),
            "s": pa.array([TEXTS[k % len(TEXTS)] for k in range(60)]),
            "ts": pa.array([DATETIMES[k % len(DATETIMES)] for k in range(60)], pa.timestamp("us")),
            "d": pa.array([None if k % 7 == 0 else date(2024, 1, 1 + k % 28) for k in range(60)]),
            "late": pa.array(["plain text"] * 40 + ['"\\\n'] * 20),
        }
    )
    batch = wide.to_batches()[0].slice(40, 15)
    assert batch.column(0).offset == 40
    table = pa.Table.from_batches([batch])
    for fmt in ("json", "jsonl"):
        assert _encoded([batch], batch.schema, fmt) == _reference(table, fmt), fmt


def test_batches_over_one_slice():
    """Batches longer than one encode slice, and several batches, join
    with the separators of the format."""
    n = _ARROW_BATCH_ROWS * 2 + 123
    table = pa.table(
        {
            "k": pa.array(range(n)),
            "v": pa.array([k / 7 if k % 11 else None for k in range(n)]),
            "s": pa.array([f"r{k}\t" if k % 13 else None for k in range(n)]),
        }
    )
    for fmt in ("json", "jsonl"):
        got = _encoded(table.to_batches(max_chunksize=10_000), table.schema, fmt)
        assert got == _reference(table, fmt), fmt


def test_empty_result():
    schema = pa.schema([("x", pa.int64())])
    assert _encoded([], schema, "json") == b"[]"
    assert _encoded([], schema, "jsonl") == b""
