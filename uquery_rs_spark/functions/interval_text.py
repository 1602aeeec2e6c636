"""DuckDB interval display text for interval-typed RESULT columns.

The serving path is Arrow end-to-end (engine.py Arrow batches → IPC), and
Spark cannot convert CalendarIntervalType or YearMonthIntervalType to
Arrow at all (UNSUPPORTED_DATA_TYPE_FOR_ARROW_CONVERSION) — so before
round 10 any query whose RESULT included one of those types got a 400
through the gateway, where the reference serves it (DuckDB serializes
intervals in every format; src/core/duckdb.rs:87-88 pass-through).

Parity choice: interval-typed result columns render as DuckDB's display
TEXT (same precedent as age(), rewrite.py batch 28 — DuckDB's mixed
calendar interval has no Spark type, the string compares/display-match).
That makes JSON/CSV output byte-equal to DuckDB's; the Arrow/IPC format
carries a UTF-8 column where DuckDB would emit a month_day_nano interval
— a documented typed deviation (Spark has no Arrow interval writer).

DuckDB's renderer (probed on 1.x, postgres-conventions):

- the value is a (months, days, micros) triple, NEVER normalized across
  components (to_hours(25) prints '25:00:00'; '1 month -1 day' keeps
  both signs),
- months → '[Y year(s)] [M month(s)]' with Y = trunc(months/12),
  M = months % 12, each omitted when 0, singular at |1|, sign per part,
- days → 'D day(s)', omitted when 0,
- micros → '[-]HH:MM:SS[.ffffff]' (hours unbounded, min 2 digits;
  fraction trimmed of trailing zeros), omitted when 0 UNLESS everything
  is 0 ('00:00:00'),
- parts joined with single spaces.

Per-type component recovery (all pure Catalyst expressions — no UDFs):

- YearMonthIntervalType: months via months_between against an epoch
  date (exact for whole months);
- DayTimeIntervalType: total micros via unix_micros against an epoch
  timestamp, then days = micros div 86400e6 — DuckDB's own ts - ts
  result day-splits exactly like this (probed: '44 days 01:30:00',
  '-1 day -01:30:00.5'). Deviation: a >24 h pure-time dt literal
  ('36:00:00') would day-split here ('1 day 12:00:00') — DuckDB keeps
  the raw micros only when the PRODUCER never touched days, which the
  dt type does not record;
- CalendarIntervalType: Spark's CAST(c AS STRING) preserves the raw
  triple ('1 days -30 minutes', '25 hours' — extract() normalizes
  micros into days and is lossy here), so components parse out of the
  string with anchored '(-?N) <unit>s' regexes (Spark always prints
  plural unit names).
"""

from __future__ import annotations

_EPOCH_D = "DATE '2000-01-01'"
_EPOCH_TS = "TIMESTAMP '2000-01-01 00:00:00'"

_US_DAY = 86_400_000_000
_US_HOUR = 3_600_000_000
_US_MIN = 60_000_000
_US_SEC = 1_000_000


def _cal_part(s: str, unit: str) -> str:
    """Signed integer component parsed from a CalendarInterval string."""
    return (
        f"coalesce(try_cast(regexp_extract({s}, '(-?[0-9]+) {unit}', 1) "
        f"AS BIGINT), 0)"
    )


def _components(col: str, kind: str) -> tuple[str, str, str]:
    """(months, days, micros) SQL expressions for one interval column."""
    if kind == "ym":
        mt = f"CAST(months_between({_EPOCH_D} + {col}, {_EPOCH_D}) AS BIGINT)"
        return mt, "CAST(0 AS BIGINT)", "CAST(0 AS BIGINT)"
    if kind == "dt":
        tot = f"(unix_micros({_EPOCH_TS} + {col}) - unix_micros({_EPOCH_TS}))"
        d = f"({tot} div {_US_DAY})"
        us = f"({tot} - ({tot} div {_US_DAY}) * {_US_DAY})"
        return "CAST(0 AS BIGINT)", d, us
    # calendar: parse Spark's raw-triple string rendering
    s = f"CAST({col} AS STRING)"
    y, mo = _cal_part(s, "years"), _cal_part(s, "months")
    d = _cal_part(s, "days")
    h, mi = _cal_part(s, "hours"), _cal_part(s, "minutes")
    sec = (
        f"coalesce(try_cast(regexp_extract({s}, "
        f"'(-?[0-9]+(\\\\.[0-9]+)?) seconds', 1) AS DECIMAL(24,6)), 0)"
    )
    mt = f"({y} * 12 + {mo})"
    us = (
        f"({h} * {_US_HOUR} + {mi} * {_US_MIN} "
        f"+ CAST({sec} * {_US_SEC} AS BIGINT))"
    )
    return mt, d, us


def duck_interval_expr(col: str, kind: str) -> str:
    """SQL expression rendering interval column ``col`` (backtick-quoted
    reference) as DuckDB's display text. ``kind``: 'ym' | 'dt' | 'cal'."""
    mt, d, us = _components(col, kind)
    years, mons = f"({mt} div 12)", f"({mt} % 12)"
    a = f"abs({us})"
    hh = f"({a} div {_US_HOUR})"
    mi2 = f"(({a} % {_US_HOUR}) div {_US_MIN})"
    ss = f"(({a} % {_US_MIN}) div {_US_SEC})"
    fr = f"({a} % {_US_SEC})"
    hstr = (
        f"IF(length(CAST({hh} AS STRING)) < 2, "
        f"lpad(CAST({hh} AS STRING), 2, '0'), CAST({hh} AS STRING))"
    )
    frac = (
        f"IF({fr} = 0, '', concat('.', "
        f"TRIM(TRAILING '0' FROM lpad(CAST({fr} AS STRING), 6, '0'))))"
    )
    tstr = (
        f"concat(IF({us} < 0, '-', ''), {hstr}, ':', "
        f"lpad(CAST({mi2} AS STRING), 2, '0'), ':', "
        f"lpad(CAST({ss} AS STRING), 2, '0'), {frac})"
    )

    def unit_part(v: str, unit: str) -> str:
        return (
            f"IF({v} <> 0, concat(CAST({v} AS STRING), "
            f"IF(abs({v}) = 1, ' {unit}', ' {unit}s')), NULL)"
        )

    body = (
        "concat_ws(' ', "
        + ", ".join(
            [
                unit_part(years, "year"),
                unit_part(mons, "month"),
                unit_part(d, "day"),
                f"IF({us} <> 0 OR ({mt} = 0 AND {d} = 0), {tstr}, NULL)",
            ]
        )
        + ")"
    )
    return f"CASE WHEN {col} IS NULL THEN CAST(NULL AS STRING) ELSE {body} END"
