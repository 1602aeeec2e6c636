"""Dialect-parity scalar functions with no Spark builtin, as Arrow-batched
pandas UDFs registered lazily by the rewrite layer (sweep batch 15).

The reference delegates these to DuckDB's scalar catalog (pass-through at
src/core/duckdb.rs:87-88); Spark has no equivalent builtins, so they run
as vectorized Python — the documented slow-path vehicle, acceptable for
dialect parity scalars that never sit on an analytic hot path.

Every semantic below is pinned against DuckDB 1.x by direct probe and by
the differential tests in tests/test_parity_udfs.py:

- string DISTANCES operate on UTF-8 BYTES, not codepoints
  (levenshtein('café','cafe') = 2 in DuckDB; jaro over 'café'/'cafe'
  = (3/5 + 3/4 + 1)/3 — five bytes, not four chars),
- jaro_similarity('', anything) = 0.0 — including BOTH empty,
- the Winkler boost applies only when jaro > 0.7, prefix cap 4 bytes,
  scale 0.1 (verified: no boost at jaro 0.528 despite a 2-byte prefix),
- damerau_levenshtein is the UNRESTRICTED distance with an alphabet
  table ('CA'→'ABC' = 2 where optimal-string-alignment gives 3),
- strip_accents = NFD → drop nonspacing marks (Mn) → NFC recompose;
  ligatures and standalone letters survive ('ﬁ' and 'ẞ' unchanged,
  'Ḝ' → 'E'),
- gamma(0)/lgamma(0) ERROR ("cannot take gamma of zero"); gamma at
  negative integers = nan but lgamma there = +inf; overflow = inf,
- parse_path('/a/b/') = ['/', 'a', 'b'] (root is a component, empty
  segments drop, '/' and '\\' both separate); parse_dirname keeps the
  final component only when a trailing separator marks it a directory
  ('a/' → 'a', '/c.txt' → '/', 'c.txt' → ''); parse_dirpath is the
  text before the last separator, or the input minus exactly one
  trailing separator ('a//' → 'a/', '/' → '/').
"""

from __future__ import annotations

import json as _json
import math
import re
import unicodedata
import weakref

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf

_SEP_RE = re.compile(r"[/\\]")


def _jaro(a: bytes, b: bytes) -> float:
    if not a or not b:
        return 0.0  # DuckDB: either side empty (incl. both) → 0
    if a == b:
        return 1.0
    la, lb = len(a), len(b)
    window = max(la, lb) // 2 - 1
    b_hit = [False] * lb
    matches = 0
    a_match, b_match = [], []
    for i, ca in enumerate(a):
        lo, hi = max(0, i - window), min(lb, i + window + 1)
        for j in range(lo, hi):
            if not b_hit[j] and b[j] == ca:
                b_hit[j] = True
                a_match.append(ca)
                matches += 1
                break
    if matches == 0:
        return 0.0
    b_match = [b[j] for j in range(lb) if b_hit[j]]
    t = sum(x != y for x, y in zip(a_match, b_match)) // 2
    m = float(matches)
    return (m / la + m / lb + (m - t) / m) / 3.0


def _jaro_winkler(a: bytes, b: bytes) -> float:
    j = _jaro(a, b)
    if j <= 0.7:  # boost threshold (DuckDB-verified: 0.528 stays)
        return j
    prefix = 0
    for x, y in zip(a[:4], b[:4]):
        if x != y:
            break
        prefix += 1
    return j + 0.1 * prefix * (1.0 - j)


def _damerau(a: bytes, b: bytes) -> int:
    """Unrestricted Damerau-Levenshtein (alphabet table)."""
    la, lb = len(a), len(b)
    if not la or not lb:
        return la or lb
    inf = la + lb
    da: dict[int, int] = {}
    d = [[inf] * (lb + 2) for _ in range(la + 2)]
    for i in range(la + 1):
        d[i + 1][1] = i
    for j in range(lb + 1):
        d[1][j + 1] = j
    for i in range(1, la + 1):
        db = 0
        for j in range(1, lb + 1):
            k = da.get(b[j - 1], 0)
            l = db
            if a[i - 1] == b[j - 1]:
                cost = 0
                db = j
            else:
                cost = 1
            d[i + 1][j + 1] = min(
                d[i][j] + cost,
                d[i + 1][j] + 1,
                d[i][j + 1] + 1,
                d[k][l] + (i - k - 1) + 1 + (j - l - 1),
            )
        da[a[i - 1]] = i
    return d[la + 1][lb + 1]


def _strip_accents(s: str) -> str:
    decomposed = unicodedata.normalize("NFD", s)
    stripped = "".join(c for c in decomposed if unicodedata.category(c) != "Mn")
    return unicodedata.normalize("NFC", stripped)


def _gamma(x: float) -> float:
    if x == 0.0:
        raise ValueError("cannot take gamma of zero")  # DuckDB errors too
    try:
        return math.gamma(x)
    except ValueError:  # negative integers: DuckDB → nan
        return float("nan")
    except OverflowError:
        return float("inf")


def _lgamma(x: float) -> float:
    if x == 0.0:
        raise ValueError("cannot take log gamma of zero")
    try:
        return math.lgamma(x)
    except ValueError:  # negative integers: DuckDB → +inf
        return float("inf")
    except OverflowError:
        return float("inf")


def _path_components(s: str) -> list[str]:
    comps = [c for c in _SEP_RE.split(s) if c]
    if s[:1] in ("/", "\\"):
        comps.insert(0, "/")  # root is its own component
    return comps


def _parse_dirname(s: str) -> str:
    comps = _path_components(s)
    if s[-1:] not in ("/", "\\"):
        comps = comps[:-1]  # last component is a file — drop it
    return comps[0] if comps else ""


def _parse_dirpath(s: str) -> str:
    if not s:
        return ""
    if s[-1] in ("/", "\\"):
        return s[:-1] if len(s) > 1 else s  # '/' stays '/'
    idx = max(s.rfind("/"), s.rfind("\\"))
    return s[:idx] if idx >= 0 else ""


def _quote_meta(s: str) -> str:
    return "".join(
        ("\\" + c)
        if ord(c) < 128 and not ("a" <= c <= "z" or "A" <= c <= "Z" or "0" <= c <= "9" or c == "_")
        else c
        for c in s
    )


# -- JSON tail (sweep batch 21) ----------------------------------------
# DuckDB's json extension functions with no Spark equivalent. All output
# compact separators (',', ':') and raw unicode, byte-matching DuckDB's
# yyjson writer on the probed matrix (tests/test_parity_udfs.py).

_U64_MAX = 2**64 - 1
_I64_MIN = -(2**63)


def _jdump(v) -> str:
    return _json.dumps(v, ensure_ascii=False, separators=(",", ":"))


def _json_minify(s: str) -> str:
    # malformed input raises, like DuckDB's json() (loud, not silent)
    return _jdump(_json.loads(s))


def _json_validate(s: str) -> str:
    # CAST(varchar AS JSON): validate but PRESERVE the original text
    # (DuckDB keeps whitespace — json() is the minifying form)
    _json.loads(s)
    return s


def _json_cast(tname: str, encoded: str) -> str:
    """CAST(x AS JSON) dispatch: `encoded` is to_json's rendering of x.
    VARCHAR inputs arrive JSON-QUOTED — loads() recovers the original
    text losslessly, which then validates-and-preserves; every other
    type keeps the encoded rendering (DuckDB-verified)."""
    if tname == "VARCHAR":
        decoded = _json.loads(encoded)
        # A NULL row renders as 'null' → decodes to None. The CASE in
        # the rewrite discards this branch for NULL rows, but pandas
        # UDFs under CASE evaluate EAGERLY over the whole batch
        # (round-12 catch: j::JSON crashed on any batch containing a
        # NULL — a 500, DuckDB returns NULL), so the dead branch must
        # not raise.
        if decoded is None:
            return "null"
        return _json_validate(decoded)
    return encoded


def _merge_patch(target, patch):
    """RFC 7386: a non-object patch replaces; null values remove keys."""
    if not isinstance(patch, dict) or isinstance(patch, bool):
        return patch
    out = dict(target) if isinstance(target, dict) else {}
    for k, v in patch.items():
        if v is None:
            out.pop(k, None)
        else:
            out[k] = _merge_patch(out.get(k), v)
    return out


def _json_merge2(a: str, b: str) -> str:
    return _jdump(_merge_patch(_json.loads(a), _json.loads(b)))


def _jscalar_name(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "BOOLEAN"
    if isinstance(v, int):
        if 0 <= v <= _U64_MAX:
            return "UBIGINT"
        if _I64_MIN <= v < 0:
            return "BIGINT"
        return "DOUBLE"  # beyond 64-bit: DuckDB degrades to DOUBLE
    if isinstance(v, float):
        return "DOUBLE"
    return "VARCHAR"


def _junify(a, b):
    """DuckDB json_structure unification: NULL is a wildcard; integer
    widths widen (UBIGINT+BIGINT→BIGINT, any+DOUBLE→DOUBLE); arrays
    unify elementwise; objects union keys (first-seen order);
    anything else conflicts to 'JSON'."""
    if a == "NULL":
        return b
    if b == "NULL":
        return a
    if a == b:
        return a
    num = {"UBIGINT", "BIGINT", "DOUBLE"}
    if isinstance(a, str) and isinstance(b, str) and a in num and b in num:
        return "DOUBLE" if "DOUBLE" in (a, b) else "BIGINT"
    if isinstance(a, list) and isinstance(b, list):
        return [_junify(a[0], b[0])]
    if isinstance(a, dict) and isinstance(b, dict):
        out = dict(a)
        for k, v in b.items():
            out[k] = _junify(out[k], v) if k in out else v
        return out
    return "JSON"


def _jstructure_of(v):
    if isinstance(v, list):
        s = "NULL"
        for e in v:
            s = _junify(s, _jstructure_of(e))
        return [s]
    if isinstance(v, dict):
        return {k: _jstructure_of(x) for k, x in v.items()}
    return _jscalar_name(v)


def _json_structure(s: str) -> str:
    return _jdump(_jstructure_of(_json.loads(s)))


def _json_structs_merge(structs) -> str | None:
    """Fold per-row json_structure strings with the DuckDB unification
    rules (the json_group_structure aggregate; the per-row extraction
    runs map-side, so only DISTINCT structure strings — bounded by
    schema complexity, not row count — reach this fold)."""
    merged = None
    for t in structs:
        if t is None:
            continue
        u = _json.loads(t)
        merged = u if merged is None else _junify(merged, u)
    return None if merged is None else _jdump(merged)


def _json_extract_fe(s: str, p: str) -> str | None:
    """json_extract for paths with DuckDB's [#-n] from-end indexes
    (Spark's variant_get/get_json_object reject them). JSON-text
    result; missing path AND JSON null both → NULL (probed)."""
    found, v = _jpath_get(_json.loads(s), p)
    return None if not found or v is None else _jdump(v)


def _json_extract_fe_str(s: str, p: str) -> str | None:
    """json_extract_string (raw text) for [#-n] from-end paths."""
    found, v = _jpath_get(_json.loads(s), p)
    if not found or v is None:
        return None
    return v if isinstance(v, str) else _jdump(v)


def _jpath_get(v, path):
    """(found, value) for DuckDB's path forms: '$'-rooted JSONPath
    subset (.key / [idx]), '/'-rooted JSON Pointer, or a bare key."""
    if path is None or path in ("", "$"):
        return True, v
    if path.startswith("/"):
        cur = v
        for p in path.split("/")[1:]:
            if isinstance(cur, dict) and p in cur:
                cur = cur[p]
            elif isinstance(cur, list) and p.lstrip("-").isdigit():
                i = int(p)
                if -len(cur) <= i < len(cur):
                    cur = cur[i]
                else:
                    return False, None
            else:
                return False, None
        return True, cur
    if path.startswith("$"):
        if "*" in path:
            raise ValueError("json path wildcards are not supported")
        cur = v
        for key, idx in re.findall(r"\.([^.\[\]]+)|\[(#?-?\d+)\]", path[1:]):
            if key:
                if isinstance(cur, dict) and key in cur:
                    cur = cur[key]
                else:
                    return False, None
            else:
                # DuckDB from-end form [#-n] behaves exactly like a
                # Python negative index (probed: [#-1] = last, [#-0] =
                # FIRST — "-0" is 0 — and out-of-range → NULL)
                i = int(idx.lstrip("#"))
                if isinstance(cur, list) and -len(cur) <= i < len(cur):
                    cur = cur[i]
                else:
                    return False, None
        return True, cur
    if isinstance(v, dict) and path in v:
        return True, v[path]
    return False, None


def _json_type(s: str, path=None):
    found, v = _jpath_get(_json.loads(s), path)
    if not found:
        return None
    if isinstance(v, list):
        return "ARRAY"
    if isinstance(v, dict):
        return "OBJECT"
    return _jscalar_name(v)


def _jscal_eq(a, b) -> bool:
    # strict class equality: DuckDB json_contains('[1.0]','1') is FALSE
    # (verified) — int and float never compare equal
    if isinstance(a, bool) or isinstance(b, bool):
        return isinstance(a, bool) and isinstance(b, bool) and a is b
    return type(a) is type(b) and a == b


def _jcontained_in(n, h) -> bool:
    if isinstance(n, dict):
        return isinstance(h, dict) and all(
            k in h and _jcontained_in(v, h[k]) for k, v in n.items()
        )
    if isinstance(n, list):
        return isinstance(h, list) and all(
            any(_jcontained_in(e, x) for x in h) for e in n
        )
    if isinstance(h, (dict, list)):
        return False
    return _jscal_eq(n, h)


def _jcontains(h, n) -> bool:
    if _jcontained_in(n, h):
        return True
    if isinstance(h, dict):
        return any(_jcontains(v, n) for v in h.values())
    if isinstance(h, list):
        return any(_jcontains(e, n) for e in h)
    return False


def _json_contains(h: str, n: str) -> bool:
    return _jcontains(_json.loads(h), _json.loads(n))


# -- simple case mapping + byte distances (sweep batch 28, unicode edge
# matrix): DuckDB cases via utf8proc's SIMPLE (1:1 codepoint) mapping —
# no full/context mappings: upper('straße')='STRAẞE' (not SS),
# upper('ﬁn')='ﬁN' (ligature kept), lower('ΣΙΓΜΑΣ') has NO final
# sigma, lower('İ')='i'. Python/JVM both apply FULL mappings, so the
# per-codepoint loop reproduces simple semantics (a multi-char full
# map means "no simple mapping" → keep, except the table exceptions).

_SIMPLE_UPPER_EXC = {"ß": "ẞ"}
_SIMPLE_LOWER_EXC = {"İ": "i"}


def _simple_case(s: str, upper: bool) -> str:
    out = []
    exc = _SIMPLE_UPPER_EXC if upper else _SIMPLE_LOWER_EXC
    for ch in s:
        m = ch.upper() if upper else ch.lower()
        out.append(m if len(m) == 1 else exc.get(ch, ch))
    return "".join(out)


def _lev_bytes(a: bytes, b: bytes) -> int:
    # DuckDB's levenshtein operates on UTF-8 BYTES (like the jaro
    # family above): levenshtein('héllo','hello') = 2, ('🤦','a') = 4
    if not a:
        return len(b)
    if not b:
        return len(a)
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def _hamming_bytes(a: bytes, b: bytes) -> int:
    # byte-based, equal BYTE lengths required (DuckDB errors on
    # 'aa' vs 'aé' — 2 vs 3 bytes)
    if len(a) != len(b):
        raise ValueError(
            "Mismatch Function: Strings must be of equal length!"
        )
    return sum(x != y for x, y in zip(a, b))


# -- age() (batch 28, temporal fuzzer) ----------------------------------
# DuckDB/postgres calendar decomposition, differential-pinned: months
# by calendar fields, time borrowed from days, days borrowed from B's
# month ('2024-03-15 10:30' vs '2024-01-31 23:59:59.5' = '1 month
# 14 days 10:30:00.5' — the borrow uses January's 31); a < b negates
# every component. Returns the DISPLAY STRING (DuckDB's type is
# INTERVAL — a mixed calendar interval Spark cannot represent; string
# compares/display match, interval arithmetic fails loudly).

import calendar as _calendar


def _age_parts(a, b):
    months = (a.year - b.year) * 12 + (a.month - b.month)
    days = a.day - b.day
    us_a = ((a.hour * 60 + a.minute) * 60 + a.second) * 1_000_000 + a.microsecond
    us_b = ((b.hour * 60 + b.minute) * 60 + b.second) * 1_000_000 + b.microsecond
    micros = us_a - us_b
    if micros < 0:
        micros += 86_400_000_000
        days -= 1
    if days < 0:
        months -= 1
        days += _calendar.monthrange(b.year, b.month)[1]
    return months, days, micros


def _age_str(a, b) -> str:
    neg = a < b
    if neg:
        a, b = b, a
    months, days, micros = _age_parts(a, b)
    years, months = divmod(months, 12)
    out = []
    sign = "-" if neg else ""
    if years:
        out.append(f"{sign}{years} year" + ("s" if years != 1 else ""))
    if months:
        out.append(f"{sign}{months} month" + ("s" if months != 1 else ""))
    if days:
        out.append(f"{sign}{days} day" + ("s" if days != 1 else ""))
    if micros or not out:
        s, us = divmod(micros, 1_000_000)
        h, rem = divmod(s, 3600)
        mi, se = divmod(rem, 60)
        t = f"{h:02d}:{mi:02d}:{se:02d}"
        if us:
            t += ("%.6f" % (us / 1_000_000))[1:].rstrip("0")
        out.append(sign + t)
    return " ".join(out)


# -- typeof() (sweep batch 24) ------------------------------------------
# Spark typename → DuckDB typename, recursively through array/map/struct.

_SPARK_TO_DUCK_BASE = {
    "int": "INTEGER", "tinyint": "TINYINT", "smallint": "SMALLINT",
    "bigint": "BIGINT", "float": "FLOAT", "double": "DOUBLE",
    "string": "VARCHAR", "boolean": "BOOLEAN", "date": "DATE",
    "binary": "BLOB", "timestamp": "TIMESTAMP", "timestamp_ntz": "TIMESTAMP",
    "void": '"NULL"', "interval day to second": "INTERVAL",
    "interval year to month": "INTERVAL", "interval": "INTERVAL",
}


def _split_top_commas(s: str) -> list:
    out, depth, cur = [], 0, []
    for c in s:
        if c in "<(":
            depth += 1
        elif c in ">)":
            depth -= 1
        if c == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(c)
    if cur:
        out.append("".join(cur))
    return out


def _duck_typename(t: str) -> str:
    t = t.strip()
    if t.startswith("array<") and t.endswith(">"):
        return _duck_typename(t[6:-1]) + "[]"
    if t.startswith("map<") and t.endswith(">"):
        k, v = _split_top_commas(t[4:-1])
        return f"MAP({_duck_typename(k)}, {_duck_typename(v)})"
    if t.startswith("struct<") and t.endswith(">"):
        fields = []
        for f in _split_top_commas(t[7:-1]):
            name, _, ft = f.partition(":")
            fields.append(f"{name.strip()} {_duck_typename(ft)}")
        return f"STRUCT({', '.join(fields)})"
    if t.startswith("decimal("):
        return "DECIMAL" + t[7:]
    return _SPARK_TO_DUCK_BASE.get(t, t.upper())


# -- bar() (sweep batch 23) ---------------------------------------------
# DuckDB semantics decoded by probe: x clamps into [min, max] AS GIVEN
# (a reversed range collapses to empty), the bar is floor(f·width·8)
# eighths (█ + U+2589..258F partials), and the result pads with spaces
# until its UTF-8 BYTE length reaches `width` (█ is 3 bytes — that's
# why bar(2,0,10,10) is '██' + 4 spaces).

_BAR_PARTIAL = ["", "▏", "▎", "▍", "▌", "▋", "▊", "▉"]


def _bar(x: float, lo: float, hi: float, width: float) -> str:
    if int(width) <= 0:
        # DuckDB errors on non-positive widths; Python's negative modulo
        # would otherwise fabricate a partial block (bar(5,0,10,-1) → '▌')
        raise ValueError("bar(): width must be positive")
    x = max(lo, min(hi, x))
    span = hi - lo
    f = (x - lo) / span if span != 0 else 0.0
    f = max(0.0, min(1.0, f))
    n8 = int(f * int(width) * 8)
    out = "█" * (n8 // 8) + _BAR_PARTIAL[n8 % 8]
    pad = int(width) - len(out.encode("utf-8"))
    return out + " " * max(0, pad)


# -- grapheme clusters (sweep batch 22) ---------------------------------
# DuckDB delegates to utf8proc's UAX #29 extended grapheme clusters.
# This is the UAX-29 subset that matters in practice: CRLF, combining
# marks (Mn/Mc/Me), ZWNJ/ZWJ joins (emoji sequences), variation
# selectors, skin-tone modifiers, and regional-indicator pairs (flags).
# Pinned against DuckDB on the matrix in tests/test_parity_udfs.py.


def _graphemes(s: str) -> list:
    out, cur = [], []
    prev, ri = -1, 0
    for ch in s:
        cp = ord(ch)
        join = False
        if cur:
            if prev == 0x0D and cp == 0x0A:
                join = True
            elif (
                unicodedata.category(ch) in ("Mn", "Mc", "Me")
                or cp in (0x200C, 0x200D)
                or 0xFE00 <= cp <= 0xFE0F
                or 0x1F3FB <= cp <= 0x1F3FF
            ):
                join = True
            elif prev == 0x200D:
                join = True
            elif 0x1F1E6 <= cp <= 0x1F1FF and 0x1F1E6 <= prev <= 0x1F1FF and ri % 2:
                join = True
        if join:
            cur.append(ch)
        else:
            if cur:
                out.append("".join(cur))
            cur = [ch]
        ri = ri + 1 if 0x1F1E6 <= cp <= 0x1F1FF else 0
        prev = cp
    if cur:
        out.append("".join(cur))
    return out


def _substr_grapheme(s: str, start: int, length=None) -> str:
    """DuckDB substring window rules over grapheme units: negative start
    counts from the end, start 0 eats into the length, negative length
    takes the window BEFORE start (same clipped-window arithmetic the
    batch-8 substring rewrite pins for characters)."""
    g = _graphemes(s)
    n = len(g)
    e = n + start + 1 if start < 0 else start
    if length is None:
        a, b = e, n + 1
    elif length >= 0:
        a, b = e, e + length
    else:
        a, b = e + length, e
    a = max(a, 1)
    b = max(b, a)
    return "".join(g[a - 1 : b - 1])


def _map1(fn):
    # pd.isna: numeric nulls arrive as NaN under Arrow, string nulls as
    # None. (Deviation: a genuine NaN argument to gamma/lgamma therefore
    # yields NULL, not NaN — indistinguishable from null in the batch.)
    def apply(s: pd.Series) -> pd.Series:
        return s.map(lambda v: None if v is None or (not isinstance(v, str) and pd.isna(v)) else fn(v))

    return apply


def _map2_bytes(fn):
    def apply(s1: pd.Series, s2: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None
                if a is None or b is None
                else fn(a.encode("utf-8"), b.encode("utf-8"))
                for a, b in zip(s1, s2)
            ]
        )

    return apply


def _build_udfs() -> dict:
    return {
        # printf %g (round 7): Python's %-formatting IS C printf for %g
        # (six significant digits default, trailing-zero strip, fixed/
        # scientific switch at exponent < -4 or >= precision, flags and
        # width honored) where Java's Formatter %g keeps trailing zeros
        # — the spec string arrives verbatim from the user's format
        # (rewrite.py printf pass, '%g' → '%s' + this wrapper)
        "uq_fmt_g": pandas_udf(
            lambda v, s: pd.Series(
                [
                    None if pd.isna(x) or f is None else (f % float(x))
                    for x, f in zip(v, s)
                ]
            ),
            "string",
        ),
        "uq_jaro": pandas_udf(_map2_bytes(_jaro), "double"),
        "uq_jaro_winkler": pandas_udf(_map2_bytes(_jaro_winkler), "double"),
        "uq_damerau_lev": pandas_udf(_map2_bytes(_damerau), "long"),
        "uq_strip_accents": pandas_udf(_map1(_strip_accents), "string"),
        "uq_nfc_normalize": pandas_udf(
            _map1(lambda s: unicodedata.normalize("NFC", s)), "string"
        ),
        "uq_gamma": pandas_udf(
            _map1(lambda x: _gamma(float(x))), "double"
        ),
        "uq_lgamma": pandas_udf(
            _map1(lambda x: _lgamma(float(x))), "double"
        ),
        "uq_nextafter": pandas_udf(
            lambda a, b: pd.Series(
                [
                    None if pd.isna(x) or pd.isna(y) else math.nextafter(x, y)
                    for x, y in zip(a, b)
                ]
            ),
            "double",
        ),
        # gcd/lcm (batch 17): Spark has no builtin; math.gcd/lcm on
        # int64 pairs, null-propagating. DuckDB gcd(0,0)=0, lcm(0,x)=0,
        # sign: gcd is non-negative, lcm follows |product| (verified in
        # the differential tests).
        "uq_gcd": pandas_udf(
            lambda a, b: pd.Series(
                [
                    None if pd.isna(x) or pd.isna(y) else math.gcd(int(x), int(y))
                    for x, y in zip(a, b)
                ]
            ),
            "long",
        ),
        "uq_lcm": pandas_udf(
            lambda a, b: pd.Series(
                [
                    None if pd.isna(x) or pd.isna(y) else math.lcm(int(x), int(y))
                    for x, y in zip(a, b)
                ]
            ),
            "long",
        ),
        # RE2 QuoteMeta: EVERY ASCII non-word char escaped (incl. space,
        # comma, '/', '#'), non-ASCII untouched. re.escape is NOT this —
        # since 3.7 it skips regex-neutral chars like '/' and ','.
        "uq_regexp_escape": pandas_udf(_map1(_quote_meta), "string"),
        "uq_parse_dirname": pandas_udf(_map1(_parse_dirname), "string"),
        "uq_parse_dirpath": pandas_udf(_map1(_parse_dirpath), "string"),
        "uq_parse_path": pandas_udf(
            _map1(_path_components), "array<string>"
        ),
        # JSON tail (batch 21): null-propagating on SQL NULL inputs;
        # malformed JSON raises at runtime like DuckDB's json extension
        "uq_json_minify": pandas_udf(_map1(_json_minify), "string"),
        "uq_json_cast": pandas_udf(
            lambda t, e: pd.Series(
                [
                    None if a is None or b is None else _json_cast(a, b)
                    for a, b in zip(t, e)
                ]
            ),
            "string",
        ),
        "uq_json_structure": pandas_udf(_map1(_json_structure), "string"),
        # array<string> input: per-element None passes through (nulls in
        # the collected set were already dropped by collect_set)
        "uq_json_structs_merge": pandas_udf(
            lambda s: pd.Series(
                [None if v is None else _json_structs_merge(v) for v in s]
            ),
            "string",
        ),
        "uq_json_extract_fe": pandas_udf(
            lambda s, p: pd.Series(
                [
                    None if a is None or b is None else _json_extract_fe(a, b)
                    for a, b in zip(s, p)
                ]
            ),
            "string",
        ),
        "uq_json_extract_fe_str": pandas_udf(
            lambda s, p: pd.Series(
                [
                    None
                    if a is None or b is None
                    else _json_extract_fe_str(a, b)
                    for a, b in zip(s, p)
                ]
            ),
            "string",
        ),
        "uq_json_type1": pandas_udf(_map1(_json_type), "string"),
        "uq_json_type2": pandas_udf(
            lambda s, p: pd.Series(
                [
                    None if a is None or b is None else _json_type(a, b)
                    for a, b in zip(s, p)
                ]
            ),
            "string",
        ),
        "uq_json_merge_patch": pandas_udf(
            lambda s, p: pd.Series(
                [
                    None if a is None or b is None else _json_merge2(a, b)
                    for a, b in zip(s, p)
                ]
            ),
            "string",
        ),
        "uq_json_contains": pandas_udf(
            lambda s, p: pd.Series(
                [
                    None if a is None or b is None else _json_contains(a, b)
                    for a, b in zip(s, p)
                ]
            ),
            "boolean",
        ),
        "uq_duck_typename": pandas_udf(_map1(_duck_typename), "string"),
        "uq_upper_simple": pandas_udf(
            _map1(lambda s: _simple_case(s, True)), "string"
        ),
        "uq_lower_simple": pandas_udf(
            _map1(lambda s: _simple_case(s, False)), "string"
        ),
        "uq_lev_bytes": pandas_udf(_map2_bytes(_lev_bytes), "long"),
        "uq_age": pandas_udf(
            lambda a, b: pd.Series(
                [
                    None if pd.isna(x) or pd.isna(y) else _age_str(x, y)
                    for x, y in zip(a, b)
                ]
            ),
            "string",
        ),
        "uq_hamming_bytes": pandas_udf(_map2_bytes(_hamming_bytes), "long"),
        "uq_bar": pandas_udf(
            lambda x, lo, hi, w: pd.Series(
                [
                    None
                    if pd.isna(a) or pd.isna(b) or pd.isna(c) or pd.isna(d)
                    else _bar(float(a), float(b), float(c), float(d))
                    for a, b, c, d in zip(x, lo, hi, w)
                ]
            ),
            "string",
        ),
        # grapheme family (batch 22; reverse joined batch 28 — DuckDB's
        # reverse() is GRAPHEME-aware and string-only: reverse('éx')
        # with a combining accent keeps the cluster, Spark's reverses
        # codepoints)
        "uq_reverse_graphemes": pandas_udf(
            _map1(lambda s: "".join(reversed(_graphemes(s)))), "string"
        ),
        "uq_length_grapheme": pandas_udf(
            _map1(lambda s: len(_graphemes(s))), "long"
        ),
        "uq_substr_grapheme2": pandas_udf(
            lambda s, a: pd.Series(
                [
                    None if x is None or pd.isna(b) else _substr_grapheme(x, int(b))
                    for x, b in zip(s, a)
                ]
            ),
            "string",
        ),
        "uq_substr_grapheme3": pandas_udf(
            lambda s, a, l: pd.Series(
                [
                    None
                    if x is None or pd.isna(b) or pd.isna(c)
                    else _substr_grapheme(x, int(b), int(c))
                    for x, b, c in zip(s, a, l)
                ]
            ),
            "string",
        ),
    }


_registered: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def register_parity_udfs(spark: SparkSession) -> None:
    """Idempotently register the parity UDFs on `spark` (called by the
    rewrite layer the first time a query uses one of these names, so
    driver-style plain sessions get them without engine setup)."""
    if spark in _registered:
        return
    for name, udf in _build_udfs().items():
        spark.udf.register(name, udf)
    _registered.add(spark)
