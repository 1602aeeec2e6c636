"""Pre-Catalyst SQL rewriting — the one genuinely custom component
(SURVEY.md §7 Phase 2).

Resolves DuckDB-gateway idioms into Spark SQL before spark.sql() sees the
text. Each rewrite is oracle-checked end-to-end (same SQL on DuckDB):

Sources & safety
1. path-as-table:  FROM 'x.parquet'  →  FROM uq_file_<hash>  (temp view
   over spark.read; reference src/main.rs:327,350)
2. table functions:  read_parquet('x') / read_csv('x', header=true) /
   read_json('x')  →  same view mechanism, args → reader options
   (reference src/main.rs:307)
3. filesystem sandbox: every resolved local path must fall under an
   allowed directory (reference `SET allowed_directories` +
   enable_external_access, src/cli/options.rs:193-199 — Spark has no
   built-in equivalent, so it's enforced here, before any read)
4. config freeze: SET/INSTALL/LOAD/ATTACH/CREATE SECRET from clients are
   rejected (reference lock_configuration=true, options.rs:199)

Statement forms
5. SUMMARIZE → one-scan per-column stats; PIVOT statement (values from a
   DISTINCT probe) / UNPIVOT statement → Spark PIVOT/UNPIVOT clauses;
   FROM-first syntax (`FROM t [SELECT …]`); UNION [ALL] BY NAME
   (LIMIT-0 schema probes align columns by name)

Query sugar & dialect
6. QUALIFY, DISTINCT ON, * EXCLUDE, * REPLACE (LIMIT-0 probe),
   GROUP/ORDER BY ALL (native), `//` int division, USING SAMPLE →
   TABLESAMPLE, `col->>'k'` → get_json_object
7. bracket syntax: `[..]` literals → array(), 1-based l[i]/l[a:b] →
   get/element_at/slice (negative bounds count from the end; inverted
   ranges clamp to [] like DuckDB), list comprehensions →
   transform(filter(...)), MAP {} literals → map() (subscripts on a map
   literal become element_at whatever the key type); polymorphic len()
   → size()/length() per argument type (LIMIT-0 probe)
8. functions: list_*/string_split/regexp_matches renames (string_split
   escapes its literal separator — Spark's split is regex), struct_pack(k
   := v) → named_struct, generate_series (scalar → sequence, FROM-position
   → exploded subquery), string_agg(... ORDER BY) → listagg WITHIN GROUP,
   strftime/strptime C-format translation; argument-aware semantics:
   string literals normalized from DuckDB escape-free space to Spark
   escape space (so '\\w' survives the parser), regexp_replace first-match
   default + RE2 flag arg + \\1→$1 backrefs, regexp_extract[_all] 2-arg
   whole-match default, list_sort NULL placement + direction strings,
   array_to_string NULL on empty list
9. macros: scalar + parameterized table macros from attached .db files
   inline at rewrite time (DuckDB bind-time semantics); aggregate macro
   geomean(x) → exp(avg(ln(x)))

What counts as code is decided in one place. ``rewrite()`` first lexes
the statement (``_lex_head``): each comment becomes whitespace, DuckDB's
E'…' and $tag$…$tag$ literals become plain '…' literals, and an
unterminated string, identifier or comment is a 400. After that the only
non-code text is quoted tokens — '…' literals, "…" identifiers (and the
`…` identifiers passes emit) — and every scan skips them through the
lexing helpers (``_in_literal``, ``_find_close``/``_find_open``,
``_split_top``, ``_code_scan``, ``_search_code``/``_sub_code_fn``).

Passes that translate function calls share one walker, ``_map_calls``:
outside quoted tokens and left to right, a call's arguments are walked
before the call itself; a call its pass declines keeps its walked
arguments; the walk resumes after the spliced text.

The pipeline is one ordered table, ``SqlRewriter._PIPELINE``: after the
statement head (locked configuration, prepared statements, DDL),
``_rewrite_inner`` runs each entry in turn through ``_run_entry``. An
entry is a text pass or a call translation for ``_map_calls``.
"""

from __future__ import annotations

import bisect
import functools
import hashlib
import logging
import os
import re
import threading
import uuid
from contextlib import contextmanager

from pyspark.sql import SparkSession

from .errors import UQueryError
from .sources.files import REMOTE_SCHEMES, resolve_path

_PROBE_TLS = threading.local()


def _duckdb_version() -> str:
    """Installed DuckDB version (the dialect the gateway mimics)."""
    try:
        import duckdb

        return duckdb.__version__
    except ImportError:  # pragma: no cover
        return "1.0.0"


class _ProbeNoiseFilter(logging.Filter):
    """Suppress PySpark's SQLQueryContextLogger ERROR records emitted by
    EXPECTED analysis failures inside schema/type probes (VERDICT r7
    'What's wrong' #2): the poly resolvers try a candidate form and
    catch the AnalysisException — without this filter every PASSING
    query that exercises a probe dumps a full Py4J stack trace at ERROR
    into the service log, burying real errors. Thread-local so pooled
    concurrent rewrites never mask each other's genuine failures."""

    def filter(self, record):  # noqa: A003 - logging.Filter API
        return not getattr(_PROBE_TLS, "quiet", False)


# CRITICAL: create the logger through PySparkLogger so it gets pyspark's
# Logger subclass — a bare logging.getLogger() here would REGISTER a
# plain Logger under the name first, and pyspark's later
# PySparkLogger.getLogger() returns whatever instance the name already
# maps to, whose .error(..., errorClass=...) then TypeErrors (caught
# live on the EXTRACT-unsupported logging path, round 8).
from pyspark.logger import PySparkLogger  # noqa: E402

PySparkLogger.getLogger("SQLQueryContextLogger").addFilter(_ProbeNoiseFilter())


@contextmanager
def _probe_quiet():
    """Mark the current thread as running an expected-failure probe."""
    prev = getattr(_PROBE_TLS, "quiet", False)
    _PROBE_TLS.quiet = True
    try:
        yield
    finally:
        _PROBE_TLS.quiet = prev

# Runs AFTER the read_*() TVF rewrite (which consumes quoted args), so a
# quoted table ref may legitimately sit right before ')' (subquery close);
# only multi-path lists ('a', 'b') are left untouched.
_PATH_TABLE_RE = re.compile(
    r"(?i)(?P<kw>\b(?:from|join)\s+)'(?P<path>[^']+)'(?!\s*,\s*')"
)
_TVF_RE = re.compile(
    r"(?i)\b(?P<fn>read_parquet|read_csv|read_json|read_xlsx|read_text|"
    r"read_blob)\s*\("
)
_JSON_ARROW_RE = re.compile(
    r"(?P<col>'(?:[^']|'')*'|[A-Za-z_][\w.]*)\s*->>?\s*'(?P<key>[^']+)'"
)
_FORBIDDEN_RE = re.compile(
    r"(?i)^\s*(set|reset|install|load|attach|detach|create\s+secret|copy|"
    r"export|import|begin|commit|rollback|"
    r"checkpoint|vacuum|pragma)\b"
)
# PREPARE/EXECUTE/DEALLOCATE graduated out of the forbidden list in
# round 11: they are query-level session state (like CREATE VIEW /
# CREATE MACRO, both supported), not configuration mutation.
_PREPARE_RE = re.compile(r"(?is)^\s*prepare\s+(\w+)\s+as\s+(.+?)\s*;?\s*$")
_EXECUTE_RE = re.compile(
    r"(?is)^\s*execute\s+(\w+)\s*(?:\((.*)\))?\s*;?\s*$"
)
_DEALLOCATE_RE = re.compile(
    r"(?is)^\s*deallocate\s+(?:prepare\s+)?(\w+)\s*;?\s*$"
)

# -- lexing ------------------------------------------------------------------
# The quoted tokens: a '…' string literal ('' doubles a quote), a "…"
# identifier ("" doubles) and a `…` identifier (the Spark spelling some
# passes emit).
_STRING = r"'[^']*(?:''[^']*)*'"
_IDENT = r'"[^"]*(?:""[^"]*)*"'
_BACKTICK = r"`[^`]*(?:``[^`]*)*`"
# Any quoted token; an unterminated one runs to the end of the text.
_QUOTED = "|".join(q + "?" for q in (_STRING, _IDENT, _BACKTICK))
_QUOTED_RE = re.compile(_QUOTED)
# What rewrite() lexes first: the quoted tokens, plus DuckDB's E'…'
# escape literals, $tag$…$tag$ literals and comments; a quote left
# over is unterminated.
_HEAD_RE = re.compile(
    rf"(?P<e>(?<!\w)[Ee]'(?:[^'\\]|\\.|'')*')|{_STRING}|{_IDENT}"
    r"|(?P<line>--[^\n]*)|(?P<block>/\*)|(?P<dollar>\$\w*\$)|(?P<open>['\"])",
    re.S,
)
_BLOCK_RE = re.compile(r"/\*|\*/")


@functools.lru_cache(maxsize=256)
def _quoted_spans(sql: str) -> tuple[list[int], list[int]]:
    """Start and end offsets of every quoted token in ``sql``, lexed
    once per distinct text."""
    spans = [m.span() for m in _QUOTED_RE.finditer(sql)]
    return [a for a, _ in spans], [b for _, b in spans]


@functools.lru_cache(maxsize=None)
def _scanner(tokens: str) -> "re.Pattern[str]":
    """Quoted tokens, brackets and the caller's ``tokens`` pattern."""
    tok = f"|(?P<tok>{tokens})" if tokens else ""
    return re.compile(rf"{_QUOTED}|(?P<open>[(\[{{])|(?P<close>[)\]}}]){tok}", re.S)


class SqlRewriter:
    # One rewriter serves every handler thread, and served statements
    # (CREATE/DROP MACRO, PREPARE, DEALLOCATE) change its session state:
    # _views, _macros, _table_macros, _pivot_vals and _prepared. Every
    # read and write of them holds this lock, and nothing else does, so
    # no rewrite iterates a dict another one changes. Its critical
    # sections are single dict operations, so every rewriter shares it.
    _state_lock = threading.Lock()

    def __init__(
        self,
        spark: SparkSession,
        allowed_dirs: list[str] | None = None,
        allow_remote: bool = True,
    ):
        self.spark = spark
        # DuckDB reads "..." as an identifier, never a string (attached
        # macro bodies arrive double-quoted); runtime-set so externally
        # built sessions get the dialect too.
        spark.conf.set("spark.sql.ansi.doubleQuotedIdentifiers", "true")
        # TIME graduated in round 8: literals parse regardless, but
        # casts/extract need the feature flag (runtime-settable)
        spark.conf.set("spark.sql.timeType.enabled", "true")
        self.allowed_dirs = [os.path.realpath(d) for d in (allowed_dirs or [os.getcwd()])]
        self.allow_remote = allow_remote
        self._views: dict[str, str] = {}
        # geomean ships as a _rewrite_agg_semantics pass (DOUBLE-cast
        # expansion), not an init macro: macros now expand FIRST and
        # shadow built-ins, so an init entry would bypass the pass
        # (pre-round-11 the pass ran before late expansion and the init
        # macro was dead code).
        self._macros: dict[str, tuple[list[str], str]] = {}
        self._table_macros: set[str] = set()
        # PIVOT value-discovery probes, keyed (table_expr, col): the
        # DISTINCT probe is a real Spark job run at REWRITE time, so
        # repeated pivots of the same source paid it per query. Sources
        # here are read-only file views, so session-lifetime caching is
        # sound; a mutated external source would need a new session (or
        # rewriter) to pick up NEW pivot columns — same bind-time flavor
        # as DuckDB's own PIVOT, which fixes the column set per prepare.
        self._pivot_vals: dict[tuple[str, str], list] = {}
        # PREPARE name AS <stmt> texts, keyed lowercase (round 11)
        self._prepared: dict[str, str] = {}

    def attach_db_file(self, path: str) -> None:
        """Bootstrap tables + macros from a DuckDB file (reference
        --db-file, src/cli/options.rs:183-186)."""
        from .sources.duckdb_catalog import attach_db

        catalog = attach_db(self.spark, path)
        for tm in catalog.table_macros:
            self.add_table_macro(tm)
        for m in catalog.table_macro_defs:
            # a table macro's SELECT body expands to `(body)` — a derived
            # table after FROM/JOIN; same inlining machinery as scalar
            # macros (DuckDB inlines both at bind time).
            self.add_scalar_macro(m.name, m.params, m.body)
        for m in catalog.scalar_macros:
            self.add_scalar_macro(m.name, m.params, m.body)

    # -- sandbox ----------------------------------------------------------

    def check_path(self, path: str) -> None:
        if path.startswith(REMOTE_SCHEMES):
            if not self.allow_remote:
                raise UQueryError.sql_error(f"remote access disabled: {path}")
            return
        real = os.path.realpath(path)
        if not any(real == d or real.startswith(d + os.sep) for d in self.allowed_dirs):
            raise UQueryError.sql_error(
                f"path '{path}' is outside the allowed directories"
            )

    # -- view registration --------------------------------------------------

    def _view_for(self, path: str, fmt: str | None, options: dict[str, str]) -> str:
        key = f"{path}|{fmt}|{sorted(options.items())}"
        with self._state_lock:
            view = self._views.get(key)
        if view is None:
            self.check_path(path)
            df = resolve_path(self.spark, path, fmt, options)
            view = "uq_file_" + hashlib.sha1(key.encode()).hexdigest()[:12]
            df.createOrReplaceTempView(view)
            with self._state_lock:
                self._views[key] = view
        return view

    # -- rewrites -----------------------------------------------------------

    def _rewrite_path_tables(self, sql: str) -> str:
        def sub(m: re.Match) -> str:
            return m.group("kw") + self._view_for(m.group("path"), None, {})

        return self._sub_code_fn(_PATH_TABLE_RE, sub, sql)

    def _translate_tvfs(self, m, raw_args):
        path, options = self._parse_tvf_args(raw_args)
        return self._view_for(path, m.group("fn").split("_", 1)[1], options)

    @classmethod
    def _parse_tvf_args(cls, raw: str) -> tuple[str, dict[str, str]]:
        parts = [p.strip() for p in cls._split_top(raw, ",") if p.strip()]
        if not parts or not parts[0].startswith("'"):
            raise UQueryError.sql_error(f"read_* expects a quoted path, got: {raw[:80]}")
        path = parts[0].strip("'")
        options: dict[str, str] = {}
        for p in parts[1:]:
            if "=" not in p:
                raise UQueryError.sql_error(f"bad read_* option: {p}")
            k, v = p.split("=", 1)
            key = k.strip().rstrip(":").strip()
            options[_OPTION_NAMES.get(key.lower(), key)] = v.strip().strip("'")
        return path, options

    @classmethod
    def _rewrite_json_arrows(cls, sql: str) -> str:
        def sub(m: re.Match) -> str:
            return f"get_json_object({m.group('col')}, '$.{m.group('key')}')"

        return cls._sub_code_fn(_JSON_ARROW_RE, sub, sql)

    # [relation [alias]] USING SAMPLE <n> [%|PERCENT|ROWS] [(method [, seed])]
    _SAMPLE_RE = re.compile(
        r"(?i)\b(?P<rel>(?!(?:from|join|on|where|select|and|or)\b)[\w.]+)"
        r"(?:\s+(?:as\s+)?(?P<alias>(?!using\b)\w+))?"
        r"\s+using\s+sample\s+(?P<n>\d+(?:\.\d+)?)\s*(?P<unit>%|percent\b|rows\b)?"
        r"(?:\s*\(\s*\w+\s*(?:,\s*(?P<seed>\d+))?\s*\))?"
    )

    @classmethod
    def _rewrite_using_sample(cls, sql: str) -> str:
        """DuckDB ``rel [alias] USING SAMPLE n [%|ROWS] [(method, seed)]``
        → Spark ``rel TABLESAMPLE (n PERCENT|ROWS) [REPEATABLE (seed)]
        [alias]`` — Spark's grammar puts the sample BEFORE the alias, so
        any alias is hoisted past it. Bare ``n`` means rows (DuckDB
        default); the sampling-method name is dropped (Spark picks its
        own), the seed carries over. Applies to named relations (table or
        view refs); subquery sampling should sample inside the subquery.
        """

        def sub(m: re.Match) -> str:
            unit = (m.group("unit") or "rows").lower()
            kind = "PERCENT" if unit in ("%", "percent") else "ROWS"
            rep = f" REPEATABLE ({m.group('seed')})" if m.group("seed") else ""
            alias = f" {m.group('alias')}" if m.group("alias") else ""
            return f"{m.group('rel')} TABLESAMPLE ({m.group('n')} {kind}){rep}{alias}"

        return cls._sub_code_fn(cls._SAMPLE_RE, sub, sql)

    # -- DuckDB → Spark function renames (1:1 semantics verified against
    # DuckDB: array_position returns 0 when missing in BOTH engines;
    # regexp_like/regexp_matches are both partial-match). list_sort /
    # array_to_string / regexp_replace / regexp_extract need arg-aware
    # rewrites (NULL placement, empty-list, flags) — separate passes below.
    _FN_RENAMES = {
        "list_transform": "transform",
        "list_filter": "filter",
        # list_distinct/array_distinct moved to _translate_list_distinct
        # (nested-fuzzer catch r7: DuckDB REMOVES NULLs — [5,NULL,7,NULL]
        # → [7,5] — where Spark's array_distinct keeps one)
        # list_contains/array_contains moved to _rewrite_flatten_factorial_contains (DuckDB
        # returns false on null-bearing misses where Spark 3VL gives NULL)
        "list_min": "array_min",
        "list_max": "array_max",
        # list_append/list_prepend moved to _rewrite_flatten_factorial_contains (nested
        # fuzzer catch: Spark's array functions are width-strict where
        # DuckDB coerces numeric element/value types)
        # list_position/list_indexof/array_indexof moved to
        # _rewrite_flatten_factorial_contains (fuzzer catch: Spark's array_position is
        # width-strict where DuckDB coerces numeric types)
        "from_hex": "unhex",
        # list_zip/array_zip moved to _translate_list_zip (round-12
        # wave-11: DuckDB names the struct fields list_1..list_n where
        # arrays_zip uses positional 0/1 — a silent field-name diff —
        # and supports a literal trailing truncate flag)
        "regexp_matches": "regexp_like",
        "strlen": "length",
        # round-5 sweep batch 2 (1:1 semantics verified against DuckDB)
        # arg_max/arg_min/max_by/min_by moved to _translate_arg_max_avg_corr
        # (agg-fuzzer catch: DuckDB skips NULL-VALUE rows, Spark's
        # max_by can return one)
        "editdist3": "levenshtein",
        "unicode": "ascii",  # both: codepoint of the first character
        "ord": "ascii",
        "json_keys": "json_object_keys",
        # Spark split() is regex-based — these are direct renames, unlike
        # string_split (literal separator, regex-escaped by _translate_function_names)
        "string_split_regex": "split",
        "str_split_regex": "split",
        "strpos": "instr",  # both: 1-based position, 0 when absent
        "approx_quantile": "approx_percentile",  # both sketch-based
        # DuckDB's reservoir sampling is RANDOMIZED run-to-run; Spark's
        # deterministic sketch is the same accept-the-SQL contract
        # (3rd arg: reservoir size ≈ accuracy, both "bigger = better")
        "reservoir_quantile": "approx_percentile",
        "regexp_split_to_array": "split",
        "from_base64": "unbase64",
        "to_base64": "base64",
        "starts_with": "startswith",
        "ends_with": "endswith",
        "prefix": "startswith",
        "suffix": "endswith",
        "gen_random_uuid": "uuid",
        # batch 16: to_hex(255)='FF', to_hex(-1)=16 F's on both engines
        "to_hex": "hex",
        # batch 17
        "list_pack": "array",
        # batch 28: both are the statement-start timestamp
        "transaction_timestamp": "now",
        "list_apply": "transform",
        # batch 18
        "list_value": "array",
        "today": "current_date",
        # DuckDB list()/array_agg KEEP null elements, Spark array_agg
        # drops them — documented deviation (null-free columns identical)
        "list": "array_agg",
        # list_has_any / list_concat moved to _rewrite_list_nulls (NULL
        # semantics differ from the 1:1 Spark functions — ADVICE r5)
        "list_intersect": "array_intersect",
        "array_length": "size",
        # list_element / list_extract moved to _rewrite_list_index (ANSI
        # element_at ERRORS on out-of-bounds; DuckDB returns NULL)
        "row": "struct",
    }
    # batch 20: bare `split` IS literal-separator in DuckDB (alias of
    # string_split) while Spark's split() is regex — without the escape,
    # split('a.b', '.') silently explodes per-char. Internal passes that
    # emit Spark regex split() all run after _translate_function_names.
    _FN_NAME_RE = re.compile(
        r"(?i)\b(?:(?P<split>string_split|str_split|string_to_array|split)"
        r"|(?P<ren>" + "|".join(_FN_RENAMES) + r"))\s*\(",
    )
    _REGEX_META = set(".^$*+?()[]{}|\\")

    _MAP_LITERAL_RE = re.compile(r"(?i)\bmap\s*\{")
    _STRING_AGG_RE = re.compile(r"(?i)\bstring_agg\s*\(")

    def _brace_entries(self, inner: str) -> str:
        """``k: v, …`` (a brace literal's body) → ``k, v, …``; an empty
        body stays empty (``MAP {}`` → ``map()``)."""
        if not inner.strip():
            return ""
        flat = []
        for entry in self._split_top(inner, ","):
            k = self._split_top(entry, ":")[0]
            flat.append(f"{k.strip()}, {entry[len(k) + 1 :].strip()}")
        return ", ".join(flat)

    def _translate_map_literal(self, m, inner):
        """DuckDB ``MAP {'k': v, …}`` → Spark ``map('k', v, …)``
        (keys/values pass through recursively)."""
        return f"map({self._brace_entries(inner)})"

    _DISTINCT_IN_AGG_RE = re.compile(r"(?i)\(\s*distinct\b")

    def _translate_string_agg_order(self, m, inner):
        """DuckDB ``string_agg(x, sep ORDER BY o)`` → Spark
        ``listagg(x, sep) WITHIN GROUP (ORDER BY o)``; plain string_agg
        (no in-args ORDER BY) is native and left alone.

        Spark 4.1 bug dodge (round-10 agg fuzzer, fresh seed 91001):
        ``ListAgg.withNewChildrenInternal`` throws ClassCastException
        when RewriteDistinctAggregates expands the plan — listagg
        combined with TWO-plus DISTINCT aggregates over different
        expressions crashes at runtime (one DISTINCT works; probed on
        4.1.2). When any ``(DISTINCT`` appears elsewhere in the
        statement and no OVER follows, translate to an exactly
        equivalent comparator-sorted collect_list fold instead of
        listagg (overtriggering is safe — the fold is semantically
        identical and fuzz-validated)."""
        split = re.split(r"(?i)\border\s+by\b", inner, maxsplit=1)
        if len(split) != 2:
            return None
        args, order = split[0].rstrip().rstrip(","), split[1].strip()
        whole, close = m.string, self._close_of(m)
        rest = whole[: m.start()] + whole[close + 1 :]
        over_follows = re.match(r"\s*over\b", whole[close + 1 :], re.I)
        fold = None
        if self._DISTINCT_IN_AGG_RE.search(rest) and not over_follows:
            fold = self._string_agg_sorted_fold(args.strip(), order)
        return fold or f"listagg({args.strip()}) WITHIN GROUP (ORDER BY {order})"

    def _string_agg_sorted_fold(self, args: str, order: str) -> str | None:
        """Equivalent of ``listagg(x, sep) WITHIN GROUP (ORDER BY …)``
        without the ListAgg operator: collect (value, keys) structs
        (NULL values skipped, like string_agg), array_sort with a
        generated comparator honoring ASC/DESC and NULLS FIRST/LAST
        (DuckDB defaults: ASC, NULLS LAST), join with the separator;
        empty group → NULL. Ties after every user key break by the
        aggregated VALUE ascending: tie order among equal keys is
        scan-order in DuckDB and listagg alike — unspecified under
        parallelism in both engines — so the fold picks the one
        deterministic choice (saggfz fuzz axis catch, round 10).
        Returns None when the form is out of scope (DISTINCT inside
        the call) — caller keeps the listagg path."""
        parts = self._split_top(args, ",")
        x = parts[0].strip()
        if re.match(r"(?i)^distinct\b", x):
            return None
        sep = parts[1].strip() if len(parts) > 1 else "','"
        fields, conds = [], []
        for i, item in enumerate(self._split_top(order, ",")):
            om = re.match(
                r"(?is)^(.*?)(?:\s+(asc|desc))?(?:\s+nulls\s+(first|last))?\s*$",
                item.strip(),
            )
            kexpr = om.group(1).strip()
            desc = (om.group(2) or "asc").lower() == "desc"
            nfirst = (om.group(3) or "last").lower() == "first"
            fields.append(f"({kexpr}) AS uq_k{i}")
            l, r = f"uq_l.uq_k{i}", f"uq_r.uq_k{i}"
            nf, lt = (-1 if nfirst else 1), (1 if desc else -1)
            conds += [
                f"WHEN {l} IS NULL AND {r} IS NOT NULL THEN {nf}",
                f"WHEN {l} IS NOT NULL AND {r} IS NULL THEN {-nf}",
                f"WHEN {l} < {r} THEN {lt}",
                f"WHEN {l} > {r} THEN {-lt}",
            ]
        conds += [
            "WHEN uq_l.uq_v < uq_r.uq_v THEN -1",
            "WHEN uq_l.uq_v > uq_r.uq_v THEN 1",
        ]
        comp = f"(uq_l, uq_r) -> CASE {' '.join(conds)} ELSE 0 END"
        st = f"struct({', '.join(fields)}, ({x}) AS uq_v)"
        cl = f"collect_list(CASE WHEN ({x}) IS NULL THEN NULL ELSE {st} END)"
        return (
            f"(CASE WHEN size({cl}) = 0 THEN CAST(NULL AS STRING) "
            f"ELSE array_join(transform(array_sort({cl}, {comp}), "
            f"uq_e -> uq_e.uq_v), {sep}) END)"
        )

    _STRUCT_PACK_RE = re.compile(r"(?i)\bstruct_pack\s*\(")
    _SERIES_FROM_RE = re.compile(r"(?i)\b(from|join)\s+generate_series\s*\(")
    _SERIES_RE = re.compile(r"(?i)\bgenerate_series\s*\(")

    def _translate_struct_pack(self, m, args):
        """DuckDB ``struct_pack(k := v, …)`` → Spark
        ``named_struct('k', v, …)`` (balanced arg split; nested calls
        recurse)."""
        pairs = []
        for a in args:
            k, _, v = a.partition(":=")
            pairs.append(f"'{k.strip()}', {v.strip()}")
        return f"named_struct({', '.join(pairs)})"

    def _rewrite_generate_series(self, sql: str) -> str:
        """``generate_series(a, b[, s])`` is DuckDB's range() with an
        inclusive stop: the same direction guard (_series_sql), so it is
        empty when the step does not move toward the stop
        (generate_series(3, 1) is []) where Spark's sequence() counts
        down. In FROM/JOIN position (a table function, one row per
        value, column ``generate_series``) it becomes an exploded
        subquery. An INTERVAL step makes DuckDB's result TIMESTAMP even
        for DATE bounds; Spark's sequence keeps DATE elements, so the
        bounds are cast (element type and string form match)."""

        def series(args):
            if len(args) == 1:
                args = ["0", *args]
            if len(args) == 2:
                args = [*args, "1"]
            if len(args) != 3:
                return None
            a, b, s = args
            if re.match(
                r"(?i)^\s*(interval\b|make_interval|make_dt_interval|make_ym_interval)", s
            ):
                return f"sequence(CAST(({a}) AS TIMESTAMP), CAST(({b}) AS TIMESTAMP), {s})"
            return self._series_sql(a, b, s, True)

        def table(m, args):
            seq = series(args)
            return seq and f"{m.group(1)} (SELECT explode({seq}) AS generate_series)"

        sql = self._map_calls(self._SERIES_FROM_RE, table, sql)
        return self._map_calls(self._SERIES_RE, lambda m, args: series(args), sql)

    def _translate_function_names(self, m, inner):
        """Rename DuckDB functions to their Spark equivalents, skipping
        string literals. string_split/str_split get special handling:
        DuckDB splits on a LITERAL separator while Spark's split() takes a
        regex, so literal separators are metachar-escaped; non-literal
        separators pass through un-escaped (documented caveat)."""
        if m.group("ren"):
            return f"{self._FN_RENAMES[m.group('ren').lower()]}({inner})"
        args = self._split_top(inner, ",")
        sep = args[1].strip() if len(args) == 2 else ""
        if sep.startswith("'") and sep.endswith("'"):
            esc = "".join(
                ("\\\\" + ch if ch in self._REGEX_META else ch) for ch in sep[1:-1]
            )
            return f"split({args[0]}, '{esc}')"
        return f"split({inner})"

    # -- string-literal escape space -------------------------------------
    # DuckDB standard literals are escape-free (a backslash is a literal
    # character); Spark's parser processes backslash escapes (default
    # spark.sql.parser.escapedStringLiterals=false), so '\w+' would reach
    # the regex engine as 'w+'. Normalizing FIRST doubles user backslashes;
    # every later pass that injects its own literal text writes it in
    # Spark escape space (string_split's metachar escaping already does).

    @staticmethod
    def _normalize_literals(sql: str) -> str:
        """Double backslashes inside user string literals so the string
        Spark parses equals the one DuckDB parses. `''` quote-doubling is
        valid in both parsers and passes through. (DuckDB's E'…' and
        $tag$…$tag$ literals are plain '…' literals by now: _lex_head
        decodes them.)"""
        return _QUOTED_RE.sub(
            lambda m: m.group().replace("\\", "\\\\") if m.group()[0] == "'" else m.group(),
            sql,
        )

    _LIT_RE = re.compile(_STRING)

    @classmethod
    def _lit_parse(cls, lit: str) -> str | None:
        """Spark-escape-space literal token → the raw string value, or
        None if the token isn't a single plain literal."""
        if not cls._LIT_RE.fullmatch(lit):
            return None
        inner = lit[1:-1]
        out: list[str] = []
        i, n = 0, len(inner)
        while i < n:
            c = inner[i]
            if c == "\\" and i + 1 < n:  # Spark: unknown escape → the char
                out.append(inner[i + 1])
                i += 2
                continue
            if c == "'" and i + 1 < n and inner[i + 1] == "'":
                out.append("'")
                i += 2
                continue
            out.append(c)
            i += 1
        return "".join(out)

    @staticmethod
    def _lit_emit(raw: str) -> str:
        """Raw string value → Spark-escape-space literal token."""
        return "'" + raw.replace("\\", "\\\\").replace("'", "''") + "'"

    _E_SIMPLE = {"b": "\b", "f": "\f", "n": "\n", "r": "\r", "t": "\t",
                 "\\": "\\", "'": "'"}

    @classmethod
    def _e_decode(cls, body: str) -> str:
        r"""Decode a DuckDB/PostgreSQL E'...' literal body to its raw
        value: \b \f \n \r \t \\ \', \xH{1,2}, \o{1,3} octal, \uXXXX,
        \UXXXXXXXX, plus '' quote-doubling. Unknown escapes drop the
        backslash and keep the char (PostgreSQL semantics, verified
        against DuckDB 1.x incl. malformed \xZ; malformed \u, which
        DuckDB rejects at parse time, stays lenient here)."""
        out: list[str] = []
        i, n = 0, len(body)
        while i < n:
            c = body[i]
            if c == "'" and i + 1 < n and body[i + 1] == "'":
                out.append("'")
                i += 2
                continue
            if c != "\\" or i + 1 >= n:
                out.append(c)
                i += 1
                continue
            e = body[i + 1]
            if e in cls._E_SIMPLE:
                out.append(cls._E_SIMPLE[e])
                i += 2
            elif e in "xX":
                j = i + 2
                while j < n and j < i + 4 and body[j] in "0123456789abcdefABCDEF":
                    j += 1
                if j > i + 2:
                    out.append(chr(int(body[i + 2 : j], 16)))
                    i = j
                else:
                    out.append(e)
                    i += 2
            elif e in "01234567":
                j = i + 1
                while j < n and j < i + 4 and body[j] in "01234567":
                    j += 1
                out.append(chr(int(body[i + 1 : j], 8)))
                i = j
            elif e in "uU":
                width = 4 if e == "u" else 8
                hexs = body[i + 2 : i + 2 + width]
                if len(hexs) == width and all(h in "0123456789abcdefABCDEF" for h in hexs):
                    out.append(chr(int(hexs, 16)))
                    i += 2 + width
                else:
                    out.append(e)
                    i += 2
            else:
                out.append(e)  # unknown escape: backslash dropped (PG rules)
                i += 2
        return "".join(out)

    # -- lexing: what is code ---------------------------------------------
    # _lex_head runs once at the head of rewrite(); every later scan
    # skips the quoted tokens through the helpers below.

    @classmethod
    def _lex_head(cls, sql: str) -> str:
        """Comments become whitespace (``--`` to end of line, ``/* … */``
        nesting like DuckDB's); E'…' and $tag$…$tag$ literals become
        plain '…' literals in DuckDB's escape-free space, so the only
        non-code text left is quoted tokens. An unterminated string,
        identifier or comment is a 400, as in DuckDB."""
        out, pos = [], 0
        while m := _HEAD_RE.search(sql, pos):
            kind, end = m.lastgroup, m.end()
            if kind is None:  # a plain quoted token
                out.append(sql[pos:end])
                pos = end
                continue
            out.append(sql[pos : m.start()])
            if kind == "open":
                what = "string" if m.group() == "'" else "identifier"
                near = sql[m.start() : m.start() + 20]
                raise UQueryError.sql_error(f"unterminated quoted {what} at or near {near!r}")
            if kind == "e":
                raw = cls._e_decode(m.group()[2:-1])
                out.append("'" + raw.replace("'", "''") + "'")
            elif kind == "dollar":
                close = sql.find(m.group(), end)
                if close == -1:
                    raise UQueryError.sql_error("unterminated dollar-quoted string")
                out.append("'" + sql[end:close].replace("'", "''") + "'")
                end = close + len(m.group())
            elif kind == "block":
                depth = 1
                for b in _BLOCK_RE.finditer(sql, end):
                    depth += 1 if b.group() == "/*" else -1
                    if not depth:
                        end = b.end()
                        break
                else:
                    raise UQueryError.sql_error("unterminated /* comment")
                out.append(" ")
            else:  # a line comment
                out.append(" ")
            pos = end
        out.append(sql[pos:])
        return "".join(out)

    @staticmethod
    def _in_literal(sql: str, idx: int) -> bool:
        """True when sql[idx] sits inside a quoted token (its opening
        quote excluded). Each distinct text is lexed once (cached), so a
        call is a bisect, not a scan: a per-call Python character loop
        made the many-probe passes quadratic on large rewritten SQL
        (measured 9 s of a 40 s information_schema rewrite)."""
        starts, ends = _quoted_spans(sql)
        k = bisect.bisect_left(starts, idx) - 1
        return k >= 0 and idx < ends[k]

    @staticmethod
    def _code_scan(sql: str, tokens: str = "", start: int = 0, end=None):
        """Yield ``(m, depth)`` for each bracket (``m.lastgroup`` "open"
        or "close") and each ``tokens`` match ("tok") in
        ``sql[start:end]`` outside quoted tokens. ``depth`` counts the
        groups enclosing ``m`` that opened at or after ``start``, so a
        bracket reports the depth outside it; a closer with no opener
        reports -1 and lower. ``tokens`` carries no global flags (use
        ``(?i:…)``)."""
        depth = 0
        for m in _scanner(tokens).finditer(sql, start, len(sql) if end is None else end):
            kind = m.lastgroup
            if kind is None:
                continue
            if kind == "close":
                depth -= 1
            yield m, depth
            if kind == "open":
                depth += 1

    @classmethod
    def _find_close(cls, s: str, i: int) -> int:
        """Index of the bracket closing the group opened at s[i] (-1 if
        none), or of the last character of the quoted token opened
        there. Every bracket kind counts toward one depth."""
        if s[i] in "'\"`":
            return _QUOTED_RE.match(s, i).end() - 1
        for m, depth in cls._code_scan(s, "", i):
            if not depth and m.lastgroup == "close":
                return m.start()
        return -1

    @staticmethod
    def _find_open(s: str, j: int) -> int:
        """Backward twin of _find_close: index of the quote opening the
        quoted token that ends at s[j]; else of the bracket opening the
        innermost group still open just before j (for a closer at s[j],
        its opener); -1 if none."""
        starts, ends = _quoted_spans(s)
        if s[j : j + 1] in ("'", '"', "`"):
            k = bisect.bisect_right(starts, j) - 1
            if k >= 0 and ends[k] == j + 1 and starts[k] < j:
                return starts[k]
        depth, i = 0, j - 1
        while i >= 0:
            c = s[i]
            if c in "'\"`":
                k = bisect.bisect_right(starts, i) - 1
                if k >= 0 and i < ends[k]:
                    i = starts[k] - 1
                    continue
            elif c in ")]}":
                depth += 1
            elif c in "([{":
                if not depth:
                    return i
                depth -= 1
            i -= 1
        return -1

    @staticmethod
    def _word_start(s: str, i: int, chars: str = "_.") -> int:
        """Start of the run of alphanumerics and ``chars`` ending at
        s[i - 1]."""
        while i > 0 and (s[i - 1].isalnum() or s[i - 1] in chars):
            i -= 1
        return i

    # -- operands: where an operator's operand starts and ends ------------
    # One operand is a literal (optionally after DATE/TIME/TIMESTAMP/
    # INTERVAL), a number, a dotted or quoted name, a balanced group with
    # its call name, or CASE … END, followed by postfix calls, […]
    # subscripts and .field access. A caller widens it through a unary
    # sign and through the binary operators that bind at least as
    # tightly as its own. DuckDB, loosest first: postfix !; || and the
    # other symbol operators; + -; * / % // (left-associative); ^ **
    # (left-associative); unary sign.

    # words that are never an operand, nor the name of a call
    _KEYWORDS = frozenset(
        "select from where group order by limit offset having qualify "
        "union intersect except all distinct on using join inner cross "
        "natural as when then else case end and or not in is between like "
        "ilike glob similar escape exists any some over partition rows "
        "preceding following unbounded set values window interval".split()
    )
    _OP_CHARS = "+-*/%^<>=!|&~:"
    _OP_TAIL = "*/%^<>=!|&~"  # a char that makes an operator longer
    _CASE_TOK_RE = re.compile(r"(?i)\b(case|end)\b")
    _LIT_KW = r"date|time|timestamp(?:_ntz|_s|_ms|_ns|tz)?"
    _LIT_KW_RE = re.compile(rf"(?i){_LIT_KW}|interval")
    _TYPED_LIT_RE = re.compile(rf"(?i)(?:{_LIT_KW})\s*'")
    _IVL_HEAD_RE = re.compile(r"(?i)interval\s+")
    _IVL_NUM_RE = re.compile(r"[\d.]+")
    _IVL_UNIT_RE = re.compile(r"\s+([A-Za-z_]+)")
    _IVL_LIT_RE = re.compile(
        r"(?i)\binterval\s+(?:" + _STRING + r"|[\d.]+)((?:\s+[a-z_]+)+)$"
    )
    _NUMBER_RE = re.compile(r"(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?")
    _WORD_RE = re.compile(r"[\w$]+")
    _EXP_HEAD_RE = re.compile(r"(?<![\w.])(?:\d+\.?\d*|\.\d+)[eE][+-]$")
    _CLAUSE_RE = re.compile(
        r"(?i)(over|filter|ignore\s+nulls|respect\s+nulls|within\s+group)\b"
    )

    @staticmethod
    def _ws_left(s: str, i: int) -> int:
        while i > 0 and s[i - 1].isspace():
            i -= 1
        return i

    @staticmethod
    def _ws_right(s: str, i: int) -> int:
        while i < len(s) and s[i].isspace():
            i += 1
        return i

    def _ends_operand(self, sql: str, i: int) -> bool:
        """True when an operand ends just before ``i`` (whitespace
        skipped): otherwise a sign there is unary."""
        i = self._ws_left(sql, i)
        c = sql[i - 1 : i]
        if c and (c.isalnum() or c in "_$"):
            word = sql[self._word_start(sql, i, "_$") : i].lower()
            return word == "end" or word not in self._KEYWORDS
        return bool(c) and c in ")]'\"`"

    def _case_end(self, sql: str, i: int):
        """End of the CASE … END block whose CASE starts at sql[i]."""
        depth = 0
        for tok in self._finditer_code(self._CASE_TOK_RE, sql, i):
            depth += 1 if tok.group(1).lower() == "case" else -1
            if not depth:
                return tok.end()
        return None

    def _case_start(self, sql: str, i: int):
        """Start of the CASE … END block whose END starts at sql[i]."""
        opened: list[int] = []
        for tok in self._finditer_code(self._CASE_TOK_RE, sql, 0, i + 3):
            if tok.group(1).lower() == "case":
                opened.append(tok.start())
            elif tok.start() == i:
                return opened[-1] if opened else None
            elif opened:
                opened.pop()
        return None

    def _interval_end(self, sql: str, j: int):
        """End of the ``<'lit'|number> [UNIT …]`` that follows an
        INTERVAL keyword at sql[j]; None if no literal is there."""
        if sql[j : j + 1] == "'":
            j = self._find_close(sql, j) + 1
        else:
            m = self._IVL_NUM_RE.match(sql, j)
            if not m:
                return None
            j = m.end()
        while (m := self._IVL_UNIT_RE.match(sql, j)) and (
            m.group(1).lower() in self._IVL_UNIT_WORDS
        ):
            j = m.end()
        return j

    def _window_clause_end(self, sql: str, end: int):
        """``end`` (just after a call) moved past the window and
        aggregate clauses that follow: OVER (spec)/OVER name, FILTER
        (…), WITHIN GROUP (…), IGNORE/RESPECT NULLS; None for a clause
        without its body."""
        while m := self._CLAUSE_RE.match(sql, self._ws_right(sql, end)):
            kw, q = m.group(1).lower(), self._ws_right(sql, m.end(1))
            if kw.startswith(("ignore", "respect")):
                end = m.end(1)
            elif sql[q : q + 1] == "(":
                close = self._find_close(sql, q)
                if close == -1:
                    return None
                end = close + 1
            elif kw == "over" and (name := self._WORD_RE.match(sql, q)):
                end = name.end()  # a named window
            else:
                return None
        return end

    def _clause_call_end(self, sql: str, i: int, word: str = ""):
        """When the link starting at sql[i] (``word`` if it is a name)
        is the body of a window or aggregate clause — OVER (…), OVER
        name, FILTER (…), WITHIN GROUP (…), IGNORE/RESPECT NULLS — the
        end of the call that clause belongs to; else None."""
        p = self._ws_left(sql, i)
        w = self._word_start(sql, p, "_$")
        kw = sql[w:p].lower()
        if word == "nulls" and kw in ("ignore", "respect"):
            pass
        elif kw == "group":
            p = self._ws_left(sql, w)
            w = self._word_start(sql, p, "_$")
            if sql[w:p].lower() != "within":
                return None
        elif kw not in ("over", "filter") or (kw == "filter" and word):
            return None
        q = self._ws_left(sql, w)
        return q if sql[q - 1 : q] == ")" else None

    def _chain_start(self, sql: str, end: int):
        """Start of the primary and its postfix chain (``::`` casts
        included) ending just before ``end`` (whitespace skipped); None
        if no operand ends there."""
        i = self._ws_left(sql, end)
        while i > 0:
            c = sql[i - 1]
            if c in ")]":
                k = self._find_open(sql, i - 1)
                if k < 0:
                    return None
                if c == ")" and (q := self._clause_call_end(sql, k)) is not None:
                    i = q
                    continue
                w_end = self._ws_left(sql, k)
                w = self._word_start(sql, w_end, "_$")
                word = sql[w:w_end].lower()
                if c == ")" and word in ("over", "group"):
                    return None  # a clause with no call before it
                if c == ")" and word[:1].isalpha() and word not in self._KEYWORDS:
                    k = w  # a call: its name heads the link
                i = k
                # a subscript applies to the operand right before it
                if c == "]" and i and (sql[i - 1].isalnum() or sql[i - 1] in "_$)]'\"`"):
                    continue
            elif c == "'":
                k = self._find_open(sql, i - 1)
                if k < 0:
                    return None
                p = self._ws_left(sql, k)
                w = self._word_start(sql, p, "_")
                return w if self._LIT_KW_RE.fullmatch(sql, w, p) else k
            elif c in '"`':
                i = self._find_open(sql, i - 1)
                if i < 0:
                    return None
            elif c.isalnum() or c in "_$":
                w = self._word_start(sql, i, "_$")
                word = sql[w:i].lower()
                field = sql[w - 1 : w] == "."  # any word may name a field
                if word == "end" and not field:
                    return self._case_start(sql, w)
                if word in self._KEYWORDS and not field:
                    return None
                if (q := self._clause_call_end(sql, w, word)) is not None:
                    i = q
                    continue
                if word in self._IVL_UNIT_WORDS:
                    m = self._IVL_LIT_RE.search(sql[max(0, w - 200) : i])
                    if m and all(u in self._IVL_UNIT_WORDS for u in m.group(1).lower().split()):
                        return i - len(m.group())
                if word[0].isdigit():
                    m = self._EXP_HEAD_RE.search(sql[max(0, w - 40) : w])
                    if m:
                        return w - len(m.group())
                i = w
            else:
                return None
            p = self._ws_left(sql, i)
            if sql[p - 2 : p] == "::":  # a cast: the type's operand heads the chain
                i = self._ws_left(sql, p - 2)
                continue
            if sql[i - 1 : i] != ".":
                return i
            if not self._ends_operand(sql, i - 1) or sql[i - 2 : i - 1].isspace():
                return i - 1 if sql[i].isdigit() else i  # .5
            i -= 1
        return None

    def _chain_end(self, sql: str, start: int):
        """End of the primary and its postfix chain (``::`` casts
        included) starting at ``start`` (whitespace skipped); None if no
        operand starts there."""
        j = self._ws_right(sql, start)
        if m := self._IVL_HEAD_RE.match(sql, j):
            return self._interval_end(sql, m.end())
        c, name = sql[j : j + 1], False
        if m := self._TYPED_LIT_RE.match(sql, j):
            j = self._find_close(sql, m.end() - 1) + 1
        elif c in ("'", "(", "["):
            j = self._find_close(sql, j)
            if j < 0:
                return None
            j += 1
        elif c.isdigit() or (c == "." and sql[j + 1 : j + 2].isdigit()):
            j = self._NUMBER_RE.match(sql, j).end()
        elif c in ('"', "`"):
            j, name = self._find_close(sql, j) + 1, True
        elif c.isalpha() or c in ("_", "$"):
            e = self._WORD_RE.match(sql, j).end()
            word = sql[j:e].lower()
            if word == "case":
                j = self._case_end(sql, j)
                if j is None:
                    return None
            elif word in self._KEYWORDS:
                return None
            else:
                j, name = e, True
        else:
            return None
        while True:  # postfix: calls with their clauses, subscripts, .field
            k = self._ws_right(sql, j)
            nxt = sql[j + 1 : j + 2]
            if name and sql[k : k + 1] == "(" or sql[j : j + 1] == "[":
                close = self._find_close(sql, k)  # k == j before a subscript
                if close < 0:
                    return j
                call = sql[k] == "("
                j = self._window_clause_end(sql, close + 1) if call else close + 1
                if j is None:
                    return None
                name = False
            elif sql[j : j + 1] == "." and nxt and (nxt.isalpha() or nxt in '_"`'):
                if nxt in '"`':
                    j = self._find_close(sql, j + 1) + 1
                else:
                    j = self._WORD_RE.match(sql, j + 1).end()
                name = True
            elif m := self._COLON_CAST_RE.match(sql, k):
                j, name = m.end(), False
            else:
                return j

    def _binary_op_before(self, sql: str, j: int, ops) -> str | None:
        """The operator of ``ops`` ending at sql[j - 1] when it is binary
        (an operand ends before it)."""
        for op in ops:
            s = j - len(op)
            if (
                s > 0
                and sql.startswith(op, s)
                and sql[s - 1] not in self._OP_CHARS
                and self._ends_operand(sql, s)
            ):
                return op
        return None

    def _binary_op_at(self, sql: str, k: int, op: str) -> bool:
        """True when ``op`` starts at sql[k] and is not the head of a
        longer operator."""
        tail = sql[k + len(op) : k + len(op) + 1]
        return sql.startswith(op, k) and not (tail and tail in self._OP_TAIL)

    def _operand_start(self, sql: str, end: int, ops=(), sign=False):
        """Start of the operand ending just before ``end`` (whitespace
        skipped), or None. It extends left through the binary ``ops``
        (longest first) and the unary signs inside that chain; ``sign``
        also takes a unary sign in front of it."""
        start = self._chain_start(sql, end)
        while start is not None:
            j = self._ws_left(sql, start)
            unary = j > 0 and sql[j - 1] in "+-" and not self._ends_operand(sql, j - 1)
            k = self._ws_left(sql, j - 1) if unary else j
            op = self._binary_op_before(sql, k, ops)
            nxt = op and self._chain_start(sql, k - len(op))
            if nxt is None or op is None:
                return j - 1 if unary and sign else start
            start = nxt
        return None

    def _operand_end(self, sql: str, start: int, ops=()):
        """End of the operand starting at ``start`` (whitespace skipped),
        a unary sign that touches it included, or None. It extends
        right through the binary ``ops`` (longest first)."""
        j = self._ws_right(sql, start)
        if sql[j : j + 1] in ("+", "-"):
            j += 1
            if sql[j : j + 1].isspace():
                return None
        end = self._chain_end(sql, j)
        while end is not None:
            k = self._ws_right(sql, end)
            op = next((o for o in ops if self._binary_op_at(sql, k, o)), None)
            nxt = op and self._operand_end(sql, k + len(op))
            if nxt is None or op is None:
                return end
            end = nxt
        return None

    @classmethod
    def _split_top(cls, s: str, sep: str) -> list[str]:
        """Split on a top-level (outside quotes/brackets) separator.
        Word separators (alpha) match case-insensitively with word
        boundaries; others match bare."""
        tok = rf"(?i:(?<!\w){sep}\b)" if sep.isalpha() else re.escape(sep)
        parts, start = [], 0
        for m, depth in cls._code_scan(s, tok):
            if m.lastgroup == "tok" and not depth:
                parts.append(s[start : m.start()])
                start = m.end()
        parts.append(s[start:])
        return parts

    @classmethod
    def _scan_top_level(cls, sql: str, keywords: set[str], start: int = 0):
        """Yield (start, end, word) for top-level keywords outside quotes."""
        for m, depth in cls._code_scan(sql, r"[^\W\d]\w*", start):
            if m.lastgroup == "tok" and not depth and m.group().lower() in keywords:
                yield m.start(), m.end(), m.group().lower()

    @classmethod
    def _finditer_code(cls, pattern: "re.Pattern[str]", sql: str, pos: int = 0, end=None):
        """pattern.finditer skipping matches inside quoted tokens."""
        matches = pattern.finditer(sql, pos, len(sql) if end is None else end)
        return (m for m in matches if not cls._in_literal(sql, m.start()))

    @classmethod
    def _search_code(cls, pattern: "re.Pattern[str]", sql: str, pos: int = 0, end=None):
        """pattern.search skipping matches inside quoted tokens."""
        return next(cls._finditer_code(pattern, sql, pos, end), None)

    @classmethod
    def _sub_code_fn(cls, pattern, fn, sql: str) -> str:
        """pattern.sub with callable ``fn``, skipping quoted tokens."""
        return pattern.sub(
            lambda m: m.group() if cls._in_literal(sql, m.start()) else fn(m), sql
        )

    # -- regexp_replace / regexp_extract argument semantics ---------------

    _REGEXP_REPLACE_RE = re.compile(r"(?i)\bregexp_replace\s*\(")
    _REGEXP_EXTRACT_RE = re.compile(r"(?i)\bregexp_extract(_all)?\s*\(")

    @staticmethod
    def _java_replacement(raw: str, shift: int) -> str:
        """RE2 replacement string → Java: ``\\k`` backrefs become
        ``$(k+shift)``, literal ``$`` and ``\\`` get Java-escaped."""
        out: list[str] = []
        i, n = 0, len(raw)
        while i < n:
            c = raw[i]
            if c == "\\" and i + 1 < n and raw[i + 1].isdigit():
                out.append(f"${int(raw[i + 1]) + shift}")
                i += 2
                continue
            if c == "\\" and i + 1 < n and raw[i + 1] == "\\":
                out.append("\\\\")
                i += 2
                continue
            if c == "$":
                out.append("\\$")
                i += 1
                continue
            if c == "\\":
                out.append("\\\\")
                i += 1
                continue
            out.append(c)
            i += 1
        return "".join(out)

    def _translate_regexp_replace(self, m, args: list[str]) -> str:
        """DuckDB regexp_replace(s, pat, repl[, flags]). DuckDB replaces
        the FIRST match unless flagged 'g', accepts an RE2 flag string, and
        uses \\1 backrefs; Spark always replaces all, has no flag arg, and
        uses $1. Verified vs DuckDB: first-only/no-match/empty-match/
        newline-prefix cases, 'i'/'gi' flags, \\0 whole-match refs, literal
        '$' in replacements."""
        fallback = f"regexp_replace({', '.join(args)})"
        if len(args) not in (3, 4):
            return fallback
        flags = ""
        if len(args) == 4:
            f = self._lit_parse(args[3])
            if f is None or not set(f) <= set("gism"):
                return fallback  # unknown/non-literal flags: pass through
            flags = f
        inline = "".join(ch for ch in "ism" if ch in flags)
        prefix = f"(?{inline})" if inline else ""
        s, pat_lit, repl_lit = args[0], args[1], args[2]
        pat = self._lit_parse(pat_lit)
        repl = self._lit_parse(repl_lit)
        if "g" in flags:
            if repl is not None:
                repl_lit = self._lit_emit(self._java_replacement(repl, 0))
            if pat is not None:
                pat_lit = self._lit_emit(prefix + pat)
            elif prefix:
                pat_lit = f"concat('{prefix}', {pat_lit})"
            return f"regexp_replace({s}, {pat_lit}, {repl_lit})"
        if repl is None:
            return fallback  # can't shift unknown backrefs: replace-all deviation
        repl_lit = self._lit_emit("$1" + self._java_replacement(repl, 2))
        if pat is not None:
            pat_lit = self._lit_emit(f"^((?s:.*?))({prefix}{pat})")
        else:
            pat_lit = f"concat('^((?s:.*?))({prefix}', {pat_lit}, ')')"
        return f"regexp_replace({s}, {pat_lit}, {repl_lit})"

    _REGEXP_MATCHES_RE = re.compile(r"(?i)\bregexp_matches\s*\(")

    def _translate_regexp_matches_flags(self, m, args):
        """3-arg regexp_matches(s, pat, options) — the 2-arg form renames
        1:1 to regexp_like, but Spark's regexp_like has no options arg
        (round-11 wave-6 probe: the 3-arg form was a loud wrong-arity
        error). DuckDB 1.0.0-probed semantics: options apply LAST-WINS
        for 'c'/'i' (matches('abc','B','ci') = true, 'ic' = false);
        'l' is literal partial match ('a.c' matches 'a.c' not 'abc');
        's' is dotall (default dot does NOT cross newlines); 'g' is an
        ERROR ("only valid for regexp_replace"). Translation: 'l' →
        contains() (optionally case-folded — no \\Q\\E fragility);
        otherwise inline (?i)/(?s) prefixes. Murky newline options
        m/n/p and non-literal flag strings stay untranslated (loud
        arity error, never a silent wrong value)."""
        if len(args) != 3:
            return None
        f = self._lit_parse(args[2])
        if f is None:
            return None
        if "g" in f:
            raise UQueryError.sql_error(
                "Option 'g' (global replace) is only valid for regexp_replace"
            )
        if not set(f) <= set("cisl"):
            return None
        s, pat = args[0], args[1]
        ci = next((ch for ch in reversed(f) if ch in "ci"), "c") == "i"
        if "l" in f:
            if ci:
                return f"contains(lower(({s})), lower(({pat})))"
            return f"contains(({s}), ({pat}))"
        prefix = ("(?i)" if ci else "") + ("(?s)" if "s" in f else "")
        p_lit = self._lit_parse(pat)
        if not prefix:
            pat_expr = pat
        elif p_lit is not None:
            pat_expr = self._lit_emit(prefix + p_lit)
        else:
            pat_expr = f"concat('{prefix}', {pat})"
        return f"regexp_like(({s}), {pat_expr})"

    def _translate_regexp_extract(self, m, inner):
        """Two-arg regexp_extract[_all](s, pat) returns the WHOLE match in
        DuckDB (group 0) but group 1 in Spark — pin the default with an
        explicit 0. Calls with an explicit group pass through (same
        numbering in both engines)."""
        parts = self._split_top(inner, ",")
        if len(parts) == 2:
            return f"{m.group(0)}{inner}, 0)"
        if (
            len(parts) == 3
            and not m.group(1)  # regexp_extract only (not _all)
            and re.match(r"(?i)^\s*array\s*\(", parts[2].strip())
        ):
            # batch 28: named-group LIST form returns a STRUCT —
            # regexp_extract(s, pat, ['a','b']) = {'a': g1, 'b': g2}
            # (unmatched optional groups are '' on both engines)
            am = re.match(r"(?i)^\s*array\s*\(", parts[2].strip())
            names_body = parts[2].strip()[am.end() : -1]
            names = [
                self._lit_parse(n.strip())
                for n in self._split_top(names_body, ",")
            ]
            if any(n is None for n in names):
                raise UQueryError.sql_error(
                    "regexp_extract: group names must be string literals"
                )
            s_arg, p_arg = parts[0].strip(), parts[1].strip()
            fields = ", ".join(
                f"'{n}', regexp_extract({s_arg}, {p_arg}, {i + 1})"
                for i, n in enumerate(names)
            )
            return f"named_struct({fields})"
        return f"{m.group(0)}{inner})"

    # -- list_sort / array_to_string argument semantics -------------------

    _LIST_SORT_RE = re.compile(r"(?i)\blist_(reverse_)?sort\s*\(")
    _ARRAY_TO_STRING_RE = re.compile(r"(?i)\barray_to_string\s*\(")

    def _translate_list_sort(self, m, args):
        """DuckDB list_sort(l[, 'ASC'|'DESC'[, 'NULLS FIRST'|'NULLS LAST']])
        and list_reverse_sort(l[, null_order]) → the Spark call with the
        same NULL placement (verified vs DuckDB: NULLs sort LAST in every
        default): ASC→array_sort (nulls last), ASC+NULLS FIRST→sort_array,
        DESC→sort_array(l, false) (nulls last), DESC+NULLS FIRST→
        reverse(array_sort). The old plain rename to sort_array put NULLs
        first ascending and rejected the string direction argument."""
        l = args[0]
        mods = [(self._lit_parse(a) or "").upper() for a in args[1:]]
        if m.group(1):  # list_reverse_sort: direction fixed DESC
            desc, nulls_first = True, "NULLS FIRST" in mods
        else:
            desc = "DESC" in mods
            nulls_first = "NULLS FIRST" in mods
        if desc:
            return f"reverse(array_sort({l}))" if nulls_first else f"sort_array({l}, false)"
        return f"sort_array({l})" if nulls_first else f"array_sort({l})"

    def _translate_array_to_string(self, m, args):
        """array_to_string(l, sep) → array_join guarded for lists with
        no NON-NULL elements: DuckDB yields NULL for [] AND for [NULL]
        (verified batch 16), Spark's array_join yields ''. NULL
        elements are skipped by both when any non-null remains."""
        if len(args) != 2:
            return f"array_join({', '.join(args)})"
        l, sep = args
        # cast elements to STRING: DuckDB stringifies non-VARCHAR lists
        # (array_to_string([1,2], '-') = '1-2'); Spark's array_join
        # rejects non-string arrays (batch-8 sweep)
        le = f"transform(({l}), uq_a2s -> CAST(uq_a2s AS STRING))"
        return (
            f"CASE WHEN size(filter(({l}), uq_ae -> uq_ae IS NOT NULL)) = 0 "
            f"THEN NULL ELSE array_join({le}, {sep}) END"
        )

    # -- round-5 dialect gap-hunt closures (list_aggregate / list_reduce /
    # list_slice / scalar range / format / 3-arg date_diff / bare struct
    # literal) — each found by running common DuckDB idioms through the
    # gateway side-by-side with DuckDB itself. ------------------------------

    _LIST_AGG_RE = re.compile(r"(?i)\blist_(?:aggregate|aggr)\s*\(")
    _LIST_REDUCE_RE = re.compile(r"(?i)\b(?:list|array)_reduce\s*\(")
    _LIST_SLICE_RE = re.compile(r"(?i)\blist_slice\s*\(")
    _RANGE_CALL_RE = re.compile(r"(?i)(?<![\w.])range\s*\(")
    _FORMAT_RE = re.compile(r"(?i)\bformat\s*\(")
    # lookahead, not consumption, for the leading quote: _call_args needs
    # the match to END at '(' for the paren-balance scan.
    _DATE_DIFF3_RE = re.compile(r"(?i)\b(?:date_diff|datediff)\s*\((?=\s*')")
    _STRUCT_LIT_RE = re.compile(r"(?<![\w'}])\{(?=\s*')")

    def _call_args(self, regex, sql, pos=0):
        """(match, close_idx, [args]) for the next non-literal call."""
        m = self._search_code(regex, sql, pos)
        if not m:
            return None
        close = self._find_close(sql, m.end() - 1)
        if close == -1:
            return None
        return m, close, [a.strip() for a in self._split_top(sql[m.end() : close], ",")]

    def _close_of(self, m) -> int:
        """Index of the bracket closing the call ``m`` matched (``m``
        ends at the call's opening bracket)."""
        return self._find_close(m.string, m.end() - 1)

    @staticmethod
    def _one_arg(error: str, emit):
        """A ``_map_calls`` translator for a one-argument call: any other
        arity raises ``error``; else ``emit(m, arg)`` is the replacement."""

        def translate(m, args):
            if len(args) != 1:
                raise UQueryError.sql_error(error)
            return emit(m, args[0])

        return translate

    def _map_calls(self, regex, translate, sql: str, raw: bool = False) -> str:
        """Rewrite every call ``regex`` matches outside string literals
        (the match must end at the call's opening bracket), left to right.

        Each call's arguments are walked first; then ``translate(m,
        args)`` gets the match (``m.string`` is the whole input, so
        context checks see the original text) and the walked, stripped,
        top-level arguments (with ``raw``, the walked argument text as
        written). Its return replaces the call; ``None`` keeps the call
        with its walked arguments; ``(text, end)`` replaces the source
        through index ``end`` (a trailing FILTER/OVER clause). The walk
        resumes after the replaced text, and siblings loop, so the stack
        grows with nesting depth only. An unclosed call ends the walk."""
        if not self._search_code(regex, sql):
            return sql

        def walk(lo: int, hi: int) -> str:
            out, pos = [], lo
            while True:
                m = self._search_code(regex, sql, pos, hi)
                if not m:
                    break
                close = self._find_close(sql, m.end() - 1)
                if close == -1:
                    break
                inner = walk(m.end(), close)
                repl = translate(
                    m, inner if raw else [a.strip() for a in self._split_top(inner, ",")]
                )
                if repl is None:
                    repl = sql[m.start() : m.end()] + inner + sql[close]
                elif isinstance(repl, tuple):
                    repl, close = repl
                out += (sql[pos : m.start()], repl)
                pos = close + 1
            out.append(sql[pos:hi])
            return "".join(out)

        return walk(0, len(sql))

    _LIST_AGG_ALIAS_RE = re.compile(
        r"(?i)\blist_(sem|entropy|stddev_samp|stddev_pop|var_samp|var_pop|"
        r"product|skewness|kurtosis|string_agg|mad)\s*\("
    )

    def _translate_list_agg_aliases(self, m, args):
        """Standalone ``list_<aggregate>`` sugar (round-11 wave-9:
        list_sem/list_product/… were loud UNRESOLVED_ROUTINE) →
        the ``list_aggregate(x, '<fn>')`` spelling the pass below
        translates. Both spellings are DuckDB-equivalent (probed)."""
        if len(args) != 1:
            return None
        return f"list_aggregate({args[0]}, '{m.group(1).lower()}')"

    def _translate_list_aggregate(self, m, args: list[str]) -> str:
        """list_aggregate/list_aggr(l, 'fname') for the common fnames:
        min/max → array_min/max; count → size of non-null filter (BIGINT
        like DuckDB); sum → higher-order fold seeded with first-elem*0
        so the accumulator keeps the ELEMENT type; avg → sum/count in
        DOUBLE. NULL elements are skipped like DuckDB. Unsupported
        fnames raise rather than mistranslate."""
        if len(args) != 2:
            raise UQueryError.sql_error("list_aggregate expects (list, 'function')")
        l = args[0]
        fname = (self._lit_parse(args[1]) or "").lower()
        nn = f"filter(({l}), x -> x IS NOT NULL)"
        # element-typed fold; DECIMAL elements widen per step which
        # Spark's aggregate() rejects (fold-stable type required —
        # fuzzer catch, batch 28) → uq_poly falls back to a DOUBLE
        # fold (documented width deviation, same values)
        sum_expr = (
            f"uq_poly("
            f"aggregate(transform({nn}, uq_dv -> CAST(uq_dv AS DOUBLE)), "
            f"CAST(0 AS DOUBLE), (a, x) -> a + x), "
            f"aggregate({nn}, try_element_at({nn}, 1) * 0, (a, x) -> a + x))"
        )
        count_expr = f"CAST(size({nn}) AS BIGINT)"
        # avg accumulates in DOUBLE from the start (a decimal-element
        # fold can't widen its own accumulator type mid-aggregate)
        avg_sum = (
            f"aggregate({nn}, CAST(try_element_at({nn}, 1) * 0 AS DOUBLE), (a, x) -> a + x)"
        )
        # Round-11 wave-9: the statistics family (list_sem/list_stddev_
        # samp/…/list_aggregate(x, 'skewness')) — independent O(n)
        # moment folds (s1..s4) instead of a mean-inside-the-lambda
        # form (the r7 lambda-invariant O(n²) trap); try_divide gives
        # DuckDB's NULLs at the probed small-n boundaries (var_samp
        # n=1, skewness n≤2 or constant input, kurtosis n≤3, sem n=0 —
        # but sem n=1 is 0.0). Corrected sample estimators mirror the
        # aggregate-level skewness/kurtosis translations.
        dd = f"transform({nn}, uq_dv -> CAST(uq_dv AS DOUBLE))"
        n_d = f"CAST(size({nn}) AS DOUBLE)"
        s1 = f"aggregate({dd}, CAST(0 AS DOUBLE), (a, x) -> a + x)"
        s2 = f"aggregate({dd}, CAST(0 AS DOUBLE), (a, x) -> a + x * x)"
        s3 = f"aggregate({dd}, CAST(0 AS DOUBLE), (a, x) -> a + x * x * x)"
        s4 = f"aggregate({dd}, CAST(0 AS DOUBLE), (a, x) -> a + x * x * x * x)"
        var_pop = (
            f"try_divide(greatest(({s2}) - try_divide(({s1}) * ({s1}), {n_d}),"
            f" CAST(0 AS DOUBLE)), {n_d})"
        )
        var_samp = (
            f"try_divide(greatest(({s2}) - try_divide(({s1}) * ({s1}), {n_d}),"
            f" CAST(0 AS DOUBLE)), {n_d} - 1)"
        )
        mu = f"try_divide(({s1}), {n_d})"
        m2 = f"(try_divide(({s2}), {n_d}) - ({mu}) * ({mu}))"
        m3 = (
            f"(try_divide(({s3}), {n_d}) - 3 * ({mu}) * try_divide(({s2}), {n_d})"
            f" + 2 * pow(({mu}), 3))"
        )
        m4 = (
            f"(try_divide(({s4}), {n_d}) - 4 * ({mu}) * try_divide(({s3}), {n_d})"
            f" + 6 * pow(({mu}), 2) * try_divide(({s2}), {n_d})"
            f" - 3 * pow(({mu}), 4))"
        )
        g1 = f"try_divide(({m3}), pow(greatest(({m2}), CAST(0 AS DOUBLE)), 1.5))"
        skew = (
            f"try_divide(({g1}) * sqrt({n_d} * ({n_d} - 1)), {n_d} - 2)"
        )
        kpe = f"(try_divide(({m4}), pow(({m2}), 2)) - 3)"
        kurt = (
            f"(try_divide({n_d} - 1, ({n_d} - 2) * ({n_d} - 3)) * "
            f"(({n_d} + 1) * ({kpe}) + 6))"
        )
        ent_freqs = (
            f"transform(array_distinct({nn}), uq_ev -> "
            f"CAST(size(filter({nn}, uq_e -> uq_e = uq_ev)) AS DOUBLE))"
        )
        ent = (
            f"(CASE WHEN size({nn}) = 0 THEN CAST(0 AS DOUBLE) ELSE "
            f"-aggregate({ent_freqs}, CAST(0 AS DOUBLE), (a, c) -> "
            f"a + (c / {n_d}) * log2(c / {n_d})) END + 0)"
        )
        med_s = self._median_of("uq_ls")
        mad_devs = "array_sort(transform(uq_ls, uq_mv -> abs(uq_mv - uq_lm)))"
        mad = (
            f"(CASE WHEN size({nn}) = 0 THEN NULL ELSE "
            f"aggregate(array(0), array_sort({dd}), (uq_a1, uq_i1) -> uq_a1, "
            f"uq_ls -> aggregate(array(0), ({med_s}), (uq_a2, uq_i2) -> uq_a2, "
            f"uq_lm -> ({self._median_of(mad_devs)}))) END)"
        )
        # Plain concatenation, NOT str.format: nn embeds user SQL text,
        # and a brace inside a string literal there (e.g.
        # list_product(split('x{y', ','))) made .format raise an
        # uncaught ValueError → 500 instead of the 400 contract (ADVICE
        # r12).
        def empty_null(e: str) -> str:
            return f"CASE WHEN size({nn}) = 0 THEN NULL ELSE {e} END"
        exprs = {
            "min": f"array_min(({l}))",
            "max": f"array_max(({l}))",
            "sum": sum_expr,
            "count": count_expr,
            "avg": f"({avg_sum} / {count_expr})",
            "mean": f"({avg_sum} / {count_expr})",
            "var_pop": var_pop,
            "var_samp": var_samp,
            "variance": var_samp,
            "stddev_pop": f"sqrt({var_pop})",
            "stddev_samp": f"sqrt({var_samp})",
            "stddev": f"sqrt({var_samp})",
            # sem = stddev_pop / sqrt(n): n=1 → 0.0, n=0 → NULL (probed)
            "sem": f"try_divide(sqrt({var_pop}), sqrt({n_d}))",
            "skewness": skew,
            "kurtosis": kurt,
            "product": empty_null(
                f"aggregate({dd}, CAST(1 AS DOUBLE), (a, x) -> a * x)"
            ),
            "entropy": ent,
            "string_agg": (
                f"array_join(transform({nn}, uq_sv -> "
                f"CAST(uq_sv AS STRING)), ',')"
            ),
            "mad": mad,
        }
        if fname not in exprs:
            raise UQueryError.sql_error(
                f"list_aggregate: unsupported function '{fname}' "
                f"(supported: {sorted(exprs)})"
            )
        return exprs[fname]

    _LAM3_RE = re.compile(
        r"^\(\s*(\w+)\s*,\s*(\w+)\s*,\s*(\w+)\s*\)\s*->\s*(.*)$", re.S
    )

    def _translate_list_reduce(self, m, args: list[str]) -> str:
        """list_reduce(l, (a, b) -> …) folds from the FIRST element with
        no initial value → Spark reduce() over the tail seeded with
        element 1 (empty list yields NULL where DuckDB errors —
        documented lenient deviation; lambda syntax is identical).

        Batch 16: the (a, b, i) form — i is the 1-based ITERATION
        counter (DuckDB-verified: list_reduce([1,2,3], (a,b,i) ->
        a+b*i) = 9, so i=1 when b is element 2) → the tail is zipped
        with sequence(1, n-1) into structs and the body's b/i
        references rebind to the struct fields (lambda params shadow
        outer names, so whole-word substitution outside literals is
        exact). Single-element lists skip the fold (zip_with pads with
        NULLs otherwise)."""
        if len(args) != 2:
            raise UQueryError.sql_error("list_reduce expects (list, lambda)")
        l, lam = args
        m3 = self._LAM3_RE.match(lam)
        if m3:
            acc, elem, idx, body = m3.groups()
            for name, repl_f in ((elem, "uq_zs.uq_ze"), (idx, "uq_zs.uq_zi")):
                word = re.compile(rf"\b{re.escape(name)}\b")
                body = self._sub_code_fn(word, lambda _m, r=repl_f: r, body)
            zipped = (
                f"zip_with(slice(({l}), 2, size(({l})) - 1), "
                f"sequence(1, size(({l})) - 1), "
                f"(uq_ze, uq_zi) -> struct(uq_ze AS uq_ze, uq_zi AS uq_zi))"
            )
            return (
                f"(CASE WHEN size(({l})) <= 1 THEN try_element_at(({l}), 1) "
                f"ELSE aggregate({zipped}, try_element_at(({l}), 1), "
                f"({acc}, uq_zs) -> ({body})) END)"
            )
        return (
            f"reduce(slice(({l}), 2, greatest(size(({l})) - 1, 0)), "
            f"try_element_at(({l}), 1), {lam})"
        )

    def _translate_list_slice(self, m, args):
        """list_slice(l, a, b) — 1-based INCLUSIVE bounds → slice(l, a,
        b - a + 1). Positive indices only (negatives are served by the
        bracket syntax l[a:b], which handles them). The 4-arg STEP form
        (r13 wave-15 — previously a loud wrong-arity error) delegates
        to the bracket form l[a:b:s] via _translate_array_slice_fn
        (which runs BEFORE the bracket pass), inheriting its
        negative-step and index handling; DuckDB itself rejects
        string+step, so the string-polymorphic path there is
        permissive-only."""
        if len(args) != 3:
            raise UQueryError.sql_error(
                "list_slice expects (list, begin, end[, step])"
            )
        l, a, b = args
        return f"slice(({l}), ({a}), ({b}) - ({a}) + 1)"

    @staticmethod
    def _series_sql(a: str, b: str, s: str, inclusive: bool) -> str:
        """DuckDB range() (stop EXCLUSIVE) and generate_series() (stop
        inclusive): start inclusive, empty when the step doesn't move
        toward stop, NULL when an argument is — vs Spark sequence()'s
        inclusive stop and auto-negative step. The elements take the
        arguments' type. Each argument is evaluated once (bound in a
        one-element transform), so the ones that need a probe to
        translate (len(), //, subscripts) are probed once."""
        up, down = ("<=", ">=") if inclusive else ("<", ">")
        stop = ("", "") if inclusive else (" - 1", " + 1")
        return (
            f"element_at(transform(array(named_struct('a', {a}, 'b', {b}, 's', {s})), "
            f"uq_sr -> CASE WHEN uq_sr.s > 0 AND uq_sr.a {up} uq_sr.b "
            f"THEN sequence(uq_sr.a, uq_sr.b{stop[0]}, uq_sr.s) "
            f"WHEN uq_sr.s < 0 AND uq_sr.a {down} uq_sr.b "
            f"THEN sequence(uq_sr.a, uq_sr.b{stop[1]}, uq_sr.s) "
            f"WHEN uq_sr.a IS NULL OR uq_sr.b IS NULL OR uq_sr.s IS NULL THEN NULL "
            f"ELSE array() END), 1)"
        )

    def _translate_range_calls(self, m, args):
        """Scalar/FROM-position range(…) → guarded sequence() (exclusive
        stop, direction-checked step). FROM range(n) exposes the DuckDB
        column name ``range``."""
        # window frames (`RANGE BETWEEN …`) have no '(' right after
        # RANGE, so any match here is the function form.
        if len(args) == 1:
            a, b, s = "0", args[0], "1"
        elif len(args) == 2:
            a, b, s = args[0], args[1], "1"
        elif len(args) == 3:
            a, b, s = args
        else:
            return None
        if re.search(r"(?i)\binterval\b", s):
            # temporal range (batch-13): DuckDB's stop stays EXCLUSIVE
            # and the result is TIMESTAMP even for DATE bounds;
            # sequence() is inclusive → drop a stop-equal last element.
            # Positive-interval steps only (the DuckDB-common form).
            bt = f"CAST(({b}) AS TIMESTAMP)"
            seq = (
                f"filter(sequence(CAST(({a}) AS TIMESTAMP), {bt}, ({s})), "
                f"uq_rg -> uq_rg <> {bt})"
            )
        else:
            seq = self._series_sql(*(f"CAST(({x}) AS BIGINT)" for x in (a, b, s)), False)
        if re.search(r"(?is)\b(from|join)\s*$", m.string[: m.start()]):
            return f"(SELECT explode({seq}) AS range)"
        return seq

    _FMT_SPEC_RE = re.compile(
        r"^(?:(?P<fill>.)?(?P<align>[<>^]))?(?P<sign>[+ ]?)(?P<alt>#?)"
        r"(?P<zero>0?)(?P<width>\d*)(?P<comma>,?)(?:\.(?P<prec>\d+))?"
        r"(?P<typ>[a-zA-Z%]?)$"
    )

    def _fmt_spec_to_pct(self, body: str):
        """fmt format-spec → (java %-spec-sans-%, cast_type, wrap) —
        batch 28 extended the plain-{} translation to the spec
        mini-language. Raises on forms where C++ fmt and Java's
        Formatter disagree (center align, %g, custom fills, {:%}) —
        translate-or-raise, never mistranslate."""
        sm = self._FMT_SPEC_RE.match(body)
        if not sm:
            raise UQueryError.sql_error(
                f"format(): unsupported placeholder '{{:{body}}}'"
            )
        fill, align = sm.group("fill"), sm.group("align")
        sign, alt, zero = sm.group("sign"), sm.group("alt"), sm.group("zero")
        width, comma, prec = sm.group("width"), sm.group("comma"), sm.group("prec")
        typ = sm.group("typ")
        if fill not in (None, "", " ") or align == "^":
            raise UQueryError.sql_error(
                "format(): custom fills and center alignment are not supported"
            )
        if typ in ("g", "G", "%"):
            raise UQueryError.sql_error(
                f"format(): '{typ}' — C++ fmt and Java formatting disagree"
            )
        flags = ("-" if align == "<" else "") + sign + alt + zero + (comma or "")
        cast, wrap = None, None
        if typ in ("d",):
            cast = "BIGINT"
        elif typ in ("x", "X", "o"):
            cast = "BIGINT"
        elif typ in ("f", "F", "e", "E"):
            cast = "DOUBLE"
        elif typ == "b":
            # Java %b is boolean — binary renders via conv(); width
            # handled by the %s width, zero-padding via lpad
            wrap = "lower(conv(CAST(({a}) AS BIGINT), 10, 2))"
            if zero and width:
                wrap = f"lpad({wrap}, {int(width)}, '0')"
                width, flags = "", flags.replace("0", "")
            typ = "s"
        elif typ == "" and comma:
            # {:,} — grouping implies a numeric: fmt's int default
            typ, cast = "d", "BIGINT"
        elif typ in ("s", ""):
            if typ == "" and width and not align:
                raise UQueryError.sql_error(
                    "format(): width without a type or alignment is "
                    "ambiguous (fmt aligns strings left, numbers right) — "
                    "add '<'/'>' or a type"
                )
            if typ == "" and align:
                # {:>6} renders via Java %s which stringifies numbers
                # differently from C++ fmt ('1.0' vs '1') — only a
                # provably-string argument may pass through (sentinel
                # validated per-argument in consume())
                cast = "UQ_REQUIRE_STRING"
            typ = "s"
        else:
            raise UQueryError.sql_error(
                f"format(): unsupported type '{typ}'"
            )
        prec_s = f".{prec}" if prec is not None else ""
        return f"{flags}{width}{prec_s}{typ}", cast, wrap

    def _translate_format(self, m, args: list[str]) -> str:
        """format('…{}…', args) (fmt.format-style braces) →
        format_string: `{}` → `%s`, `{k}` → positional, `{{`/`}}` →
        literal braces, and (batch 28) the format-spec mini-language
        ({:.2f}, {:>6}, {:06.1f}, {:x}, {:,}, {:+.1f}, {:o}, {:e},
        {:b} via conv) with spec-driven argument casts. Only literal
        format strings translate; fmt/Java disagreements raise."""
        fmt = self._lit_parse(args[0])
        if fmt is None:
            raise UQueryError.sql_error("format() requires a literal format string")
        vals = args[1:]
        casts: dict[int, str] = {}
        wraps: dict[int, str] = {}

        _STRY_RE = re.compile(
            r"(?is)^\s*(?:uq_poly\s*\(\s*)?"
            r"(?:upper|lower|trim|ltrim|rtrim|btrim|concat|concat_ws"
            r"|substr|substring|left|right|repeat|reverse|lpad|rpad|replace"
            r"|format_string|printf|regexp_replace|translate|chr|typeof)\s*\("
        )
        _STRCAST_RE = re.compile(
            r"(?is)^\s*(?:try_)?cast\s*\(.*\bas\s+(?:string|varchar|text|char)\b"
        )
        # upper/lower arrive as the batch-28 ASCII-guard CASE hybrid
        _STRHYBRID_RE = re.compile(
            r"(?is)^\s*\(?\s*case\s+when\b.*\buq_(?:upper|lower)_simple\s*\("
        )
        # bare (possibly qualified / quoted) column reference
        _BAREID_RE = re.compile(
            r'(?s)^\s*(?:[A-Za-z_]\w*|"[^"]+"|`[^`]+`)'
            r'(?:\.(?:[A-Za-z_]\w*|"[^"]+"|`[^`]+`))*\s*$'
        )

        def consume(k: int, cast, wrap):
            if k >= len(vals):
                raise UQueryError.sql_error(
                    "format(): more placeholders than arguments"
                )
            if cast == "UQ_REQUIRE_STRING":
                v = vals[k]
                if (
                    self._lit_parse(v.strip()) is None
                    and not _STRY_RE.match(v)
                    and not _STRCAST_RE.match(v)
                    and not _STRHYBRID_RE.match(v)
                ):
                    if _BAREID_RE.match(v):
                        # ADVICE r7: a plain column reference — Java %s
                        # and fmt agree exactly for STRING inputs, so
                        # accept it behind a runtime type dispatch
                        # (typeof is constant per column); a non-string
                        # column raises at execution instead of
                        # silently diverging ('1.0' vs fmt's '1').
                        wraps[k] = (
                            "(CASE WHEN typeof({a}) = 'string' THEN {a} "
                            "ELSE raise_error(CONCAT('format(): aligned "
                            "placeholder without a type requires a string "
                            "argument, got ', typeof({a}), ' — add an "
                            "explicit type or CAST(x AS STRING)')) END)"
                        )
                        return
                    raise UQueryError.sql_error(
                        "format(): aligned placeholder without a type "
                        "renders via Java %s, which stringifies numbers "
                        "differently from C++ fmt ('1.0' vs '1') — add an "
                        "explicit type, CAST(x AS STRING), or pass a "
                        "string expression"
                    )
                cast = None
            if cast:
                if casts.get(k, cast) != cast:
                    raise UQueryError.sql_error(
                        "format(): conflicting specs for one argument"
                    )
                casts[k] = cast
            if wrap:
                if k in wraps and wraps[k] != wrap:
                    raise UQueryError.sql_error(
                        "format(): conflicting specs for one argument"
                    )
                wraps[k] = wrap

        out, i, n = [], 0, len(fmt)
        auto = 0
        while i < n:
            c = fmt[i]
            if c == "{":
                if fmt[i : i + 2] == "{{":
                    out.append("{")
                    i += 2
                    continue
                j = fmt.find("}", i)
                if j == -1:
                    raise UQueryError.sql_error("format(): unbalanced '{' in format string")
                spec = fmt[i + 1 : j]
                argnum, _, body = spec.partition(":")
                if ":" not in spec:
                    argnum, body = spec, ""
                if body:
                    pct, cast, wrap = self._fmt_spec_to_pct(body)
                else:
                    pct, cast, wrap = "s", None, None
                if argnum == "":
                    consume(auto, cast, wrap)
                    out.append(f"%{pct}")
                    auto += 1
                elif argnum.isdigit():
                    consume(int(argnum), cast, wrap)
                    out.append(f"%{int(argnum) + 1}${pct}")
                else:
                    raise UQueryError.sql_error(
                        f"format(): unsupported placeholder '{{{spec}}}'"
                    )
                i = j + 1
            elif fmt[i : i + 2] == "}}":
                out.append("}")
                i += 2
            elif c == "%":
                out.append("%%")
                i += 1
            else:
                out.append(c)
                i += 1
        lit = "'" + "".join(out).replace("'", "''") + "'"
        final_args = []
        for k, v in enumerate(vals):
            if k in wraps:
                final_args.append(wraps[k].format(a=v))
            elif k in casts:
                final_args.append(f"CAST(({v}) AS {casts[k]})")
            else:
                final_args.append(v)
        rest = "".join(f", {a}" for a in final_args)
        return f"format_string({lit}{rest})"

    _DATE_DIFF_UNITS = {
        "day": "CAST(datediff(CAST(({b}) AS DATE), CAST(({a}) AS DATE)) AS BIGINT)",
        "week": (
            "CAST(datediff(date_trunc('WEEK', ({b})), date_trunc('WEEK', ({a}))) div 7 AS BIGINT)"
        ),
        "month": (
            "CAST((year(({b})) * 12 + month(({b}))) - (year(({a})) * 12 + month(({a}))) AS BIGINT)"
        ),
        "quarter": (
            "CAST((year(({b})) * 4 + quarter(({b}))) - (year(({a})) * 4 + quarter(({a}))) AS BIGINT)"
        ),
        "year": "CAST(year(({b})) - year(({a})) AS BIGINT)",
        "hour": (
            "CAST((unix_timestamp(date_trunc('HOUR', CAST(({b}) AS TIMESTAMP))) - "
            "unix_timestamp(date_trunc('HOUR', CAST(({a}) AS TIMESTAMP)))) div 3600 AS BIGINT)"
        ),
        "minute": (
            "CAST((unix_timestamp(date_trunc('MINUTE', CAST(({b}) AS TIMESTAMP))) - "
            "unix_timestamp(date_trunc('MINUTE', CAST(({a}) AS TIMESTAMP)))) div 60 AS BIGINT)"
        ),
        "second": (
            "CAST(unix_timestamp(CAST(({b}) AS TIMESTAMP)) - "
            "unix_timestamp(CAST(({a}) AS TIMESTAMP)) AS BIGINT)"
        ),
    }

    def _translate_date_diff(self, m, args):
        """DuckDB 3-arg date_diff('unit', a, b) counts unit-BOUNDARY
        crossings; Spark's date_diff/timestampdiff count COMPLETE units
        (Jan 31 → Feb 1 is month-diff 1 in DuckDB, 0 in Spark). Each
        unit maps to explicit truncate-then-diff arithmetic. 2-arg
        Spark-style datediff has no leading string literal and is left
        untouched."""
        if len(args) != 3:
            raise UQueryError.sql_error("date_diff('unit', start, end) expects 3 args")
        unit = (self._lit_parse(args[0]) or "").lower().rstrip("s")
        unit = {"min": "minute", "sec": "second", "mon": "month", "yr": "year"}.get(unit, unit)
        template = self._DATE_DIFF_UNITS.get(unit)
        if template is None:
            raise UQueryError.sql_error(
                f"date_diff: unsupported unit '{unit}' "
                f"(supported: {sorted(self._DATE_DIFF_UNITS)})"
            )
        return template.format(a=args[1], b=args[2])

    def _translate_struct_literal(self, m, inner):
        """Bare DuckDB struct literal ``{'k': v, …}`` → named_struct
        ('k', v, …); a brace starting with a quoted key is unambiguous
        in SQL text."""
        return f"named_struct({self._brace_entries(inner)})"

    # -- sweep batch 2: datetime epochs / names, quantiles, product,
    # time_bucket ---------------------------------------------------------

    _DAYNAME_RE = re.compile(r"(?i)\b(day|month)name\s*\(")
    _EPOCH_RE = re.compile(r"(?i)\bepoch(_ms|_us|_ns)?\s*\(")
    _QUANTILE_RE = re.compile(r"(?i)\bquantile(_cont|_disc)?\s*\(")
    _PRODUCT_RE = re.compile(r"(?i)\bproduct\s*\(")
    _TIME_BUCKET_RE = re.compile(r"(?i)\btime_bucket\s*\(")
    _INTERVAL_LIT_RE = re.compile(r"(?i)^\s*interval\s+'?(\d+)'?\s+(\w+?)s?\s*$")
    _BUCKET_MS = {"second": 1000, "minute": 60_000, "hour": 3_600_000, "day": 86_400_000}

    def _translate_dayname(self, m, args):
        """dayname/monthname → date_format full names (Spark's own
        dayname() returns the ABBREVIATED name — 'Mon' vs 'Monday')."""
        return f"date_format(({args[0]}), '{'EEEE' if m.group(1).lower() == 'day' else 'MMMM'}')"

    def _translate_epoch(self, m, args: list[str]) -> str:
        """epoch(ts) → fractional seconds as DOUBLE (DuckDB keeps the
        microsecond fraction — bare unix_timestamp truncates); epoch_ms /
        epoch_us → unix_millis / unix_micros (BIGINT in both engines).

        Batch 17: epoch_ms is POLYMORPHIC in DuckDB — with a BIGINT
        argument it CONSTRUCTS a timestamp from epoch-milliseconds
        (the old timestamp-only reading silently returned the µs count
        instead — the sweep's worst class). Emitted as a uq_poly
        marker: the late LIMIT-0 probe picks timestamp_millis(x) iff
        the argument is integral (Spark's timestamp_millis rejects
        STRING and TIMESTAMP outright, so the dispatch is unambiguous),
        else the extraction form."""
        x = args[0]
        ts = f"CAST(({x}) AS TIMESTAMP)"
        suffix = (m.group(1) or "").lower()
        # round 8: epoch(TIME) = seconds since midnight — the TIME type
        # admits no TIMESTAMP cast, so that operand class rides a
        # '1970-01-01 ' string prefix (probe-dispatched; fraction
        # survives via the canonical TIME string form)
        t_ts = (
            f"CAST(CONCAT('1970-01-01 ', CAST(({x}) AS STRING)) AS TIMESTAMP)"
        )
        return {
            # marker semantics: uq_poly(fallback, preferred) — the
            # SECOND arm wins when it analyzes, so the native timestamp
            # form sits second and the TIME detour first
            "": (
                f"uq_poly(CAST(unix_micros({t_ts}) / 1000000.0 AS DOUBLE), "
                f"CAST(unix_micros({ts}) / 1000000.0 AS DOUBLE))"
            ),
            "_ms": f"uq_poly(unix_millis({ts}), timestamp_millis(({x})))",
            "_us": f"unix_micros({ts})",
            "_ns": f"(unix_micros({ts}) * 1000)",
        }[suffix]

    _IGN_NULLS_FN_RE = re.compile(
        r"(?i)\b(first_value|last_value|nth_value|lead|lag|any_value)\s*\("
    )
    _IGN_NULLS_TAIL_RE = re.compile(r"(?i)\b(ignore|respect)\s+nulls\s*$")

    def _translate_ignore_nulls_arg(self, m, args):
        """DuckDB puts IGNORE/RESPECT NULLS INSIDE the call's argument
        list — first_value(v IGNORE NULLS), nth_value(v, 2 IGNORE
        NULLS) — and rejects the postfix placement; Spark is exactly
        the opposite (round-11 wave-7 probe: every arg-internal form
        was a loud parse error). Relocate the keyword outside the
        closing paren; argument text is otherwise untouched."""
        tm = self._IGN_NULLS_TAIL_RE.search(args[-1])
        if not tm:
            return None
        args[-1] = args[-1][: tm.start()].rstrip()
        return m.group(0) + ", ".join(args) + f") {tm.group(1).upper()} NULLS"

    @staticmethod
    def _ordered_spec(over: str | None) -> bool:
        """True when a window spec carries ORDER BY or an explicit
        frame — the shapes Spark's percentile/median window rejects
        (INVALID_WINDOW_SPEC_FOR_AGGREGATION_FUNC)."""
        return bool(
            over
            and re.search(r"(?i)\border\s+by\b|\brows\b|\brange\b|\bgroups\b", over)
        )

    _MEDIAN_RE = re.compile(r"(?i)\bmedian\s*\(")

    def _rewrite_ordered_window_percentiles(self, sql: str) -> str:
        """median / quantile_cont / quantile_disc / quantile OVER an
        ORDER BY (or framed) window — DuckDB computes running
        percentiles; Spark's percentile family rejects the spec
        outright (round-11 wave-7 probe: loud
        INVALID_WINDOW_SPEC_FOR_AGGREGATION_FUNC). Translation: ONE
        collect_list over the same spec, array_sort, then the
        DuckDB-probed index rules — median interpolates ((lo+hi)/2 on
        even counts), quantile_cont at idx = q·(n−1) interpolating
        between floor/ceil neighbours (probed: quantile_cont(0.25) on
        [10,20,30,40] = 17.5), quantile_disc at floor(q·(n−1))+1
        (probed 0.5 → lower of two). FILTER folds into the collected
        argument (NULLs vanish from collect_list exactly like DuckDB's
        NULL-skipping percentiles). Values compute in DOUBLE — the
        same documented width/decimal-discreteness deviation as the
        aggregate median path; non-numeric args fail loudly at the
        `* 1.0` guard rather than silently casting. Partition-only
        specs fall through to the native/WITHIN GROUP paths below."""
        for regex, kind in (
            (self._MEDIAN_RE, "median"),
            (self._QUANTILE_RE, "quantile"),
        ):
            sql = self._map_calls(
                regex, lambda m, a, k=kind: self._translate_window_percentile(m, a, k), sql
            )
        return sql

    def _translate_window_percentile(self, m, args: list[str], kind: str):
        filt, over, endpos = self._nested_agg_over(m.string, self._close_of(m), kind)
        if not self._ordered_spec(over):
            return None
        if re.match(r"(?i)^\s*distinct\b", args[0]):
            raise UQueryError.sql_error(
                "quantile/median with DISTINCT is not supported"
            )
        x = args[0]
        if filt is not None:
            x = f"CASE WHEN {filt} THEN ({x}) END"
        if kind == "median":
            if len(args) != 1:
                raise UQueryError.sql_error("median expects 1 argument")
            q = None
        else:
            if len(args) != 2:
                raise UQueryError.sql_error(
                    "quantile*: only the (expr, scalar_quantile) form is supported"
                )
            q = args[1]
        cl = (
            f"array_sort(collect_list(CAST((({x}) * 1.0) AS DOUBLE)) "
            f"OVER {over})"
        )
        if kind == "median":
            body = self._median_of("uq_qw")
        elif (m.group(1) or "_disc").lower() == "_cont":
            idx = f"(({q}) * (size(uq_qw) - 1))"
            lo = f"CAST(floor({idx}) AS INT)"
            body = (
                f"CASE WHEN {idx} = floor({idx}) "
                f"THEN try_element_at(uq_qw, {lo} + 1) "
                f"ELSE try_element_at(uq_qw, {lo} + 1) "
                f"+ (try_element_at(uq_qw, {lo} + 2) "
                f"- try_element_at(uq_qw, {lo} + 1)) "
                f"* ({idx} - floor({idx})) END"
            )
        else:
            # disc rule: smallest index i with i/n >= q, i.e.
            # max(1, ceil(q*n)) — probed on seven (n, q) pairs
            # incl. the n=3, q=0.75 case that falsified a
            # floor(q*(n-1))+1 draft
            body = (
                f"try_element_at(uq_qw, greatest(1, "
                f"CAST(ceil(({q}) * size(uq_qw)) AS INT)))"
            )
        # LET-bind the sorted list once (the r7 lambda-invariant
        # lesson): zero and finish lambdas each evaluate once.
        repl = (
            f"(aggregate(array(0), {cl}, (uq_qa, uq_qi) -> uq_qa, "
            f"uq_qw -> CASE WHEN size(uq_qw) = 0 THEN NULL "
            f"ELSE ({body}) END))"
        )
        return repl, endpos

    def _translate_quantile(self, m, args: list[str]) -> str:
        """quantile_cont/quantile_disc/quantile(x, q) → Spark's ordered-
        set percentile_cont/percentile_disc (bare quantile is DISC in
        DuckDB). List-of-quantiles forms are not translated (array
        result would violate the scalar-column convention anyway)."""
        if len(args) != 2:
            raise UQueryError.sql_error(
                "quantile*: only the (expr, scalar_quantile) form is supported"
            )
        kind = (m.group(1) or "_disc").lower()
        if re.match(r"(?i)^\s*distinct\b", args[0]):
            # translate-or-raise (round 8): WITHIN GROUP admits no
            # DISTINCT in Spark, and DuckDB's own median/quantile
            # DISTINCT semantics are surprising (probed: median
            # DISTINCT appears to ignore the qualifier) — raise rather
            # than ship a garbled ORDER BY (DISTINCT x) to Catalyst
            raise UQueryError.sql_error(
                "quantile/median with DISTINCT is not supported"
            )
        fn = "percentile_cont" if kind == "_cont" else "percentile_disc"
        return f"{fn}({args[1]}) WITHIN GROUP (ORDER BY ({args[0]}))"

    def _translate_product(self, m, args):
        """product(x) aggregate → sequential double fold over ONE
        collect_list (Spark has no product aggregate; DOUBLE result
        like DuckDB). The original exp(sum(ln|x|)) form carried ~1e-15
        RELATIVE error — exact-valued integer products past ~1e6 broke
        the 9-decimal compare (round-9 agg fuzzer, seed 2026:
        762048 vs 762047.9999999984) — and returned +0.0 where DuckDB's
        sequential multiply gives -0.0 for a zero with an odd negative
        count. The fold is bit-exact for integer products < 2^53 and
        reproduces the signed zero. NULLs skip via collect_list;
        empty/all-NULL → NULL; FILTER CASE-folds; OVER rides the
        collect.

        Memory bound (round-10 ADVICE, documented trade): collect_list
        makes per-group memory O(group size) — unlike the constant-
        memory exp(sum(ln|x|)) form this replaced, a pathological
        single-group product over billions of rows pressures one
        executor. Exactness won: product() is a reporting aggregate
        over grouped data in every reference/test workload, and the
        log-space form returned visibly wrong integers (round-9
        fuzzer). The list is array_sort-ed before the fold so float
        products are deterministic run-to-run (collection order varies
        with partitioning; the sign and integer-exact results are
        order-independent, so sorting cannot change them)."""
        filt, over, endpos = self._nested_agg_over(m.string, self._close_of(m), "product")
        osuf = f" OVER {over}" if over else ""
        x = args[0]
        if filt is not None:
            x = f"CASE WHEN {filt} THEN ({x}) END"
        cl = f"array_sort(collect_list(CAST(({x}) AS DOUBLE)){osuf})"
        repl = (
            f"(CASE WHEN size({cl}) = 0 THEN CAST(NULL AS DOUBLE) "
            f"ELSE aggregate({cl}, CAST(1 AS DOUBLE), "
            f"(uq_pa, uq_px) -> uq_pa * uq_px) END)"
        )
        return repl, endpos

    def _translate_time_bucket(self, m, args):
        """time_bucket(INTERVAL n unit, ts) → epoch-aligned floor
        (timestamp_millis of unix_millis div width). Sub-week units only:
        they are origin-independent, while DuckDB aligns week+ buckets to
        2000-01-03 — raise rather than mis-bucket those."""
        if len(args) != 2:
            raise UQueryError.sql_error("time_bucket expects (INTERVAL, ts)")
        im = self._INTERVAL_LIT_RE.match(args[0])
        unit_ms = im and self._BUCKET_MS.get(im.group(2).lower())
        if not unit_ms:
            raise UQueryError.sql_error(
                f"time_bucket: unsupported width '{args[0]}' "
                "(literal INTERVAL n second/minute/hour/day only)"
            )
        w = int(im.group(1)) * unit_ms
        ts = f"CAST(({args[1]}) AS TIMESTAMP)"
        return f"timestamp_millis((unix_millis({ts}) div {w}) * {w})"

    # -- sweep batch 4: JSON extraction, ISO-week datetimes, interval
    # constructors --------------------------------------------------------

    _JSON_EXTRACT_RE = re.compile(r"(?i)\bjson_extract(_string|_path_text)?\s*\(")
    _JSON_VALID_RE = re.compile(r"(?i)\bjson_valid\s*\(")
    _ISO_DT_RE = re.compile(
        r"(?i)\b(isodow|yearweek|century|week|decade|millennium)\s*\("
    )
    _TO_INTERVAL_RE = re.compile(
        r"(?i)\bto_(years|months|weeks|days|hours|minutes|seconds"
        r"|milliseconds|microseconds|decades|centuries|millennia|quarters)\s*\("
    )
    _MAKE_INTERVAL_SLOT = {
        "years": 0, "months": 1, "weeks": 2, "days": 3,
        "hours": 4, "minutes": 5, "seconds": 6,
    }

    def _translate_json_extract(self, m, args: list[str]) -> str:
        """json_extract(j, p) → to_json(variant_get(parse_json(j), p)) —
        EXACT DuckDB semantics incl. JSON string quoting ('"x"' for
        strings, bare 7 for numbers); json_extract_string /
        json_extract_path_text → get_json_object (raw text). A literal
        JSONPointer path ('/a/b') converts to $-path."""
        if len(args) != 2:
            raise UQueryError.sql_error("json_extract expects (json, path)")
        j, p = args
        # round 11 (wave-8): a LIST of paths returns a LIST of
        # extractions ([$.a, $.b] → ['1', '2'] — DuckDB-probed). The
        # bracket pass has usually rewritten the literal to array(…)
        # by now; accept both spellings.
        plist = re.match(r"^\s*\[(.*)\]\s*$", p, re.S) or re.match(
            r"(?i)^\s*array\s*\((.*)\)\s*$", p, re.S
        )
        fe_udf = "uq_json_extract_fe_str" if m.group(1) else "uq_json_extract_fe"

        def _fe_path(expr: str) -> bool:
            el = self._lit_parse(expr)
            if el is not None and "[#-" in el:
                from .functions.parity_udfs import register_parity_udfs

                register_parity_udfs(self.spark)
                return True
            return False

        if plist:
            elems = self._split_top(plist.group(1), ",")
            fn = "get_json_object(({j}), {p})" if m.group(1) else \
                "nullif(to_json(variant_get(parse_json(({j})), {p})), 'null')"
            parts = ", ".join(
                f"{fe_udf}(CAST(({j}) AS STRING), {e.strip()})"
                if _fe_path(e.strip())
                else fn.format(j=j, p=e.strip())
                for e in elems
                if e.strip()
            )
            return f"array({parts})"
        lit = self._lit_parse(p)
        if lit is not None and lit.startswith("/"):
            # JSONPointer '/a/b' → JSONPath '$.a.b' (object keys only)
            p = "'$" + ".".join(lit.split("/")).rstrip(".") + "'"
        if _fe_path(p):
            # DuckDB [#-n] from-end index (round 12 — was a documented
            # loud error): Spark's path engines reject it → exact-
            # semantics UDF walk (uq_json_extract_fe; probed: [#-0] is
            # the FIRST element, out-of-range and JSON null → NULL)
            return f"{fe_udf}(CAST(({j}) AS STRING), {p})"
        if m.group(1):  # _string / _path_text: raw text extraction
            return f"get_json_object(({j}), {p})"
        # nullif: a JSON null VALUE extracts to SQL NULL like DuckDB
        # (probed IS NULL = true; round 12 — the bare to_json
        # rendered 'null' text, a silent wrong value; a JSON STRING
        # "null" renders quoted, so it is untouched)
        return f"nullif(to_json(variant_get(parse_json(({j})), {p})), 'null')"

    _JSON_ARR_LEN_RE = re.compile(r"(?i)\bjson_array_length\s*\(")

    def _translate_json_array_length(self, m, args):
        """json_array_length, both arities, DuckDB-probed semantics the
        jsonfz axis caught Spark's builtin silently missing (round 12):
        a VALID non-array document (or a found non-array path) counts
        as 0 — Spark returns NULL; malformed JSON ERRORS (Spark: NULL)
        — parse_json() in the guard restores the loud error; SQL NULL
        and a missing/json-null path stay NULL. 2-arg counts the array
        AT the path (round-11 wave-8); a [#-n] from-end path routes
        through the UDF walk like json_extract."""
        if len(args) not in (1, 2) or not args[0].strip():
            return None
        j = args[0]
        # NB: `parse_json(j) IS NULL` would NOT restore the loud
        # malformed error — parse_json is null-intolerant, so the
        # optimizer collapses the IsNull to `j IS NULL` without
        # ever parsing; a >= comparison over its length survives
        # optimization and forces the parse (raising like DuckDB).
        parse_0 = f"IF(length(to_json(parse_json(({j})))) >= 0, 0, 0)"
        if len(args) == 1:
            return (
                f"(CASE WHEN ({j}) IS NULL THEN CAST(NULL AS INT) "
                f"ELSE coalesce(json_array_length(({j})), {parse_0}) END)"
            )
        plit = self._lit_parse(args[1].strip())
        if plit is not None and "[#-" in plit:
            from .functions.parity_udfs import register_parity_udfs

            register_parity_udfs(self.spark)
            inner = f"uq_json_extract_fe(CAST(({j}) AS STRING), {args[1]})"
        else:
            inner = f"get_json_object(({j}), {args[1]})"
        return (
            f"(CASE WHEN ({j}) IS NULL THEN CAST(NULL AS INT) "
            f"WHEN ({inner}) IS NULL THEN nullif({parse_0}, 0) "
            f"ELSE coalesce(json_array_length({inner}), {parse_0}) END)"
        )

    def _translate_json_valid(self, m, args):
        return f"(try_parse_json(({args[0]})) IS NOT NULL)"

    def _translate_iso_datetime(self, m, args: list[str]) -> str:
        """ISO-week family: isodow (Mon=1..Sun=7), week (ISO week),
        yearweek (ISO year*100 + week), century — each as explicit
        arithmetic over Spark's dayofweek/weekofyear/YEAROFWEEK."""
        d = f"CAST(({args[0]}) AS DATE)"
        return {
            "isodow": f"CAST(pmod(dayofweek({d}) + 5, 7) + 1 AS BIGINT)",
            "week": f"CAST(weekofyear({d}) AS BIGINT)",
            "yearweek": (
                f"CAST(extract(YEAROFWEEK FROM {d}) * 100 + weekofyear({d}) AS BIGINT)"
            ),
            "century": f"CAST(ceil(year({d}) / 100.0) AS BIGINT)",
            # batch 17: decade = floor(year/10); millennium counts like
            # century (1994 -> 2, 2000 -> 2, 2001 -> 3 — verified)
            "decade": f"CAST(floor(year({d}) / 10.0) AS BIGINT)",
            "millennium": f"CAST(ceil(year({d}) / 1000.0) AS BIGINT)",
        }[m.group(1).lower()]

    def _translate_to_interval(self, m, args: list[str]) -> str:
        """to_days/to_hours/… interval constructors → make_interval with
        the value in the matching slot; sub-second units scale into the
        seconds slot, multi-unit ones (decades/centuries/millennia/
        quarters) into years/months (round-10 wave-4 close)."""
        n = args[0]
        unit = m.group(1).lower()
        scaled = {
            "milliseconds": ("seconds", f"({n}) / 1000.0"),
            "microseconds": ("seconds", f"({n}) / 1000000.0"),
            "decades": ("years", f"({n}) * 10"),
            "centuries": ("years", f"({n}) * 100"),
            "millennia": ("years", f"({n}) * 1000"),
            "quarters": ("months", f"({n}) * 3"),
        }
        unit, val = scaled.get(unit, (unit, f"({n})"))
        slots = ["0"] * 7
        slots[self._MAKE_INTERVAL_SLOT[unit]] = f"({val})"
        return f"make_interval({', '.join(slots)})"

    # -- sweep batch 5: sha256, char-set trims ----------------------------

    _SHA256_RE = re.compile(r"(?i)\bsha256\s*\(")
    _TRIM2_RE = re.compile(r"(?i)\b([lr]?)trim\s*\(")

    def _translate_sha256(self, m, args):
        return f"sha2(({args[0]}), 256)"

    def _translate_trim_chars(self, m, args):
        """2-arg ltrim/rtrim/trim(string, charset) → TRIM(LEADING/
        TRAILING/BOTH charset FROM string): Spark's own 2-arg forms take
        the arguments in the OPPOSITE order (trimStr first), which
        silently trims the wrong operand — bare 2-arg trim() included
        (batch-18 find). 1-arg forms are identical and left alone."""
        if len(args) != 2:
            return None
        side = {"l": "LEADING", "r": "TRAILING", "": "BOTH"}[m.group(1).lower()]
        return f"TRIM({side} {args[1]} FROM ({args[0]}))"

    # -- sweep batch 6: quantified comparisons, ordered first/last,
    # struct_extract, list_has_all, divide/xor ----------------------------

    # lhs: identifier chain, number, or string literal (batch 23 widened
    # the literal forms so `1 = ALL (subq)` raises explicitly instead of
    # reaching Spark's parser)
    _QUANT_CMP_RE = re.compile(
        r"(?P<lhs>[A-Za-z_][\w.]*|\d+(?:\.\d+)?|'(?:[^']|'')*')\s*"
        r"(?P<op><>|!=|<=|>=|=|<|>)\s*"
        r"(?P<q>ANY|ALL|SOME)\s*\(",
        re.IGNORECASE,
    )
    _FIRST_LAST_RE = re.compile(r"(?i)\b(first|last|any_value)\s*\(")
    _STRUCT_EXTRACT_RE = re.compile(r"(?i)\bstruct_extract\s*\(")
    _LIST_HAS_ALL_RE = re.compile(r"(?i)\blist_has_all\s*\(")
    _LIST_INDEX_RE = re.compile(r"(?i)\b(?:list_element|list_extract|array_extract)\s*\(")
    _LIST_CONCAT_RE = re.compile(r"(?i)\b(?:list_concat|list_cat|array_concat|array_cat)\s*\(")
    _LIST_HAS_ANY_RE = re.compile(r"(?i)\b(?:list_has_any|array_has_any)\s*\(")
    _DIVIDE_RE = re.compile(r"(?i)\bdivide\s*\(")
    _XOR_RE = re.compile(r"(?i)\bxor\s*\(")
    _ADD_RE = re.compile(r"(?i)\badd\s*\(")
    _SUBTRACT_RE = re.compile(r"(?i)\bsubtract\s*\(")
    _MULTIPLY_RE = re.compile(r"(?i)\bmultiply\s*\(")
    _MOD_FN_RE = re.compile(r"(?i)\bmod\s*\(")

    def _translate_quantified_cmp(self, m, inner):
        """``x op ANY/SOME(arr)`` → exists(arr, e -> x op e); ``x op
        ALL(arr)`` → forall(...). Subquery operands map to IN / NOT IN
        where semantics allow (= ANY, <>/!= ALL); other op+subquery
        combinations raise. Simple-identifier left operands only."""
        inner = inner.strip()
        lhs, op, q = m.group("lhs"), m.group("op"), m.group("q").upper()
        if op == "!=":
            op = "<>"
        if re.match(r"(?is)^select\b", inner):
            if op == "=" and q in ("ANY", "SOME"):
                return f"{lhs} IN ({inner})"
            if op == "<>" and q == "ALL":
                return f"{lhs} NOT IN ({inner})"
            raise UQueryError.sql_error(
                f"{op} {q}(subquery) is not supported (only = ANY / <> ALL)"
            )
        fn = "forall" if q == "ALL" else "exists"
        return f"{fn}(({inner}), uq_qe -> {lhs} {op} uq_qe)"

    _B28_AGG_RE = re.compile(
        r"(?i)\b(arg_max|arg_min|argmax|argmin|max_by|min_by|avg|mean|corr)\s*\("
    )
    _TOPN_MINMAX_RE = re.compile(r"(?i)(?<![\w.])(max|min)\s*\(")
    _PY_LAMBDA_RE = re.compile(r"(?i)\blambda\s+(\w+(?:\s*,\s*\w+)*)\s*:")

    def _translate_topn_minmax(self, m, args):
        """DuckDB ≥1.1 ``max(arg, n)`` / ``min(arg, n)`` (the reference
        pins 1.5.2): a LIST of the n largest/smallest values, largest-
        first / smallest-first, NULLs skipped (collect_list drops them).
        Previously a loud wrong-arity error. Only fires when the second
        argument is a positive integer literal — DuckDB itself requires
        a constant n, and 1-arg max/min stay native. Scale note: this
        emission buffers each group's values (collect_list) where
        DuckDB keeps a bounded heap — fine for the grouped-top-n shapes
        it serves; a corpus-wide top-n belongs to TakeOrdered queries."""
        if len(args) != 2 or not re.fullmatch(r"\+?\d+", args[1].strip()):
            return None
        x, n = args[0], args[1].strip()
        if int(n) < 1:
            raise UQueryError.sql_error(
                f"{m.group(1).lower()}: n must be a positive integer constant"
            )
        body = f"array_sort(collect_list(({x})))"
        if m.group(1).lower() == "max":
            body = f"reverse({body})"
        return f"slice({body}, 1, {n})"

    def _translate_arg_max_avg_corr(self, m, args: list[str]) -> str | None:
        """Agg-fuzzer catches (batch 28, DuckDB-verified):

        - arg_max/arg_min (and their max_by/min_by spellings) SKIP rows
          whose VALUE argument is NULL in DuckDB; Spark's max_by can
          return one → the ordering key is nulled on NULL-value rows
          (Spark skips NULL keys);
        - avg/mean over DECIMAL returns DOUBLE in DuckDB while Spark
          keeps DECIMAL(p, s+4) — a silent precision difference →
          avg(CAST(x AS DOUBLE)) (no-op for the int/double columns
          everywhere else);
        - corr over zero-variance input is NULL in DuckDB but a
          DIVIDE_BY_ZERO error under Spark's ANSI mode → pairwise-
          complete covar_pop / (σx·σy) with try_divide.
        """
        fn = m.group(1).lower()
        if fn in ("avg", "mean"):
            if len(args) != 1:
                return None
            a = args[0].strip()
            dm = re.match(r"(?i)^distinct\s+", a)
            prefix, a = ("DISTINCT ", a[dm.end() :]) if dm else ("", a)
            repl = f"avg({prefix}CAST(({a}) AS DOUBLE))"
            # avg over INTERVAL is native in both engines and the
            # DOUBLE cast fails analysis — poly-probe the cast form,
            # native avg as fallback. Skipped when a call clause
            # (OVER/FILTER/WITHIN) follows: the poly resolver
            # parenthesizes its pick, which breaks `agg() OVER`
            # syntax (interval window-avg stays a loud error).
            if not re.match(
                r"(?i)\s*(over|filter|within)\b", m.string[self._close_of(m) + 1 :]
            ):
                repl = f"uq_poly(avg({prefix}({a})), {repl})"
        elif fn == "corr":
            if len(args) != 2:
                return None
            x, y = args
            repl = (
                f"try_divide(covar_pop(({x}), ({y})), "
                f"stddev_pop(IF(({y}) IS NULL, NULL, ({x}))) * "
                f"stddev_pop(IF(({x}) IS NULL, NULL, ({y}))))"
            )
        else:
            desc = fn in ("arg_max", "argmax", "max_by")
            if len(args) == 3:
                # DuckDB ≥1.1 top-n form (the reference pins 1.5.2):
                # arg_max(arg, val, n) = LIST of arg for the top-n
                # rows by val (val-descending; rows where EITHER arg
                # or val is NULL skip — DuckDB probe: arg_max(x, y)
                # over (NULL,30),(3,20),(5,10) returns 3, skipping
                # the NULL-arg row with the max val; the null struct
                # vanishes from collect_list, mirroring the 2-arg
                # emission's IF guard — ADVICE r12). n must be a
                # positive integer literal, like DuckDB's constant-n
                # requirement. Tie order among equal vals is
                # unspecified in DuckDB; here ties break by arg
                # (struct sort), deterministic.
                x, k, n = (a.strip() for a in args)
                if not re.fullmatch(r"\+?\d+", n) or int(n) < 1:
                    raise UQueryError.sql_error(
                        f"{fn}: n must be a positive integer constant"
                    )
                pairs = (
                    f"array_sort(collect_list(CASE WHEN ({k}) IS NULL "
                    f"OR ({x}) IS NULL "
                    f"THEN NULL ELSE struct(({k}) AS uq_k, ({x}) AS uq_v) END))"
                )
                if desc:
                    pairs = f"reverse({pairs})"
                repl = f"slice(transform({pairs}, uq_s -> uq_s.uq_v), 1, {n})"
            elif len(args) == 2:
                x, k = args
                out = "max_by" if desc else "min_by"
                repl = f"{out}(({x}), IF(({x}) IS NULL, NULL, ({k})))"
            else:
                raise UQueryError.sql_error(f"{fn} expects (value, key[, n])")
        return repl

    def _translate_first_last(self, m, inner: str) -> str | None:
        """DuckDB ``first/last(x ORDER BY y [DESC])`` → min_by/max_by
        (single sort key; the argless forms are native in both and left
        alone). Batch 18: ``any_value(x ORDER BY y)`` is the same
        positional pick but skips NULL x — the sort key is wrapped in
        CASE WHEN x IS NOT NULL so min_by/max_by ignore NULL-x rows
        (they skip NULL ordering keys), reproducing first-NON-NULL-in-
        order exactly."""
        split = re.split(r"(?i)\border\s+by\b", inner, maxsplit=1)
        if len(split) != 2 or len(self._split_top(inner, ",")) != 1:
            return None
        x, order = split[0].strip().rstrip(","), split[1].strip()
        nf = re.search(r"(?i)\bnulls\s+(first|last)\s*$", order)
        nulls_last = True  # DuckDB default, both directions
        if nf:
            nulls_last = nf.group(1).lower() == "last"
            order = order[: nf.start()].strip()
        desc = bool(re.search(r"(?i)\bdesc\s*$", order))
        key = re.sub(r"(?i)\s+(asc|desc)\s*$", "", order)
        fname = m.group(1).lower()
        take_min = (fname != "last") != desc
        fn = "min_by" if take_min else "max_by"
        # batch 28 (agg-fuzzer catch): first/last KEEP NULL values —
        # a NULL-key row at the ordering's end IS the `last` pick
        # (the old bare min_by/max_by skipped NULL keys). The
        # composite (null-rank, key) struct encodes the placement;
        # any_value keeps its skip-NULL-x semantics via the CASE.
        null_wins = (not nulls_last) if fname != "last" else nulls_last
        # fn=min_by: null wins ⇔ flag -1; fn=max_by: null wins ⇔ +1
        flag_null = -1 if (null_wins == (fn == "min_by")) else 1
        composite = (
            f"struct(IF(({key}) IS NULL, {flag_null}, 0) AS uq_nr, "
            f"({key}) AS uq_k)"
        )
        if fname == "any_value":
            key_expr = f"CASE WHEN ({x}) IS NOT NULL THEN {composite} END"
        else:
            key_expr = composite
        return f"{fn}({x}, {key_expr})"

    def _translate_struct_extract(self, m, args):
        """struct_extract(s, 'k') → (s).k (literal keys only)."""
        if len(args) != 2:
            raise UQueryError.sql_error("struct_extract expects (struct, 'key')")
        key = self._lit_parse(args[1])
        if key is None or not re.fullmatch(r"\w+", key):
            raise UQueryError.sql_error(
                "struct_extract: only literal identifier keys are supported"
            )
        return f"(({args[0]}).{key})"

    def _translate_list_has_all(self, m, args):
        if len(args) != 2:
            raise UQueryError.sql_error("list_has_all expects (list, sublist)")
        a, b = args
        return f"forall(({b}), uq_he -> array_contains(({a}), uq_he))"

    # -- sweep batch 7: explicit raises for untranslatable idioms ---------

    _UNSUPPORTED_FN_RE = re.compile(
        r"(?i)\b(md5_number|"
        r"txid_current|get_current_time|"
        r"bit_position|"
        r"left_grapheme|right_grapheme)\s*\("
    )  # timezone/bar moved to batch-23, age to batch-28 translations,
    # make_time to the round-8 TIME graduation (native under
    # spark.sql.timeType.enabled — fractional-seconds parity probed)
    _LIMIT_PCT_RE = re.compile(r"(?i)\blimit\s+\d+(?:\.\d+)?\s*%")
    _BIT_ENUM_RE = re.compile(
        r"(?i)(::\s*bit(?:string)?\b|\bas\s+bit(?:string)?\s*[),]|\benum\s*\()"
    )

    def _raise_unsupported(self, sql: str) -> str:
        """Batch-7 sweep: idioms DuckDB admits that have no faithful
        Spark translation RAISE here instead of reaching Catalyst as a
        garbled expression (the sweep's translate-or-raise rule).
        md5_number returns a full HUGEINT (no 128-bit Spark integer —
        the _lower/_upper halves ARE translated, batch 15; round-7
        probe: composing the halves into DECIMAL(38,0) — Spark's max
        precision — overflows for ~40% of digests, since |little-endian
        int128| reaches 1.70e38 > 10^38-1, e.g. md5_number('abc') =
        1.52e38; a partial translation would be a silent trap, so the
        raise stays), age() is
        volatile INTERVAL arithmetic, make_time needs a TIME type,
        timezone() needs session-tz semantics, graphemes need cluster
        segmentation, BITSTRING/ENUM are DuckDB-only types. Batch 15
        closed the former members struct_insert/mad/entropy/histogram/
        jaro*/damerau/strip_accents/nfc_normalize/gamma/lgamma/
        parse_dir*/md5_number_lower|upper/LIMIT n% — see
        _rewrite_parity_fns, _rewrite_nested_aggs,
        _rewrite_struct_insert, _rewrite_limit_pct."""
        m = self._search_code(self._UNSUPPORTED_FN_RE, sql)
        if m:
            raise UQueryError.sql_error(
                f"{m.group(1)}() has no Spark equivalent (unsupported)"
            )
        m = self._search_code(self._BIT_ENUM_RE, sql)
        if m:
            raise UQueryError.sql_error(
                "BITSTRING/ENUM types are not supported"
            )
        return sql

    # -- sweep batch 15: UDF-backed parity scalars, nested aggregates,
    # struct_insert (schema-probed), LIMIT n% ------------------------------

    _PARITY_FN_MAP = {
        "jaro_winkler_similarity": "uq_jaro_winkler",
        "jaro_similarity": "uq_jaro",
        "damerau_levenshtein": "uq_damerau_lev",
        "strip_accents": "uq_strip_accents",
        "nfc_normalize": "uq_nfc_normalize",
        "lgamma": "uq_lgamma",
        "gamma": "uq_gamma",
        "nextafter": "uq_nextafter",
        # Python re.escape (3.7+) IS RE2 QuoteMeta: every ASCII
        # non-word char escaped, non-ASCII untouched (DuckDB-verified)
        "regexp_escape": "uq_regexp_escape",
        "greatest_common_divisor": "uq_gcd",
        "least_common_multiple": "uq_lcm",
        "gcd": "uq_gcd",
        "lcm": "uq_lcm",
        "parse_dirname": "uq_parse_dirname",
        "parse_dirpath": "uq_parse_dirpath",
        "parse_path": "uq_parse_path",
        # batch 22: UAX-29 grapheme clusters (utf8proc parity)
        "length_grapheme": "uq_length_grapheme",
    }
    _PARITY_FN_RE = re.compile(
        r"(?i)\b(" + "|".join(_PARITY_FN_MAP) + r")\s*\("
    )
    _MD5_HALF_RE = re.compile(r"(?i)\bmd5_number_(lower|upper)\s*\(")

    def _rewrite_parity_fns(self, sql: str) -> str:
        """Batch-15 sweep: DuckDB scalars with no Spark builtin →
        Arrow-batched pandas UDFs (functions/parity_udfs.py), registered
        lazily on first use so plain driver sessions get them without
        engine setup. Semantics pinned against DuckDB there (byte-based
        distances, Winkler 0.7 threshold, unrestricted Damerau, NFD→
        drop-marks→NFC accent stripping, gamma pole behavior, the
        parse_dir* trailing-separator rules).

        md5_number_lower/upper need no UDF: DuckDB reads the two UBIGINT
        halves little-endian from the digest (lower = bytes 9-16, upper
        = bytes 1-8 — verified against hashlib) → byte-pair-reversed
        conv(hex, 16, 10) on Spark's own md5(), CAST to DECIMAL(20,0)
        because the unsigned values exceed BIGINT (width deviation:
        UBIGINT → DECIMAL(20,0), same digits)."""

        def md5_half(m, args):
            if len(args) != 1:
                raise UQueryError.sql_error("md5_number_*: expects 1 argument")
            # hex chars of byte i (1-based) are (2i-1, 2i); little-endian
            # means emitting bytes high-to-low: 16..9 (lower) / 8..1 (upper)
            byte_range = range(16, 8, -1) if m.group(1).lower() == "lower" else range(8, 0, -1)
            # md5 repeated per byte-pair — Catalyst CSE collapses the
            # common subexpression to one digest per row
            pairs = ", ".join(
                f"substr(md5(({args[0]})), {2 * b - 1}, 2)" for b in byte_range
            )
            return f"CAST(conv(concat({pairs}), 16, 10) AS DECIMAL(20, 0))"

        sql = self._map_calls(self._MD5_HALF_RE, md5_half, sql)
        if not self._search_code(self._PARITY_FN_RE, sql):
            return sql
        from .functions.parity_udfs import register_parity_udfs

        register_parity_udfs(self.spark)
        return self._sub_code_fn(
            self._PARITY_FN_RE, lambda m: self._PARITY_FN_MAP[m.group(1).lower()] + "(", sql
        )

    # -- sweep batch 18 -----------------------------------------------------

    _TRIM_STD_RE = re.compile(
        r"(?i)\btrim\s*\((?=\s*(both|leading|trailing)\b)"
    )

    def _translate_trim_std(self, m, inner: str) -> str:
        """Batch-18: SQL-standard ``TRIM([BOTH|LEADING|TRAILING] [chars]
        FROM str)``. Spark parses this natively, but the quoted operand
        after FROM matched the path-as-table regex first — `trim(BOTH
        'x' FROM 'y')` became a table scan of path 'y' (misparse class,
        found by the sweep). Emits the DuckDB FUNCTION forms (trim/ltrim/rtrim(s[, chars])) so the
        batch-5 charset-order pass translates them uniformly."""
        kw = m.group(1).lower()
        rest = inner[re.search(r"(?i)\b" + kw, inner).end() :]
        split = None
        for s, e, _w in self._scan_top_level(rest, {"from"}):
            split = (s, e)
            break
        if split is None:
            raise UQueryError.sql_error(
                "TRIM: expected FROM in the standard form"
            )
        chars = rest[: split[0]].strip()
        src = rest[split[1] :].strip()
        fn = {"both": "trim", "leading": "ltrim", "trailing": "rtrim"}[kw]
        # DuckDB-convention 2-arg order (string, chars) — the
        # batch-5/18 charset pass reorders for Spark downstream
        return f"{fn}(({src}), ({chars}))" if chars else f"{fn}(({src}))"

    _LIST_WHERE_RE = re.compile(r"(?i)\blist_where\s*\(")

    def _translate_list_where(self, m, args):
        """Batch-18: ``list_where(l, mask)`` → mask-select via zipped
        structs (NULL mask entries drop the element, like DuckDB)."""
        if len(args) != 2:
            raise UQueryError.sql_error("list_where expects (list, mask)")
        l, mask = args
        return (
            f"transform(filter(zip_with(({l}), ({mask}), "
            f"(uq_we, uq_wm) -> struct(uq_we AS e, uq_wm AS m)), "
            f"uq_ws -> uq_ws.m), uq_ws -> uq_ws.e)"
        )

    # -- sweep batch 27: information_schema ---------------------------------

    _INFO_SCHEMA_RE = re.compile(
        r"(?i)\binformation_schema\s*\.\s*(tables|columns)\b"
    )

    # DuckDB's information_schema.tables columns (DESCRIBE-probed)
    _IS_TABLES_COLS = (
        "table_catalog", "table_schema", "table_name", "table_type",
        "self_referencing_column_name", "reference_generation",
        "user_defined_type_catalog", "user_defined_type_schema",
        "user_defined_type_name", "is_insertable_into", "is_typed",
        "commit_action", "TABLE_COMMENT",
    )
    # the SQL-standard 45-column shape, DuckDB-probed; only the core
    # identification columns carry values (like DuckDB's own view)
    _IS_COLUMNS_COLS = (
        "table_catalog", "table_schema", "table_name", "column_name",
        "ordinal_position", "column_default", "is_nullable", "data_type",
        "character_maximum_length", "character_octet_length",
        "numeric_precision", "numeric_precision_radix", "numeric_scale",
        "datetime_precision", "interval_type", "interval_precision",
        "character_set_catalog", "character_set_schema",
        "character_set_name", "collation_catalog", "collation_schema",
        "collation_name", "domain_catalog", "domain_schema", "domain_name",
        "udt_catalog", "udt_schema", "udt_name", "scope_catalog",
        "scope_schema", "scope_name", "maximum_cardinality",
        "dtd_identifier", "is_self_referencing", "is_identity",
        "identity_generation", "identity_start", "identity_increment",
        "identity_maximum", "identity_minimum", "identity_cycle",
        "is_generated", "generation_expression", "is_updatable",
        "COLUMN_COMMENT",
    )

    @staticmethod
    def _sql_str(v) -> str:
        if v is None:
            return "CAST(NULL AS STRING)"
        return "'" + str(v).replace("'", "''") + "'"

    def _rewrite_information_schema(self, sql: str) -> str:
        """``information_schema.tables`` / ``.columns`` (batch 27 — BI
        tools and the reference's DuckDB both expose them) → inline
        derived tables built from the Spark catalog at rewrite time,
        aliased ``tables``/``columns`` like DuckDB's bare references.
        catalog/schema render as DuckDB's in-memory identity
        ('memory'/'main'); data_type uses DuckDB typenames (the
        batch-24 mapper); internal ``uq_*`` plumbing views are
        filtered. Zero-table catalogs yield a typed empty relation."""
        if not self._search_code(self._INFO_SCHEMA_RE, sql):
            return sql
        from .functions.parity_udfs import _duck_typename

        tabs = [
            t
            for t in self.spark.catalog.listTables()
            if not t.name.startswith("uq_")
        ]

        def emit(rel: str) -> str:
            if rel == "tables":
                cols, rows = self._IS_TABLES_COLS, [
                    (
                        "memory", "main", t.name,
                        "VIEW" if t.tableType in (None, "TEMPORARY", "VIEW")
                        else "BASE TABLE",
                        None, None, None, None, None, "NO", "NO", None, None,
                    )
                    for t in tabs
                ]
                num_cols: set[str] = set()
            else:
                cols = self._IS_COLUMNS_COLS
                num_cols = {
                    "ordinal_position", "character_maximum_length",
                    "character_octet_length", "numeric_precision",
                    "numeric_precision_radix", "numeric_scale",
                    "datetime_precision", "interval_precision",
                    "maximum_cardinality",
                }
                rows = []
                for t in tabs:
                    for i, c in enumerate(self.spark.catalog.listColumns(t.name)):
                        row = {k: None for k in cols}
                        row.update(
                            table_catalog="memory", table_schema="main",
                            table_name=t.name, column_name=c.name,
                            ordinal_position=i + 1, is_nullable="YES",
                            data_type=_duck_typename(c.dataType),
                            is_self_referencing="NO", is_identity="NO",
                            identity_cycle="NO", is_generated="NEVER",
                            is_updatable="NO",
                        )
                        rows.append(tuple(row[k] for k in cols))
            col_list = ", ".join(f"`{c}`" for c in cols)
            if rows:
                vals = ", ".join(
                    "("
                    + ", ".join(
                        (str(v) if isinstance(v, int) else self._sql_str(v))
                        if cols[j] not in num_cols or v is not None
                        else "CAST(NULL AS INT)"
                        for j, v in enumerate(r)
                    )
                    + ")"
                    for r in rows
                )
                return f"(SELECT * FROM (VALUES {vals}) AS uq_is({col_list})) AS {rel}"
            typed = ", ".join(
                f"CAST(NULL AS {'INT' if c in num_cols else 'STRING'}) AS `{c}`"
                for c in cols
            )
            return f"(SELECT {typed} WHERE false) AS {rel}"

        stop_words = {
            "on", "where", "group", "order", "limit", "join", "inner",
            "left", "right", "full", "cross", "union", "except",
            "intersect", "using", "having", "qualify", "offset", "fetch",
            "asof", "positional", "semi", "anti",
        }

        def translate(m):
            repl = emit(m.group(1).lower())
            # a user alias right after the reference replaces ours
            nxt = re.match(r"\s+(as\s+)?([A-Za-z_]\w*)", m.string[m.end() :])
            if nxt and nxt.group(2).lower() not in stop_words:
                repl = repl.rsplit(" AS ", 1)[0]
            return repl

        return self._sub_code_fn(self._INFO_SCHEMA_RE, translate, sql)

    # -- sweep batch 26: session DDL ----------------------------------------

    _CREATE_VIEW_RE = re.compile(
        r"(?is)^\s*create\s+(or\s+replace\s+)?(?:temp(?:orary)?\s+)?view\s+"
        r"([\w.\"]+)\s+as\s+(.*)$"
    )
    _CREATE_TABLE_RE = re.compile(
        r"(?is)^\s*create\s+(or\s+replace\s+)?(?:temp(?:orary)?\s+)?table\s+"
        r"([\w.\"]+)\s+as\s+(.*)$"
    )
    _DROP_RE = re.compile(
        r"(?is)^\s*drop\s+(view|table)\s+(if\s+exists\s+)?([\w.\"]+)\s*;?\s*$"
    )
    _DML_RE = re.compile(r"(?is)^\s*(insert|update|delete|merge|truncate)\b")
    _CREATE_MACRO_RE = re.compile(
        r"(?is)^\s*create\s+(or\s+replace\s+)?(?:temp(?:orary)?\s+)?"
        r"(?:macro|function)\s+(\w+)\s*\(([^)]*)\)\s+as\s+(table\s+)?(.*?)\s*;?\s*$"
    )
    _DROP_MACRO_RE = re.compile(
        r"(?is)^\s*drop\s+(?:macro|function)\s+(if\s+exists\s+)?(\w+)\s*;?\s*$"
    )

    def _session_object_exists(self, name: str) -> bool:
        """True when ``name`` resolves to a live session table/view
        (temp views included — ``tableExists`` sees them)."""
        try:
            return self.spark.catalog.tableExists(name.strip('"'))
        except Exception:
            return False

    @staticmethod
    def _body_references(body: str, name: str) -> bool:
        """True when ``name`` appears as an identifier token in
        ``body`` outside string literals — the CREATE OR REPLACE
        self-reference probe (round-10 ADVICE). Deliberately
        over-matches (a column/alias/function spelled like the table
        also hits): a false positive only routes the replace through
        the always-correct parquet-spill path."""
        want = name.strip('"').strip("`").lower()
        return any(
            t[0] != "'" and t.strip('"`').lower() == want
            for t in re.findall(rf"{_QUOTED}|[A-Za-z_]\w*", body)
        )

    def _rewrite_session_ddl(self, sql: str) -> str:
        """Session-scoped DDL (batch 26 — the reference's pooled DuckDB
        connections admit in-session CREATE/DROP, main.rs exercises
        CREATE TABLE AS via --init-sql):

        - CREATE [OR REPLACE] [TEMP] VIEW name AS body → a TEMPORARY
          view (session-scoped, like a DuckDB in-memory connection —
          never the persistent metastore), with the body run through
          the FULL dialect pipeline;
        - CREATE [OR REPLACE] [TEMP] TABLE name AS body → CACHE TABLE
          name AS body (temp view + eager materialization — the
          closest Spark shape to DuckDB's CTAS; re-evaluation
          non-determinism is what the cache removes);
        - DROP VIEW/TABLE [IF EXISTS] name → DROP VIEW on the temp
          view;
        - INSERT/UPDATE/DELETE/MERGE/TRUNCATE raise: the rebuild's
          session tables are views over immutable sources (documented
          deviation — DuckDB's in-memory tables are mutable).
        """
        m = self._CREATE_VIEW_RE.match(sql)
        if m:
            orep, name, body = m.groups()
            return (
                f"CREATE {'OR REPLACE ' if orep else ''}TEMPORARY VIEW "
                f"{name.strip()} AS {self.rewrite(body)}"
            )
        m = self._CREATE_TABLE_RE.match(sql)
        if m:
            orep, name, body = m.groups()
            name = name.strip()
            # Rewrite (and analysis-probe) the body BEFORE any drop side
            # effect: DuckDB's CREATE OR REPLACE keeps the old object when
            # the new definition fails for ANY reason (ADVICE r7 closed
            # rewrite/analysis failures; r9 closes the runtime hole,
            # NOTES 21b). A rewrite error below leaves the prior table
            # intact; when the name is live we ALSO materialize the new
            # body to completion under a staging name first — only after
            # that eager CACHE succeeds do the drop+swap side effects run,
            # so an execution-time failure (ANSI overflow, bad cast on a
            # late row, ...) keeps the old table answering.
            new_body = self.rewrite(body)
            if orep and self._session_object_exists(name):
                if self._body_references(new_body, name):
                    # SELF-REFERENTIAL replace (round-10 ADVICE):
                    # CREATE OR REPLACE TABLE t AS SELECT … FROM t. The
                    # cache-swap path below re-analyzes the body after
                    # the drop, where t no longer resolves — the old
                    # table would be lost AND the statement would fail.
                    # Materialize the new body to parquet FIRST (runs
                    # the full job — any runtime failure raises here
                    # with the old table intact), then swap to a view
                    # over the spilled files, which resolve regardless
                    # of t's fate. Token-scan detection over-matches
                    # (a name that is also a function/alias) — the only
                    # cost is taking this always-correct path.
                    import tempfile

                    root = getattr(self, "_cor_spill_root", None)
                    if root is None:
                        root = tempfile.mkdtemp(prefix="uq_cor_spill_")
                        self._cor_spill_root = root
                    path = os.path.join(
                        root, re.sub(r"\W", "_", name) + "_" + uuid.uuid4().hex[:8]
                    )
                    self.spark.sql(
                        f"SELECT * FROM ({new_body}) uq_cor_src"
                    ).write.parquet(path)
                    self.spark.sql(f"UNCACHE TABLE IF EXISTS {name}")
                    self.spark.sql(f"DROP VIEW IF EXISTS {name}")
                    self.spark.sql(
                        f"CACHE TABLE {name} AS SELECT * FROM parquet.`{path}`"
                    )
                    return f"SELECT * FROM {name} LIMIT 0"
                stage = f"{name}__uq_stage_{uuid.uuid4().hex[:8]}"
                try:
                    # eager: runs the full materialization job now; a
                    # runtime failure raises here with zero side effects
                    self.spark.sql(f"CACHE TABLE {stage} AS {new_body}")
                except Exception:
                    self.spark.sql(f"UNCACHE TABLE IF EXISTS {stage}")
                    self.spark.sql(f"DROP VIEW IF EXISTS {stage}")
                    raise
                try:
                    self.spark.sql(f"UNCACHE TABLE IF EXISTS {name}")
                    self.spark.sql(f"DROP VIEW IF EXISTS {name}")
                    # re-cache under the live name FROM THE BODY: the
                    # CacheManager substitutes the staged InMemoryRelation
                    # by analyzed-plan equality, so this second CACHE reads
                    # the already-proven cache rather than re-running the
                    # query against the sources (a temp view's stored plan
                    # re-resolves on access, so `SELECT * FROM stage` would
                    # dangle once the staging view drops)
                    self.spark.sql(f"CACHE TABLE {name} AS {new_body}")
                finally:
                    self.spark.sql(f"UNCACHE TABLE IF EXISTS {stage}")
                    self.spark.sql(f"DROP VIEW IF EXISTS {stage}")
                return f"SELECT * FROM {name} LIMIT 0"
            if orep:
                # name not live: nothing to lose, keep the direct
                # single-materialization path
                self.spark.sql(f"SELECT * FROM ({new_body}) LIMIT 0")
                self.spark.sql(f"UNCACHE TABLE IF EXISTS {name}")
                self.spark.sql(f"DROP VIEW IF EXISTS {name}")
            return f"CACHE TABLE {name} AS {new_body}"
        m = self._CREATE_MACRO_RE.match(sql)
        if m:
            # batch 28: in-session CREATE [OR REPLACE] MACRO — the same
            # inline-at-bind machinery the --db-file attach uses
            # (reference main.rs:413-450 provisions macros; users also
            # define them per session in DuckDB)
            orep, name, params, is_table, body = m.groups()
            with self._state_lock:
                exists = name.lower() in self._macros
            if not orep and exists:
                raise UQueryError.sql_error(
                    f"Macro with name \"{name}\" already exists "
                    f"(use CREATE OR REPLACE)"
                )
            if is_table:
                if params.strip():
                    # parameterized table macro: same inline-at-bind
                    # expansion the --db-file attach path uses (the body
                    # becomes a derived table with args substituted)
                    plist = [p.strip() for p in params.split(",") if p.strip()]
                    self.add_scalar_macro(name, plist, body)
                else:
                    self.spark.sql(
                        f"CREATE OR REPLACE TEMPORARY VIEW {name} AS "
                        f"{self.rewrite(body)}"
                    )
                    self.add_table_macro(name)
            else:
                plist = [p.strip() for p in params.split(",") if p.strip()]
                self.add_scalar_macro(name, plist, body)
            return "SELECT 1 AS ok WHERE false"  # DDL: empty result
        m = self._DROP_MACRO_RE.match(sql)
        if m:
            ifex, name = m.groups()
            key = name.lower()
            with self._state_lock:
                scalar = self._macros.pop(key, None) is not None
                table = not scalar and key in self._table_macros
                if table:
                    self._table_macros.remove(key)
            if table:
                self.spark.sql(f"DROP VIEW IF EXISTS {name}")
            elif not scalar and not ifex:
                raise UQueryError.sql_error(f"Macro \"{name}\" does not exist")
            return "SELECT 1 AS ok WHERE false"
        m = self._DROP_RE.match(sql)
        if m:
            _kind, ifex, name = m.groups()
            return f"DROP VIEW {'IF EXISTS ' if ifex else ''}{name.strip()}"
        if self._DML_RE.match(sql):
            raise UQueryError.sql_error(
                "data-modification statements are not supported: session "
                "tables are immutable views (use CREATE OR REPLACE TABLE "
                "name AS ... to rebuild)"
            )
        if re.match(r"(?is)^\s*create\b", sql):
            raise UQueryError.sql_error(
                "only CREATE [OR REPLACE] [TEMP] VIEW/TABLE ... AS <query> "
                "is supported"
            )
        return sql

    # -- sweep batch 25: dot-chaining / glob TVF / session literals ---------

    # `.name(` where the name isn't preceded by whitespace-only (an
    # operand must sit before the dot). Keywords that legitimately
    # follow a dot never carry a call paren.
    _DOT_CHAIN_RE = re.compile(r"\.\s*([A-Za-z_]\w*)\s*\(")

    def _rewrite_dot_chain(self, sql: str) -> str:
        """DuckDB function chaining: ``x.f(a, b)`` = ``f(x, a, b)``
        (``[1,2].list_sum()``, ``col.lower().trim()`` — probed working
        on columns, bracket results, and call results; a dotted STRING
        LITERAL is a parse error in DuckDB itself). List literals are
        array(...) calls by now, so every operand ends in an identifier
        chain, ')' or marker; chained names rename afterwards.

        Known ambiguity (documented): ``a.b(x)`` with ``a`` a schema
        name would be a qualified call — the gateway has no schemas, so
        the chain reading always wins."""
        while True:
            m = self._search_code(self._DOT_CHAIN_RE, sql)
            if not m:
                return sql
            close = self._find_close(sql, m.end() - 1)
            if close == -1:
                return sql
            i = self._chain_start(sql, m.start())
            if i is None or sql[i] == "'":
                # no operand, or a string literal (a DuckDB parse error)
                return sql
            operand = sql[i : m.start()].rstrip()
            fname = m.group(1)
            args = sql[m.end() : close].strip()
            inner = f"({operand})" + (f", {args}" if args else "")
            sql = sql[:i] + f"{fname}({inner})" + sql[close + 1 :]

    _JSON_CAST_RE = re.compile(r"(?i)\b(try_)?cast\s*\(")

    def _translate_json_cast(self, m, inner):
        """``CAST(x AS JSON)`` / ``x::JSON``: DuckDB VALIDATES a VARCHAR
        input and PRESERVES its text (whitespace kept — probed; json()
        is the minifying form), while other types encode through the
        json writer. The input's type is dispatched per ROW-CONSTANT
        typeof() (the uq_duck_typename UDF), so one translation serves
        any operand type."""
        parts = self._split_top(inner, "as")
        if len(parts) != 2 or parts[1].strip().lower() != "json":
            return None
        x = parts[0].strip()
        from .functions.parity_udfs import register_parity_udfs

        register_parity_udfs(self.spark)
        return (
            f"(CASE WHEN ({x}) IS NULL THEN CAST(NULL AS STRING) "
            f"ELSE uq_json_cast(uq_duck_typename(typeof(({x}))), "
            f"{self._jenc(x)}) END)"
        )

    def _translate_interval_cast(self, m, inner):
        """``'1 day 2 hours'::INTERVAL`` / CAST(literal AS INTERVAL)
        (batch 28) → Spark's INTERVAL literal, which picks the proper
        ANSI interval class (day-time or year-month) so comparisons
        work — CAST-to-bare-INTERVAL yields the legacy calendar type
        that can't compare against interval literals. Mixed-class
        literals error loudly in Spark's parser (DuckDB's calendar
        intervals admit them — documented). Non-literal operands stay
        native."""
        parts = self._split_top(inner, "as")
        if len(parts) != 2 or parts[1].strip().lower() != "interval":
            return None
        lit = self._lit_parse(parts[0].strip())
        if lit is None:
            return None
        return "INTERVAL '" + lit.replace("'", "''") + "'"

    # no lookahead needed to exclude INTERVAL '1' DAY — its quoted text
    # has no unit words, so the term parser below rejects it anyway
    _MIXED_IVL_RE = re.compile(r"(?i)\bINTERVAL\s+'([^']+)'")
    _IVL_TERM_RE = re.compile(
        r"(?i)^\s*(-?\d+(?:\.\d+)?)\s*"
        r"(years?|months?|mons?|quarters?|weeks?|days?|hours?|hrs?|"
        r"minutes?|mins?|seconds?|secs?|milliseconds?|microseconds?)\b"
    )

    def _rewrite_mixed_interval_literal(self, sql: str) -> str:
        """Quoted interval literals that MIX year-month and day-time
        units (``INTERVAL '1 month 2 days 3 hours'``) — valid DuckDB
        calendar intervals that Spark's parser rejects outright
        (Cannot mix year-month and day-time fields; r13 probe batch B)
        → ``make_interval(y, m, w, d, h, mi, s)``, whose
        CalendarIntervalType holds both classes and adds to
        timestamps/dates natively. Single-class literals stay native
        (they keep Spark's comparable ANSI interval types), as does
        anything the term parser doesn't fully consume (Spark then
        raises loudly). Quarters fold to 3 months; DuckDB's per-term
        sign convention ('-1 month 3 days') carries through."""
        return self._sub_code_fn(self._MIXED_IVL_RE, self._translate_mixed_interval, sql)

    def _translate_mixed_interval(self, m) -> str:
        text = m.group(1)
        slots = {"y": 0, "mo": 0, "w": 0, "d": 0, "h": 0, "mi": 0, "s": 0.0}
        unit_of = {
            "year": "y", "month": "mo", "mon": "mo", "quarter": "mo",
            "week": "w", "day": "d", "hour": "h", "hr": "h",
            "minute": "mi", "min": "mi", "second": "s", "sec": "s",
            "millisecond": "s", "microsecond": "s",
        }
        rest, ok, ym, dt = text, True, False, False
        while rest.strip():
            t = self._IVL_TERM_RE.match(rest)
            if not t:
                ok = False
                break
            num, unit = float(t.group(1)), t.group(2).lower().rstrip("s")
            if unit not in unit_of:
                ok = False
                break
            slot = unit_of[unit]
            if unit == "quarter":
                num *= 3
            elif unit == "millisecond":
                num /= 1e3
            elif unit == "microsecond":
                num /= 1e6
            slots[slot] = slots[slot] + num
            ym |= slot in ("y", "mo")
            dt |= slot in ("w", "d", "h", "mi", "s")
            rest = rest[t.end():]
        if not ok or not (ym and dt):
            return m.group(0)
        args = ", ".join(
            str(int(slots[k])) if k != "s" else repr(slots["s"])
            for k in ("y", "mo", "w", "d", "h", "mi", "s")
        )
        return f"make_interval({args})"

    _PM_INTERVAL_RE = re.compile(r"([+\-])\s*(?=INTERVAL\b)", re.I)

    def _rewrite_date_interval_widen(self, sql: str) -> str:
        """``X ± INTERVAL …`` (batch 28, temporal fuzzer): DuckDB widens
        a DATE operand to TIMESTAMP; Spark keeps DATE — the string
        forms silently diverge ('2023-12-01' vs '… 00:00:00'). The
        left operand gets CAST(AS TIMESTAMP) — a no-op for timestamps,
        the DuckDB type for dates. INTERVAL ± INTERVAL is left native
        (same semantics both engines)."""
        pos = 0
        while m := self._search_code(self._PM_INTERVAL_RE, sql, pos):
            # the whole additive chain before ± (DATE '…' + 5 - INTERVAL)
            end = self._ws_left(sql, m.start())
            i = self._operand_start(sql, end, ("+", "-"))
            last = self._chain_start(sql, end)
            operand = "" if i is None else sql[i:end]
            if (
                not operand
                # a bare string or TIME literal, NULL, INTERVAL ± INTERVAL
                or re.match(r"(?i)'|time\s*'|null$|interval\b", operand)
                or self._IVL_HEAD_RE.match(sql, last)
            ):
                pos = m.end() + 8
                continue
            # uq_poly: an INTERVAL-yielding operand (ts - ts chains)
            # can't cast to TIMESTAMP — the probe falls back native
            # (same semantics both engines there)
            repl = f"uq_poly(({operand}), CAST(({operand}) AS TIMESTAMP))"
            sql = sql[:i] + repl + sql[end:]
            pos = i + len(repl) + (m.end() - end) + 8
        return sql

    _GLOB_TVF_RE = re.compile(r"(?i)\b(from|join)\s+glob\s*\(")

    def _translate_glob_tvf(self, m, args: list[str]) -> str:
        """DuckDB ``FROM glob('pattern')`` → inline VALUES of the
        matched paths (column ``file``, sorted — DuckDB's listing
        order). Driver-side resolution rides the same sandbox as every
        read_* path."""
        if len(args) != 1:
            raise UQueryError.sql_error("glob expects one pattern")
        pat = self._lit_parse(args[0].strip())
        if pat is None:
            raise UQueryError.sql_error("glob: pattern must be a literal")
        self.check_path(pat)
        import glob as _glob

        files = sorted(_glob.glob(pat))
        # a user alias after the call (`FROM glob('p') g` / `g(file)`,
        # both DuckDB-accepted) replaces the synthetic one — a double
        # alias is a Spark parse error. Same stop-word scan as
        # _rewrite_information_schema.
        stop_words = {
            "on", "where", "group", "order", "limit", "join", "inner",
            "left", "right", "full", "cross", "union", "except",
            "intersect", "using", "having", "qualify", "offset",
            "fetch", "asof", "positional", "semi", "anti",
        }
        nxt = re.match(r"\s+(?:as\s+)?([A-Za-z_]\w*)", m.string[self._close_of(m) + 1 :])
        user_alias = bool(nxt) and nxt.group(1).lower() not in stop_words
        if files:
            rows = ", ".join(
                "('" + f.replace("'", "''") + "')" for f in files
            )
            body = f"(VALUES {rows}) AS uq_glob(file)"
        else:
            body = (
                "(SELECT CAST(NULL AS STRING) AS file WHERE false) "
                "AS uq_glob"
            )
        if user_alias:
            # keep the column named `file` inside, let the user alias
            # bind to the derived table
            return f"{m.group(1)} (SELECT file FROM {body})"
        return f"{m.group(1)} {body}"

    # -- sweep batch 24: FETCH FIRST / typeof / from_json / array_slice -----

    _FETCH_COMBINED_RE = re.compile(
        r"(?i)\boffset\s+(\d+)\s+rows?\s+fetch\s+(?:first|next)\s*(\d*)\s*rows?\s+only"
    )
    _FETCH_RE = re.compile(r"(?i)\bfetch\s+(?:first|next)\s*(\d*)\s*rows?\s+only")
    _OFFSET_ROWS_RE = re.compile(r"(?i)\boffset\s+(\d+)\s+rows?\b")

    _ARRAY_SLICE_RE = re.compile(r"(?i)\b(array_slice|list_slice)\s*\(")

    def _translate_array_slice_fn(self, m, args):
        """array_slice(l, a, b[, step]) → the bracket form (l)[a:b[:s]]
        (inherits its negative-index, step, and string-polymorphism
        handling). Also consumes the
        4-arg STEP form of list_slice (r13 wave-15 — previously a loud
        wrong-arity error); 3-arg list_slice stays with its own later
        pass (positive-inclusive slice(), no probe round-trip)."""
        if m.group(1).lower() == "list_slice" and len(args) != 4:
            return None
        if len(args) not in (3, 4):
            raise UQueryError.sql_error(
                "array_slice expects (list, begin, end[, step])"
            )
        return f"(({args[0]}))[{':'.join(args[1:])}]"

    def _rewrite_fetch_first(self, sql: str) -> str:
        """SQL-standard ``FETCH FIRST/NEXT [n] ROWS ONLY`` → LIMIT, and
        ``OFFSET n ROWS`` → OFFSET n. The standard puts OFFSET before
        FETCH; Spark's grammar wants LIMIT before OFFSET — the combined
        form swaps them."""
        sql = self._sub_code_fn(
            self._FETCH_COMBINED_RE,
            lambda m: f"LIMIT {m.group(2) or '1'} OFFSET {m.group(1)}",
            sql,
        )
        sql = self._sub_code_fn(
            self._FETCH_RE, lambda m: f"LIMIT {m.group(1) or '1'}", sql
        )
        return self._sub_code_fn(
            self._OFFSET_ROWS_RE, lambda m: f"OFFSET {m.group(1)}", sql
        )

    _DUCK_TO_SPARK_TYPE = {
        "VARCHAR": "STRING", "BIGINT": "BIGINT", "UBIGINT": "BIGINT",
        "INTEGER": "INT", "UINTEGER": "BIGINT", "SMALLINT": "SMALLINT",
        "USMALLINT": "INT", "TINYINT": "TINYINT", "UTINYINT": "SMALLINT",
        "DOUBLE": "DOUBLE", "FLOAT": "FLOAT", "REAL": "FLOAT",
        "BOOLEAN": "BOOLEAN", "DATE": "DATE", "TIMESTAMP": "TIMESTAMP",
        "TIME": "STRING", "BLOB": "BINARY", "JSON": "STRING",
        "NULL": "STRING", "UUID": "STRING", "HUGEINT": "DECIMAL(38,0)",
    }

    @classmethod
    def _spark_schema_of(cls, v) -> str:
        """DuckDB json_structure-style type skeleton → Spark DDL type."""
        if isinstance(v, str):
            t = v.strip()
            if t.endswith("[]"):
                return f"ARRAY<{cls._spark_schema_of(t[:-2])}>"
            up = t.upper()
            if up.startswith("DECIMAL"):
                return up
            if up in cls._DUCK_TO_SPARK_TYPE:
                return cls._DUCK_TO_SPARK_TYPE[up]
            raise UQueryError.sql_error(f"from_json: unsupported type '{t}'")
        if isinstance(v, list):
            if len(v) != 1:
                raise UQueryError.sql_error(
                    "from_json: array structure must have one element type"
                )
            return f"ARRAY<{cls._spark_schema_of(v[0])}>"
        if isinstance(v, dict):
            fields = ", ".join(
                f"`{k}`: {cls._spark_schema_of(x)}" for k, x in v.items()
            )
            return f"STRUCT<{fields}>"
        raise UQueryError.sql_error("from_json: invalid structure literal")

    _FROM_JSON_RE = re.compile(r"(?i)\b(from_json|json_transform)\s*\(")

    def _translate_from_json(self, m, args: list[str]) -> str:
        """DuckDB ``from_json(j, structure)`` / ``json_transform`` →
        per-field try_variant_get over parse_json (round 11 — replaced
        the from_json emission, which silently yielded NULL for
        string-encoded scalars where DuckDB coerces: '{"a":"5"}' with
        a BIGINT target is 5 there). The structure literal translates
        to Spark DDL types ('{"a":"BIGINT"}' → '$\\.a' as BIGINT);
        JSON-'null' (and SQL NULL) input → NULL like DuckDB; malformed
        documents now ERROR like DuckDB (parse_json raises — the old
        PERMISSIVE struct-of-NULLs laxness is gone). Integer targets
        detour via DOUBLE + round() (DuckDB rounds 5.9→6, variant
        casting truncates); the same fractional corner nested inside
        containers still truncates (documented). Non-literal
        structures raise."""
        if len(args) != 2:
            raise UQueryError.sql_error(
                f"{m.group(1)} expects (json, structure)"
            )
        struct_lit = self._lit_parse(args[1].strip())
        if struct_lit is None:
            raise UQueryError.sql_error(
                f"{m.group(1)}: structure must be a string literal"
            )
        import json as _json

        try:
            schema = self._spark_schema_of(_json.loads(struct_lit))
        except UQueryError:
            raise
        except Exception as exc:
            raise UQueryError.sql_error(
                f"{m.group(1)}: invalid structure: {exc}"
            ) from exc
        j = args[0]
        # Round 11 (wave-8 catch): Spark's from_json does NOT
        # coerce string-encoded scalars ('{"a":"5"}' with a BIGINT
        # → null — a SILENT wrong value; DuckDB yields 5), but
        # try_variant_get does, with DuckDB's exact lenient rules
        # (probed: "5"→5, "abc"→NULL, true→1, 7→'7', per-element
        # inside arrays). Top-level struct fields extract
        # per-field; integer targets detour via DOUBLE + round()
        # because DuckDB ROUNDS fractional→integer (5.9→6) where
        # variant casting truncates. Deviation (documented):
        # fractional→integer coercion nested INSIDE containers
        # still truncates (no per-element rounding hook).
        structure = _json.loads(struct_lit)
        var = f"parse_json(({j}))"
        int_types = {
            "TINYINT", "SMALLINT", "INTEGER", "INT", "BIGINT",
            "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT", "HUGEINT",
        }
        if isinstance(structure, dict):
            parts = []
            for k, tspec in structure.items():
                path = "$." + k
                fddl = self._spark_schema_of(tspec)
                if isinstance(tspec, str) and tspec.strip().upper() in int_types:
                    # Detour via DOUBLE + round ONLY for fractional
                    # values (DuckDB rounds 5.9→6 where variant
                    # casting truncates); exact integers take the
                    # lossless bigint path — round(double) would
                    # silently lose precision above 2^53 (ADVICE
                    # r12: '{"a":9007199254740993}' with a BIGINT
                    # target). A non-numeric value makes the CASE
                    # condition NULL → falls to the bigint arm,
                    # which yields NULL like DuckDB.
                    vd = f"try_variant_get({var}, '{path}', 'double')"
                    fx = (
                        f"(CASE WHEN {vd} != floor({vd}) "
                        f"THEN CAST(round({vd}) AS {fddl}) "
                        f"ELSE CAST(try_variant_get({var}, '{path}', "
                        f"'bigint') AS {fddl}) END)"
                    )
                else:
                    fx = f"try_variant_get({var}, '{path}', '{fddl}')"
                parts.append(f"'{k}', {fx}")
            body = f"named_struct({', '.join(parts)})"
        else:
            body = f"try_variant_get({var}, '$', '{schema}')"
        return (
            f"(CASE WHEN ({j}) IS NULL OR trim(({j})) = 'null' "
            f"THEN CAST(NULL AS {schema}) "
            f"ELSE {body} END)"
        )

    # -- sweep batch 22: printf / graphemes / AT TIME ZONE ------------------

    _PRINTF_RE = re.compile(r"(?i)\bprintf\s*\(")
    _B23_FN_RE = re.compile(
        r"(?i)\b(timezone|bar|bitstring|date_trunc|datetrunc|typeof|age)\s*\("
    )
    # DuckDB date_trunc returns DATE for day-and-coarser units (Spark is
    # always TIMESTAMP); units Spark's date_trunc lacks raise
    _TRUNC_DATE_UNITS = {"year", "quarter", "month", "week", "day"}
    _TRUNC_TS_UNITS = {
        "hour", "minute", "second", "millisecond", "microsecond",
        "milliseconds", "microseconds",
    }

    def _translate_timezone_bar_date_trunc(self, m, args: list[str]) -> str:
        """Batch-23 sweep:

        - timezone(zone, ts) IS ``ts AT TIME ZONE zone`` → the same
          to_utc/from_utc mirror (1-arg timezone() still raises);
        - bar(x, min, max[, width=80]) → exact DuckDB rendering UDF
          (eighth blocks, byte-width space padding);
        - bitstring(s, n) → zero-pad (DuckDB errors when n < length —
          reproduced via raise_error). Partial support: the BIT type
          itself stays unsupported, this is the display form;
        - date_trunc/datetrunc with a literal day-or-coarser unit →
          CAST(... AS DATE) (DuckDB returns DATE there, Spark always
          TIMESTAMP — the string forms silently diverge otherwise);
          decade/century/millennium/isoyear/era raise (no Spark unit).
        """
        fn = m.group(1).lower()
        if fn == "age":
            # batch 28: DuckDB/postgres calendar decomposition as
            # its DISPLAY STRING (DuckDB's mixed calendar INTERVAL
            # has no Spark type — string compare/display match,
            # interval arithmetic on the result fails loudly;
            # documented width deviation). 1-arg = vs current_date.
            if len(args) not in (1, 2):
                raise UQueryError.sql_error("age expects 1 or 2 args")
            from .functions.parity_udfs import register_parity_udfs

            register_parity_udfs(self.spark)
            a0 = (
                f"CAST(({args[0]}) AS TIMESTAMP)"
                if len(args) == 2
                else "CAST(current_date AS TIMESTAMP)"
            )
            a1 = f"CAST(({args[-1]}) AS TIMESTAMP)"
            repl = f"uq_age({a0}, {a1})"
            return repl
        if fn == "typeof":
            # batch 24: Spark typenames → DuckDB ('int' → INTEGER,
            # 'array<int>' → INTEGER[], struct/map recursively)
            if len(args) != 1:
                raise UQueryError.sql_error("typeof expects 1 arg")
            from .functions.parity_udfs import register_parity_udfs

            register_parity_udfs(self.spark)
            repl = f"uq_duck_typename(typeof(({args[0]})))"
            return repl
        if fn == "timezone":
            if len(args) == 1:
                # round 7: 1-arg timezone(ts) is the UTC-offset in
                # SECONDS of the session zone — 0 in the UTC session
                # this gateway pins (same shape as timezone_hour;
                # NULL-propagating; DuckDB-probed). A string LITERAL
                # arg is a binder error in DuckDB (timezone('UTC') —
                # no VARCHAR overload): raise like it does.
                if self._lit_parse(args[0].strip()) is not None:
                    raise UQueryError.sql_error(
                        "timezone(): no overload for a VARCHAR "
                        "argument (DuckDB binder error reproduced)"
                    )
                repl = (
                    f"(CASE WHEN CAST(({args[0]}) AS TIMESTAMP) IS NULL "
                    f"THEN CAST(NULL AS BIGINT) ELSE 0 END)"
                )
                return repl
            if len(args) != 2:
                raise UQueryError.sql_error(
                    "timezone() is only supported as timezone(zone, ts)"
                )
            z, x = args
            tfn = (
                "from_utc_timestamp"
                if re.match(r"(?i)^\(*\s*to_utc_timestamp\s*\(", x)
                else "to_utc_timestamp"
            )
            repl = f"{tfn}(({x}), ({z}))"
        elif fn == "bar":
            if len(args) not in (3, 4):
                raise UQueryError.sql_error(
                    "bar expects (x, min, max[, width])"
                )
            w = args[3] if len(args) == 4 else "80"
            from .functions.parity_udfs import register_parity_udfs

            register_parity_udfs(self.spark)
            repl = (
                f"uq_bar(CAST(({args[0]}) AS DOUBLE), "
                f"CAST(({args[1]}) AS DOUBLE), "
                f"CAST(({args[2]}) AS DOUBLE), CAST(({w}) AS DOUBLE))"
            )
        elif fn == "bitstring":
            if len(args) != 2:
                raise UQueryError.sql_error("bitstring expects (string, length)")
            s, n = args
            repl = (
                f"(CASE WHEN length(({s})) > ({n}) THEN "
                f"CAST(raise_error('bitstring: Length must be equal or "
                f"larger than input string') AS STRING) "
                f"ELSE lpad(({s}), CAST(({n}) AS INT), '0') END)"
            )
        else:  # date_trunc / datetrunc
            unit = (self._lit_parse(args[0].strip()) or "").lower() if args else ""
            if len(args) != 2 or not unit:
                # non-literal unit: native pass-through (datetrunc renamed)
                repl = f"date_trunc({', '.join(args)})"
            elif unit in self._TRUNC_DATE_UNITS:
                repl = f"CAST(date_trunc('{unit}', ({args[1]})) AS DATE)"
            elif unit in self._TRUNC_TS_UNITS:
                repl = f"date_trunc('{unit}', ({args[1]}))"
            else:
                raise UQueryError.sql_error(
                    f"date_trunc: unit '{unit}' has no Spark equivalent"
                )
        return repl

    _PRINTF_SPEC_RE = re.compile(r"%(?:(\d+)\$)?[-+ #0]*\d*(?:\.\d+)?([a-zA-Z%])")
    _SUBSTR_G_RE = re.compile(r"(?i)\bsubstring_grapheme\s*\(")
    _SPLIT_PART_RE = re.compile(r"(?i)\bsplit_part\s*\(")
    _AT_TZ_RE = re.compile(r"(?i)\bat\s+time\s+zone\s+('(?:[^']|'')*')")

    def _rewrite_printf_graphemes_at_time_zone(self, sql: str) -> str:
        """Batch-22 sweep:

        - printf → format_string with spec-driven argument casts
          (DuckDB's fmt engine vs Java's Formatter): %d/%i/%x/%X/%o/%b
          args cast BIGINT (%i itself becomes %d — Java rejects it),
          %f/%e/%E args cast DOUBLE (Java rejects DECIMAL), %c casts
          INT; %g raises (C strips trailing zeros, Java does not —
          mistranslation would be silent); non-literal formats raise.
          Deviation: DuckDB is type-STRICT (%s with an int errors) —
          Java happily stringifies, so we are laxer, never wrong-valued;
        - substring_grapheme → grapheme-cluster UDFs with DuckDB's
          substring window rules (negative start from the end, negative
          length takes the window before);
        - split_part with a LITERAL index 0 → '' (DuckDB returns
          empty; Spark raises). A runtime 0 still raises — loud, never
          silent;
        - ``x AT TIME ZONE 'z'`` → to_utc_timestamp (naive wall time in
          z → instant), and the chained tstz form
          ``(x AT TIME ZONE 'a') AT TIME ZONE 'b'`` → from_utc ∘ to_utc
          (wall-time conversion between zones). Display deviation:
          DuckDB renders the single-application TIMESTAMPTZ result with
          a '+00' suffix in a UTC session — compare via epoch or CAST.
        """
        sql = self._map_calls(self._PRINTF_RE, self._translate_printf, sql)

        def substr_grapheme(m, args):
            if len(args) == 2:
                repl = f"uq_substr_grapheme2(({args[0]}), CAST(({args[1]}) AS INT))"
            elif len(args) == 3:
                repl = (
                    f"uq_substr_grapheme3(({args[0]}), "
                    f"CAST(({args[1]}) AS INT), CAST(({args[2]}) AS INT))"
                )
            else:
                raise UQueryError.sql_error(
                    "substring_grapheme expects (string, start[, length])"
                )
            from .functions.parity_udfs import register_parity_udfs

            register_parity_udfs(self.spark)
            return repl

        sql = self._map_calls(self._SUBSTR_G_RE, substr_grapheme, sql)
        sql = self._map_calls(
            self._SPLIT_PART_RE,
            lambda m, args: "''" if len(args) == 3 and args[2] == "0" else None,
            sql,
        )
        while True:
            m = self._search_code(self._AT_TZ_RE, sql)
            if not m:
                return sql
            zone = m.group(1)

            i = self._chain_start(sql, m.start())
            if i is None:
                raise UQueryError.sql_error("AT TIME ZONE: missing operand")
            operand = sql[i : m.start()].rstrip()
            fn = (
                "from_utc_timestamp"
                if re.match(r"(?i)^\(*\s*to_utc_timestamp\s*\(", operand)
                else "to_utc_timestamp"
            )
            sql = sql[:i] + f"{fn}({operand}, {zone})" + sql[m.end() :]

    def _translate_printf(self, m, args: list[str]) -> str:
        if not (args[0].startswith("'") and args[0].endswith("'")):
            raise UQueryError.sql_error(
                "printf: only literal format strings are supported"
            )
        fmt = args[0][1:-1]
        casts = []
        g_spans = []  # (start, end, full_spec) of %g/%G occurrences
        for sm in self._PRINTF_SPEC_RE.finditer(fmt):
            conv = sm.group(2)
            if conv == "%":
                continue
            if sm.group(1):
                raise UQueryError.sql_error(
                    "printf: positional specifiers are not supported"
                )
            if conv in ("g", "G"):
                # round 7: %g graduates from raise — rendered by
                # uq_fmt_g (Python %-format IS C printf: strips
                # trailing zeros where Java's %g keeps them); the
                # spec becomes %s in the Java format string and the
                # full C spec travels to the UDF verbatim
                casts.append("UQ_G:" + sm.group(0))
                g_spans.append((sm.start(), sm.end()))
                continue
            if conv not in "dioxXbeEfFsc":
                raise UQueryError.sql_error(f"printf: unsupported %{conv}")
            casts.append(
                {
                    "d": "BIGINT", "i": "BIGINT", "o": "BIGINT",
                    "x": "BIGINT", "X": "BIGINT", "b": "BIGINT",
                    "e": "DOUBLE", "E": "DOUBLE", "f": "DOUBLE",
                    "F": "DOUBLE", "c": "INT", "s": None,
                }[conv]
            )
        for start, end in reversed(g_spans):
            fmt = fmt[:start] + "%s" + fmt[end:]
        fmt = re.sub(r"%([-+ #0]*\d*(?:\.\d+)?)i", r"%\1d", fmt)
        vals = args[1:]
        if len(vals) != len(casts):
            raise UQueryError.sql_error(
                f"printf: format has {len(casts)} specifier(s) but "
                f"{len(vals)} argument(s) were passed"
            )
        if g_spans:
            from .functions.parity_udfs import register_parity_udfs

            register_parity_udfs(self.spark)

        def _arg(v, c):
            if isinstance(c, str) and c.startswith("UQ_G:"):
                spec = c[5:].replace("'", "''")
                return f"uq_fmt_g(CAST(({v}) AS DOUBLE), '{spec}')"
            return f"CAST(({v}) AS {c})" if c else f"({v})"

        out = [f"'{fmt}'"] + [_arg(v, c) for v, c in zip(vals, casts)]
        return f"format_string({', '.join(out)})"

    # -- sweep batch 21: the JSON tail --------------------------------------

    # NB: longer names that share prefixes (json_array_length, json_keys,
    # json_extract…) can't match — every alternative requires '(' right
    # after the name. json_array_length is natively identical (verified).
    _B21_JSON_RE = re.compile(
        r"(?i)(?<![\w.])(json_object|json_array|json_quote|"
        r"json_merge_patch|json_structure|json_type|json_contains|"
        r"json_group_structure|json_group_array|json_group_object|"
        r"row_to_json|json)\s*\("
    )
    _JSON_OPTS = "map('ignoreNullFields', 'false')"

    # calls whose RESULT is already JSON text — nested inside another
    # batch-21 constructor they splice raw instead of re-encoding as a
    # quoted string (DuckDB's JSON logical type nests structurally)
    _B21_PRODUCER_RE = re.compile(
        r"(?i)^[\s(]*(json_object|json_array|json_quote|json_merge_patch|"
        r"json_group_array|json_group_object|row_to_json|json)\s*\("
    )

    def _jenc(self, v: str) -> str:
        """Scalar→JSON text via Spark's own to_json writer: encode
        named_struct('x', v) (constant '{"x":' prefix, 5 chars) and slice
        the value out. NULL encodes as 'null' (ignoreNullFields off).
        Matches DuckDB's yyjson output for strings/numbers/bools/dates/
        lists/structs; TIMESTAMP args deviate (ISO 'T' form vs DuckDB's
        space-separated) — cast to VARCHAR first for byte parity."""
        tj = f"to_json(named_struct('x', ({v})), {self._JSON_OPTS})"
        return f"substr({tj}, 6, length({tj}) - 6)"

    def _jenc_val(self, raw_arg: str, translated: str) -> str:
        """JSON-encode a value position: a nested batch-21 producer is
        already JSON text and splices raw (SQL NULL → 'null' to keep the
        element, like DuckDB); anything else goes through the encoder.
        (Limitation: json_extract results — translated before this pass
        runs — re-encode as strings; cast via ->> for raw splicing.)"""
        if self._B21_PRODUCER_RE.match(raw_arg):
            return f"coalesce(({translated}), 'null')"
        return self._jenc(translated)

    def _rewrite_json_functions(self, sql: str) -> str:
        """Batch-21 sweep — DuckDB's json extension tail (semantics
        probed on DuckDB 1.0, pinned in tests/test_parity_udfs.py):

        - json_object: pairwise; a NULL KEY drops the pair (→ '{}'),
          duplicate keys are KEPT, non-literal keys work (encoded via
          CAST AS STRING); NULL values encode as null;
        - json_array: positional, NULL → 'null', empty → '[]';
        - json_quote: scalar/compound encode, SQL NULL → NULL (not
          'null' — DuckDB-verified asymmetry vs json_array);
        - row_to_json: struct encode (same writer);
        - json(x): minify round-trip (UDF; malformed raises like
          DuckDB);
        - json_merge_patch: RFC 7386 left-fold for n args, strict on
          SQL NULL;
        - json_structure: type skeleton (UBIGINT/BIGINT/DOUBLE widening,
          NULL wildcard, object key union, conflict → "JSON");
        - json_type: 1- and 2-arg (path: $-JSONPath subset, JSON
          Pointer, bare key; missing path → NULL);
        - json_contains: recursive containment (object subset, array
          set-containment, scalar descent);
        - json_group_array/json_group_object: aggregate forms over
          collect_list / map_from_entries (array form keeps NULLs as
          'null'; element order is input order on both engines — at
          32-partition scale Spark's order is partition order, same
          caveat as 1-arg string_agg);
        - json_array_length: rename (both count top-level elements).
        """
        if not self._call_args(self._B21_JSON_RE, sql):
            return sql
        from .functions.parity_udfs import register_parity_udfs

        register_parity_udfs(self.spark)
        return self._map_calls(self._B21_JSON_RE, self._translate_json_function, sql)

    def _translate_json_function(self, m, args: list[str]) -> str:
        fn = m.group(1).lower()
        raw = m.string[m.end() : self._close_of(m)]
        raw_args = [a.strip() for a in self._split_top(raw, ",") if a.strip()]
        args = [a for a in args if a]
        if fn == "json_object":
            if len(args) % 2:
                raise UQueryError.sql_error(
                    "json_object expects an even number of arguments"
                )
            pairs = [
                f"CASE WHEN ({k}) IS NULL THEN NULL ELSE "
                f"concat({self._jenc(f'CAST(({k}) AS STRING)')}, ':', "
                f"{self._jenc_val(rv, v)}) END"
                for (k, v, rv) in zip(args[::2], args[1::2], raw_args[1::2])
            ]
            body = f"concat_ws(',', {', '.join(pairs)})" if pairs else "''"
            repl = f"concat('{{', {body}, '}}')"
        elif fn == "json_array":
            body = (
                "concat_ws(',', "
                + ", ".join(
                    self._jenc_val(r, a) for r, a in zip(raw_args, args)
                )
                + ")"
                if args
                else "''"
            )
            repl = f"concat('[', {body}, ']')"
        elif fn in ("json_quote", "row_to_json"):
            if len(args) != 1:
                raise UQueryError.sql_error(f"{fn} expects 1 arg")
            repl = (
                f"(CASE WHEN ({args[0]}) IS NULL THEN CAST(NULL AS STRING) "
                f"ELSE {self._jenc(args[0])} END)"
            )
        elif fn == "json":
            if len(args) != 1:
                raise UQueryError.sql_error("json expects 1 arg")
            repl = f"uq_json_minify(({args[0]}))"
        elif fn == "json_merge_patch":
            if len(args) < 2:
                raise UQueryError.sql_error(
                    "json_merge_patch expects at least 2 args"
                )
            repl = f"({args[0]})"
            for a in args[1:]:
                repl = f"uq_json_merge_patch({repl}, ({a}))"
        elif fn == "json_structure":
            repl = f"uq_json_structure(({args[0]}))"
        elif fn == "json_type":
            if len(args) == 1:
                repl = f"uq_json_type1(({args[0]}))"
            elif len(args) == 2:
                repl = f"uq_json_type2(({args[0]}), ({args[1]}))"
            else:
                raise UQueryError.sql_error("json_type expects 1 or 2 args")
        elif fn == "json_contains":
            if len(args) != 2:
                raise UQueryError.sql_error(
                    "json_contains expects (haystack, needle)"
                )
            repl = f"uq_json_contains(({args[0]}), ({args[1]}))"
        elif fn == "json_group_structure":
            if len(args) != 1:
                raise UQueryError.sql_error(
                    "json_group_structure expects 1 arg"
                )
            # Per-row structure extraction runs map-side; only
            # DISTINCT structure strings (bounded by schema
            # complexity, not rows — merge is commutative/
            # associative/idempotent, so collect_set is sound)
            # reach the final fold. Parse semantics — consistent
            # with json_structure and an explicit ::JSON cast;
            # DuckDB 1.0.0's bare-VARCHAR aggregate wraps the text
            # as a JSON string scalar instead (probed '"VARCHAR"'),
            # inconsistent with its own scalar function — the
            # oracle entry pins through ::JSON where all versions
            # parse. Empty/all-NULL group → NULL like DuckDB.
            repl = (
                f"uq_json_structs_merge(collect_set("
                f"uq_json_structure(CAST(({args[0]}) AS STRING))))"
            )
        elif fn == "json_group_array":
            if len(args) != 1:
                raise UQueryError.sql_error("json_group_array expects 1 arg")
            # empty group → NULL (DuckDB's macro is string_agg-based)
            cl = f"collect_list({self._jenc_val(raw_args[0], args[0])})"
            repl = (
                f"IF(size({cl}) = 0, CAST(NULL AS STRING), "
                f"concat('[', concat_ws(',', {cl}), ']'))"
            )
        else:  # json_group_object
            if len(args) != 2:
                raise UQueryError.sql_error(
                    "json_group_object expects (key, value)"
                )
            k, v = args
            cl = f"collect_list(struct(CAST(({k}) AS STRING) AS k, ({v}) AS v))"
            repl = (
                f"IF(size({cl}) = 0, CAST(NULL AS STRING), "
                f"to_json(map_from_entries({cl}), {self._JSON_OPTS}))"
            )
        return repl

    # -- sweep batch 20 -----------------------------------------------------

    # 2!..33! — DuckDB's factorial range is HUGEINT (int128): 33! is the
    # last value that fits, 34! raises Out of Range. DECIMAL(38,0) holds
    # all of them (33! has 37 digits).
    _FACTORIALS = [str(__import__("math").factorial(n)) for n in range(2, 34)]
    _LIST_DISTINCT_RE = re.compile(r"(?i)\b(?:list|array)_distinct\s*\(")

    def _translate_list_distinct(self, m, args):
        """DuckDB list_distinct/array_distinct REMOVE NULL elements
        (list_distinct([5,NULL,7,NULL]) = [7,5], list_distinct([NULL])
        = [] — probed; nested-fuzzer catch round 7) where Spark's
        array_distinct keeps one NULL → filter first. The passes that
        emit Spark's native array_distinct internally (entropy/
        histogram/jaccard translations) run later: their NULL handling
        was probed per-function and must stay untouched. Element
        order remains a documented deviation (both engines:
        implementation-defined)."""
        if len(args) != 1:
            raise UQueryError.sql_error("list_distinct expects 1 arg")
        return f"array_distinct(filter(({args[0]}), uq_ld -> uq_ld IS NOT NULL))"

    _LIST_ZIP_RE = re.compile(r"(?i)\b(?:list|array)_zip\s*\(")

    def _translate_list_zip(self, m, args: list[str]) -> str:
        """list_zip/array_zip → transform over an index sequence into
        named_structs with DuckDB's field names (list_1..list_n;
        arrays_zip would name them 0/1 — probed). NULL-pads to the
        LONGEST list (a NULL list contributes NULLs but no length);
        a literal trailing true/false is DuckDB's truncate flag →
        least() of the sizes instead. slice(…, 1, n) handles the
        empty result (Spark sequence(1, 0) would count DOWN).

        Known schema deviation (documented, like the unnamed-struct
        note): a LITERAL NULL list's struct field is emitted as
        CAST(NULL AS STRING) — Spark's bare NULL is VOID-typed and
        there is no expression context at rewrite time to derive the
        element type DuckDB's binder would infer. Values match DuckDB
        exactly (all NULL); only the field's declared type diverges
        for non-string sibling lists (ADVICE r13)."""
        if not args[0]:
            raise UQueryError.sql_error("list_zip expects at least 1 list")
        agg, trunc = "greatest", False
        last = args[-1].strip().lower()
        if last in ("true", "false"):
            trunc = last == "true"
            args = args[:-1]
            if trunc:
                agg = "least"
            if not args:
                raise UQueryError.sql_error(
                    "list_zip expects at least 1 list"
                )
        def _is_null_lit(a: str) -> bool:
            return a.strip().upper() == "NULL"

        # a literal NULL list contributes NULLs but no length
        # (DuckDB-probed: list_zip([1,2], NULL) → 2 null-padded
        # entries); its bare NULL is VOID-typed in Spark, which
        # size()/element_at() reject at analysis
        size_terms = [
            "0" if _is_null_lit(a) else f"coalesce(size(({a})), 0)"
            for a in args
        ]
        n = f"{agg}({', '.join(size_terms)})" if len(args) > 1 else size_terms[0]
        fields = ", ".join(
            f"'list_{i + 1}', "
            + (
                "CAST(NULL AS STRING)"
                if _is_null_lit(a)
                else f"try_element_at(({a}), uq_zi)"
            )
            for i, a in enumerate(args)
        )
        return (
            f"slice(transform(sequence(1, greatest(1, {n})), "
            f"uq_zi -> named_struct({fields})), 1, {n})"
        )

    _MAP_CONCAT_RE = re.compile(r"(?i)\bmap_concat\s*\(")

    def _translate_map_concat(self, m, args):
        """DuckDB map_concat keeps the LAST value for a duplicated key
        AT THE FIRST map's key position (probed: map_concat({'a':1},
        {'b':2,'a':9}) renders keys [a, b] with a=9) where Spark's
        raises DUPLICATED_MAP_KEY (round-12 wave-11 — a loud error on
        DuckDB-valid input) → left fold of a 2-map combine: the left
        map's colliding VALUES are overwritten in place
        (transform_values keeps key order), then only the right map's
        NEW keys append (ADVICE r13 — the earlier filter-left emission
        re-positioned colliding keys at the right map's slot, a
        rendered-key-order divergence). Single-arg calls pass through;
        repeated operand references collapse under Catalyst CSE."""
        if len(args) < 2:
            return None
        repl = args[0]
        for b in args[1:]:
            repl = (
                f"map_concat(transform_values(({repl}), (uq_mk, uq_mv) -> "
                f"IF(array_contains(map_keys(({b})), uq_mk), "
                f"try_element_at(({b}), uq_mk), uq_mv)), "
                f"map_filter(({b}), (uq_mk, uq_mv) -> "
                f"NOT array_contains(map_keys(({repl})), uq_mk)))"
            )
        return repl

    _B20_FN_RE = re.compile(
        r"(?i)\b(flatten|factorial|trunc|list_contains|array_contains|"
        r"list_position|list_indexof|array_indexof|"
        r"list_append|list_prepend|"
        r"setseed|current_setting)\s*\("
    )
    # postfix factorial: operand ends with \w / ) / ] and the '!' is not
    # part of != / !~ (operator-symbols has consumed !~ by this point)
    _BANG_RE = re.compile(r"(?<=[\w)\]\"])\s*!(?![=~])")

    def _factorial_case(self, n: str) -> str:
        lut = ", ".join(f"CAST('{v}' AS DECIMAL(38,0))" for v in self._FACTORIALS)
        return (
            f"(CASE WHEN ({n}) IS NULL THEN CAST(NULL AS DECIMAL(38,0)) "
            f"WHEN ({n}) > 33 THEN CAST(raise_error('factorial: value out of "
            f"range') AS DECIMAL(38,0)) "
            f"WHEN ({n}) <= 1 THEN CAST(1 AS DECIMAL(38,0)) "
            f"ELSE element_at(array({lut}), CAST(({n}) AS INT) - 1) END)"
        )

    # postfix ! binds looser than every binary operator DuckDB's
    # arithmetic and || use (1 + 2! is 3!); power is a call by now
    _BANG_OPS = ("||", "//", "+", "-", "*", "/", "%")

    def _rewrite_postfix_factorial(self, sql: str) -> str:
        """DuckDB postfix ``n!`` = factorial (5! = 120). Runs after the
        operator-symbols pass so ``!~`` is already consumed; ``!=`` is
        excluded by lookahead. The operand is the whole arithmetic
        expression before the ``!``, a unary sign included (-3! is
        (-3)!); a fractional numeric literal raises like DuckDB's
        binder does."""
        while True:
            m = self._search_code(self._BANG_RE, sql)
            if not m:
                return sql
            i = self._operand_start(sql, m.start(), self._BANG_OPS, sign=True)
            if i is None:
                raise UQueryError.sql_error("'!': missing operand for factorial")
            operand = sql[i : m.start()].strip()
            if re.fullmatch(r"\d+\.\d+", operand):
                raise UQueryError.sql_error(
                    "factorial (!) requires an integer operand"
                )
            sql = sql[:i] + f"factorial({operand})" + sql[m.end() :]

    def _rewrite_flatten_factorial_contains(self, sql: str) -> str:
        """Batch-20 sweep:

        - flatten: DuckDB SKIPS NULL sublists (flatten([[1],NULL,[2]]) =
          [1,2]) where Spark returns NULL → filter first (null ELEMENTS
          inside sublists are kept by both);
        - factorial / postfix ``!`` → DECIMAL(38,0) lookup (DuckDB:
          HUGEINT; n<=1 → 1 incl. negatives, n>33 raises — all
          DuckDB-verified). Width deviation: DECIMAL vs HUGEINT, same
          digits;
        - 1-arg trunc → CASE floor/ceil (Spark trunc is date-only;
          toward-zero truncation verified incl. negatives). Type
          deviation: DOUBLE input yields BIGINT (DuckDB keeps DOUBLE) —
          same value; 2-arg calls stay native (Spark date trunc);
        - list_contains/array_contains: DuckDB returns FALSE when the
          value is absent from a null-bearing list and NULL for a NULL
          needle; Spark's three-valued array_contains returns NULL for
          both → CASE + coalesce(..., false) (the ifnull on the needle
          types untyped NULL literals; the CASE short-circuits before it
          matters);
        - setseed → typed-NULL no-op (random() is documented
          engine-specific — seeding cannot carry across engines);
        - current_setting raises (engine-specific configuration keys).
        """
        sql = self._rewrite_postfix_factorial(sql)
        return self._map_calls(self._B20_FN_RE, self._translate_flatten_factorial_contains, sql)

    def _translate_flatten_factorial_contains(self, m, args: list[str]) -> str | None:
        fn = m.group(1).lower()
        a0 = args[0]
        if fn == "current_setting":
            raise UQueryError.sql_error(
                "current_setting() is engine-specific and not supported"
            )
        if fn == "flatten":
            if len(args) != 1:
                raise UQueryError.sql_error("flatten expects 1 arg")
            repl = f"flatten(filter(({a0}), uq_fl -> uq_fl IS NOT NULL))"
        elif fn == "factorial":
            if len(args) != 1:
                raise UQueryError.sql_error("factorial expects 1 arg")
            repl = self._factorial_case(a0)
        elif fn == "trunc":
            if len(args) != 1:
                return None  # Spark's own date trunc(date, fmt)
            repl = (
                f"(CASE WHEN ({a0}) >= 0 THEN floor(({a0})) "
                f"ELSE ceil(({a0})) END)"
            )
        elif fn in ("list_position", "list_indexof", "array_indexof"):
            if len(args) != 2:
                raise UQueryError.sql_error(f"{fn} expects (list, value)")
            a, x = a0, args[1]
            # DuckDB coerces the needle's numeric width; Spark's
            # array_position is type-strict (fuzzer catch, batch
            # 28). The native form probes first; mismatched widths
            # fall back to the both-sides-widened form.
            # DOUBLE on both sides: Spark demands EXACT type match
            # down to decimal precision; arithmetic re-unification
            # still disagreed (probed) — the double cast is the
            # only stable meeting point for mixed numerics
            widened = (
                f"array_position("
                f"transform(({a}), uq_pe -> CAST(uq_pe AS DOUBLE)), "
                f"CAST(({x}) AS DOUBLE))"
            )
            repl = f"uq_poly({widened}, array_position(({a}), ({x})))"
        elif fn in ("list_append", "list_prepend"):
            if len(args) != 2:
                raise UQueryError.sql_error(f"{fn} expects 2 args")
            # DuckDB coerces numeric widths; Spark's array_append/
            # prepend are type-strict (nested-fuzzer catch) —
            # native probes first, mixed widths fall back to
            # both-sides-DOUBLE
            if fn == "list_append":
                a, x, out = a0, args[1], "array_append"
            else:
                x, a, out = a0, args[1], "array_prepend"
            widened = (
                f"{out}(transform(({a}), uq_pe -> CAST(uq_pe AS DOUBLE)), "
                f"CAST(({x}) AS DOUBLE))"
            )
            repl = f"uq_poly({widened}, {out}(({a}), ({x})))"
        elif fn == "setseed":
            repl = "CAST(NULL AS DOUBLE)"
        else:  # list_contains / array_contains
            if len(args) != 2:
                raise UQueryError.sql_error(f"{fn} expects (list, value)")
            a, x = a0, args[1]
            # the ifnull wrappers only TYPE untyped NULL literals
            # (either side) — the CASE short-circuits before they
            # could change a value
            ta = f"ifnull(({a}), array(({x})))"
            repl = (
                f"(CASE WHEN ({x}) IS NULL OR ({a}) IS NULL "
                f"THEN CAST(NULL AS BOOLEAN) "
                f"ELSE coalesce(array_contains({ta}, "
                f"ifnull(({x}), try_element_at({ta}, 1))), false) END)"
            )
        return repl

    # -- sweep batch 19 -----------------------------------------------------

    _B19_LIST_AGG_ALIAS = {
        "list_sum": "sum",
        "list_avg": "avg",
        "list_count": "count",
    }
    _B19_LIST_ALIAS_RE = re.compile(r"(?i)\b(list_sum|list_avg|list_count)\s*\(")
    _B19_FN_RE = re.compile(
        r"(?i)\b(generate_subscripts|list_resize|list_any_value|list_first|"
        r"list_last|list_median|list_mode|array_pop_back|array_pop_front)\s*\("
    )
    _DATE_ADD_RE = re.compile(r"(?i)\bdate_add\s*\(")

    def _rewrite_list_family(self, sql: str) -> str:
        """Batch-19 sweep — list-function family + friends:

        - list_sum/avg/count → the list_aggregate machinery (same
          NULL-skipping folds);
        - list_first/last = FIRST/LAST element INCLUDING NULLs
          (DuckDB-verified: list_first([NULL,2]) is NULL) →
          try_element_at at 1 / max(size,1);
        - list_any_value = first NON-null;
        - list_resize(l, n[, fill]) → slice + array_repeat pad
          (truncates when n < size, like DuckDB);
        - list_median → the interpolated median expression over the
          non-null DOUBLE-cast sort (decimal-element lists keep the
          documented decimal-median deviation);
        - list_mode → argmax by (count, then SMALLEST value) — tie
          order is engine-unspecified in DuckDB (like mode());
        - array_pop_back/front → guarded slices;
        - generate_subscripts(a, 1) → explode of 1..size (empty for an
          empty or NULL list) — dim >= 2 raises in DuckDB itself;
        - regexp_escape → RE2-QuoteMeta-style class escape (ASCII
          non-word chars; astral-plane chars additionally escaped —
          harmless width of the Java regex class, documented);
        - date_add(x, INTERVAL …) → timestamp + interval (DuckDB
          returns TIMESTAMP; the int-days form stays native).
        """

        def list_alias(m, args):
            if len(args) != 1:
                raise UQueryError.sql_error(f"{m.group(1)} expects 1 arg")
            agg = self._B19_LIST_AGG_ALIAS[m.group(1).lower()]
            return f"list_aggregate(({args[0]}), '{agg}')"

        sql = self._map_calls(self._B19_LIST_ALIAS_RE, list_alias, sql)
        sql = self._map_calls(
            self._DATE_ADD_RE,
            lambda m, args: (
                f"(CAST(({args[0]}) AS TIMESTAMP) + {args[1]})"
                if len(args) == 2 and re.match(r"(?i)^interval\b", args[1])
                else None  # Spark's own (date, int) form — native
            ),
            sql,
        )
        return self._map_calls(self._B19_FN_RE, self._translate_list_family, sql)

    def _translate_list_family(self, m, args: list[str]) -> str:
        fn = m.group(1).lower()
        a0 = args[0]
        if fn == "generate_subscripts":
            if len(args) != 2 or args[1].strip() != "1":
                raise UQueryError.sql_error(
                    "generate_subscripts: only dimension 1 is supported "
                    "(DuckDB raises beyond it too)"
                )
            repl = f"explode({self._subscripts(a0)})"
        elif fn == "list_resize":
            if len(args) not in (2, 3):
                raise UQueryError.sql_error(
                    "list_resize expects (list, size[, fill])"
                )
            n = f"CAST(({args[1]}) AS INT)"
            fill = (
                f"({args[2]})"
                if len(args) == 3
                else f"(CASE WHEN false THEN try_element_at(({a0}), 1) END)"
            )
            # list_concat, not concat: the batch-8 concat pass
            # downstream stringifies bare concat() calls
            repl = (
                f"list_concat(slice(({a0}), 1, least({n}, size(({a0})))), "
                f"array_repeat({fill}, greatest({n} - size(({a0})), 0)))"
            )
        elif fn == "list_any_value":
            repl = f"try_element_at(filter(({a0}), uq_le -> uq_le IS NOT NULL), 1)"
        elif fn == "list_first":
            repl = f"try_element_at(({a0}), 1)"
        elif fn == "list_last":
            repl = f"try_element_at(({a0}), greatest(size(({a0})), 1))"
        elif fn == "list_median":
            arr = (
                f"array_sort(transform(filter(({a0}), "
                f"uq_le -> uq_le IS NOT NULL), uq_mv -> CAST(uq_mv AS DOUBLE)))"
            )
            repl = (
                f"(CASE WHEN size({arr}) = 0 THEN NULL "
                f"ELSE ({self._median_of(arr)}) END)"
            )
        elif fn == "list_mode":
            nn = f"filter(({a0}), uq_le -> uq_le IS NOT NULL)"
            repl = (
                f"try_element_at(array_sort(transform(array_distinct({nn}), "
                f"uq_v -> struct(0 - size(filter({nn}, uq_e2 -> uq_e2 = uq_v)) AS c, "
                f"uq_v AS v))), 1).v"
            )
        elif fn == "array_pop_back":
            repl = f"slice(({a0}), 1, greatest(size(({a0})) - 1, 0))"
        else:  # array_pop_front
            repl = f"slice(({a0}), 2, greatest(size(({a0})) - 1, 0))"
        return repl

    # -- sweep batch 16 -----------------------------------------------------

    _UNNEST_FROM_RE = re.compile(r"(?i)(?:\b(from|join)\s+|,\s*)unnest\s*\(")
    _UNNEST_RE = re.compile(r"(?i)\bunnest\s*\(")
    _SELECT_KW_RE = re.compile(r"(?i)\bselect\b")
    _GENERATOR_RE = re.compile(r"(?i)\b(unnest|generate_subscripts)\s*\(")
    _GENERATOR_ITEM_RE = re.compile(
        r"(?is)^\s*(unnest|generate_subscripts)\s*\((.*)\)\s*"
        r"(?:(?:as\s+)?([A-Za-z_]\w*|`[^`]+`))?\s*$"
    )
    _SELECT_LIST_END = frozenset(
        {"from", "where", "group", "having", "qualify", "window", "order",
         "limit", "union", "except", "intersect"}
    )
    _CLAUSE_KW = _SELECT_LIST_END | {"select"}
    _COLLATE_RE = re.compile(r"(?i)\bcollate\s+(\w+)")

    def _rewrite_unnest(self, sql: str) -> str:
        """Batch-16 sweep: ``unnest(arr)`` in SELECT position is DuckDB's
        one-row-per-element generator → Spark explode (a bare rename;
        Spark then enforces its own generator placement rules). Several
        generators in one SELECT list zip (:meth:`_zip_select_generators`)
        instead of forming Spark's cross product. ``FROM unnest(arr)``
        (table-function position) → an exploded subquery with column
        ``unnest`` (DuckDB auto-names the column after the expression
        text — not portable either way; alias it); after a comma or JOIN
        the subquery is LATERAL, so it may read an earlier FROM item.
        ``recursive := true`` raises."""

        def no_recursive(inner: str) -> None:
            if ":=" in inner:
                raise UQueryError.sql_error(
                    "unnest: the recursive := form is not supported"
                )

        def from_unnest(m, inner):
            kw = m.group(1)
            if kw is None and not self._in_from_list(m.string, m.start()):
                return None  # a generator in a SELECT list
            no_recursive(inner)
            lateral = "" if kw and kw.lower() == "from" else " LATERAL"
            return f"{kw or ','}{lateral} (SELECT explode({inner}) AS unnest)"

        def rename(m):
            close = self._close_of(m)
            if close != -1:
                no_recursive(m.string[m.end() : close])
            return "explode("

        sql = self._map_calls(self._UNNEST_FROM_RE, from_unnest, sql, raw=True)
        sql = self._zip_select_generators(sql)
        return self._sub_code_fn(self._UNNEST_RE, rename, sql)

    def _in_from_list(self, sql: str, pos: int) -> bool:
        """Whether ``pos`` sits directly in a FROM list: the last clause
        keyword before it at its own bracket depth is FROM (not the FROM
        of ``IS DISTINCT FROM``)."""
        stack, prev = [None], ""
        for m, _depth in self._code_scan(sql, r"[^\W\d]\w*", 0, pos):
            if m.lastgroup == "open":
                stack.append(None)
            elif m.lastgroup == "close":
                if len(stack) > 1:
                    stack.pop()
            else:
                word = m.group().lower()
                if word in self._CLAUSE_KW and (word, prev) != ("from", "distinct"):
                    stack[-1] = word
                prev = word
        return stack[-1] == "from"

    @staticmethod
    def _subscripts(arr: str) -> str:
        """DuckDB ``generate_subscripts(arr, 1)`` as an array: 1..size,
        and empty for an empty or NULL list (``sequence(1, 0)`` would
        count down)."""
        return (
            f"CASE WHEN size(coalesce(({arr}), array())) = 0 THEN array() "
            f"ELSE sequence(1, size(({arr}))) END"
        )

    def _select_item_spans(self, sql: str, start: int) -> list[tuple[int, int]]:
        """[start, end) of each top-level item of the SELECT list that
        begins at ``sql[start]``; the list ends at the first clause
        keyword (not the FROM of ``IS DISTINCT FROM``) or at the ``)``
        closing its subquery."""
        spans, item, end, prev = [], start, len(sql), ""
        for m, depth in self._code_scan(sql, r",|(?<![\w.`])[^\W\d]\w*", start):
            if depth < 0:
                end = m.start()
                break
            if depth or m.lastgroup != "tok":
                continue
            word = m.group().lower()
            if word == ",":
                spans.append((item, m.start()))
                item = m.end()
            elif word in self._SELECT_LIST_END and not (word == "from" and prev == "distinct"):
                end = m.start()
                break
            else:
                prev = word
        spans.append((item, end))
        return spans

    def _zip_select_generators(self, sql: str) -> str:
        """DuckDB evaluates several ``unnest`` / ``generate_subscripts``
        calls in one SELECT list side by side: row k holds each list's
        k-th element, and a shorter, empty or NULL list pads with NULL.
        Spark would emit the cross product of two ``explode``s, so
        adjacent whole-item generators become one
        ``inline(arrays_zip(...)) AS (alias, ...)``. Any other form with
        two or more generators in one list raises rather than serve a
        cross product."""
        if len(list(self._finditer_code(self._GENERATOR_RE, sql))) < 2:
            return sql
        pos = 0
        while True:
            m = self._search_code(self._SELECT_KW_RE, sql, pos)
            if not m:
                return sql
            pos = m.end()
            spans = self._select_item_spans(sql, m.end())
            dm = re.match(r"(?i)\s*(?:distinct|all)\b", sql[spans[0][0] : spans[0][1]])
            if dm:
                spans[0] = (spans[0][0] + dm.end(), spans[0][1])
            gens = [
                k
                for k, (a, b) in enumerate(spans)
                if self._search_code(self._GENERATOR_RE, sql[a:b])
                and not self._search_code(self._SELECT_KW_RE, sql[a:b])
            ]
            if len(gens) < 2:
                continue
            if gens != list(range(gens[0], gens[-1] + 1)):
                raise UQueryError.sql_error(
                    "several unnest()/generate_subscripts() in one SELECT list "
                    "are supported only as adjacent select items"
                )
            arrays, aliases = [], []
            for k in gens:
                a, b = spans[k]
                text = sql[a:b]
                im = self._GENERATOR_ITEM_RE.match(text)
                if (
                    not im
                    or self._find_close(text, text.index("(")) != text.rindex(")")
                    or self._search_code(self._GENERATOR_RE, im.group(2))
                ):
                    raise UQueryError.sql_error(
                        "several unnest()/generate_subscripts() in one SELECT list "
                        f"are supported only as whole select items: {text.strip()}"
                    )
                fn, inner = im.group(1).lower(), im.group(2)
                if fn == "unnest":
                    if ":=" in inner:
                        raise UQueryError.sql_error(
                            "unnest: the recursive := form is not supported"
                        )
                    arrays.append(f"coalesce(({inner}), array())")
                else:
                    args = self._split_top(inner, ",")
                    if len(args) != 2 or args[1].strip() != "1":
                        raise UQueryError.sql_error(
                            "generate_subscripts: only dimension 1 is supported "
                            "(DuckDB raises beyond it too)"
                        )
                    arrays.append(self._subscripts(args[0]))
                # unaliased: DuckDB names the column after the call text,
                # which is not portable; keep the function name
                aliases.append(im.group(3) or f"`{fn}`")
            a, b = spans[gens[0]][0], spans[gens[-1]][1]
            lead = sql[a : b - len(sql[a:b].lstrip())]
            repl = f"{lead}inline(arrays_zip({', '.join(arrays)})) AS ({', '.join(aliases)}) "
            sql = sql[:a] + repl + sql[b:]

    def _rewrite_collate(self, sql: str) -> str:
        """Batch-16 sweep: ``COLLATE NOCASE`` → Spark's UTF8_LCASE
        collation (spot-verified identical: 'A' < 'b', 'É' = 'é',
        'ß' <> 'SS' — both engines use simple case folding, not full
        folding). Other DuckDB collations (NOACCENT, NFC, ICU locales)
        have no Spark equivalent and raise."""

        def translate(m):
            name = m.group(1).lower()
            if name == "nocase":
                return "COLLATE UTF8_LCASE"
            if name in ("utf8_binary", "utf8_lcase", "unicode", "unicode_ci"):
                return m.group(0)  # already a Spark collation name
            raise UQueryError.sql_error(
                f"COLLATE {m.group(1)} is not supported (only NOCASE)"
            )

        return self._sub_code_fn(self._COLLATE_RE, translate, sql)

    _ARRAY_AGG_RE = re.compile(r"(?i)\barray_agg\s*\(")

    def _translate_array_agg_order(self, m, inner: str):
        """Batch-16 sweep: ``array_agg(x ORDER BY k …)`` — DuckDB's
        ordered aggregate; Spark's array_agg has no ORDER BY → collect
        (key…, value) structs and sort with an explicit comparator
        lambda (array_sort's 2-arg form), then project the value back
        out. Honors multiple keys, ASC/DESC and NULLS FIRST/LAST per
        key (DuckDB defaults NULLS LAST for BOTH directions — the
        batch-7 finding). Ties are engine-unspecified on both sides.
        Window usage and DISTINCT+ORDER BY raise. Structs are never
        NULL, so NULL values are kept exactly like DuckDB; round 8
        added the trailing-FILTER fold and the empty→NULL guard, and
        `_translate_array_agg_nulls` gives the remaining UNORDERED forms
        the same NULL-keeping treatment (deviation fully closed)."""
        sql, close = m.string, self._close_of(m)
        ob = next(
            (s for s, _e, _w in self._scan_top_level(inner, {"order"})),
            None,
        )
        if ob is None or not re.match(r"(?i)order\s+by\b", inner[ob:]):
            return None
        expr = inner[:ob].strip()
        distinct = False
        if re.match(r"(?i)^distinct\b", expr):
            distinct = True
            expr = re.sub(r"(?i)^distinct\s*", "", expr)
        # optional trailing FILTER — folded into the struct (NULL
        # structs don't collect, exactly FILTER semantics; runs
        # before the batch-9 WHERE-keyword insertion, so accept
        # both FILTER (WHERE c) and DuckDB's bare FILTER (c))
        suffix_end = close + 1
        filt = None
        fm = re.match(r"(?i)\s*filter\s*\(", sql[suffix_end:])
        if fm:
            fclose = self._find_close(sql, suffix_end + fm.end() - 1)
            if fclose == -1:
                raise UQueryError.sql_error("FILTER: unbalanced parentheses")
            filt = re.sub(
                r"(?i)^\s*where\b", "", sql[suffix_end + fm.end() : fclose]
            ).strip()
            suffix_end = fclose + 1
        if re.match(r"(?i)\s*over\b", sql[suffix_end:]):
            raise UQueryError.sql_error(
                "array_agg ORDER BY over a window is not supported"
            )
        keys = []
        for k in self._split_top(
            re.sub(r"(?i)^order\s+by\s*", "", inner[ob:]).strip(), ","
        ):
            k = k.strip()
            nm = re.search(r"(?i)\s+nulls\s+(first|last)\s*$", k)
            nulls_first = bool(nm and nm.group(1).lower() == "first")
            k = k[: nm.start()] if nm else k
            dm = re.search(r"(?i)\s+(asc|desc)\s*$", k)
            desc = bool(dm and dm.group(1).lower() == "desc")
            k = (k[: dm.start()] if dm else k).strip()
            keys.append((k, desc, nulls_first))
        fields = ", ".join(
            [f"({k}) AS uq_k{n}" for n, (k, _d, _nf) in enumerate(keys)]
            + [f"({expr}) AS uq_av"]
        )
        cmp_body = "0"
        for n in range(len(keys) - 1, -1, -1):
            _k, desc, nulls_first = keys[n]
            lt, gt = ("1", "-1") if desc else ("-1", "1")
            n_l, n_r = ("-1", "1") if nulls_first else ("1", "-1")
            f = f"uq_k{n}"
            cmp_body = (
                f"CASE WHEN uq_l.{f} IS NULL AND uq_r.{f} IS NULL THEN {cmp_body} "
                f"WHEN uq_l.{f} IS NULL THEN {n_l} "
                f"WHEN uq_r.{f} IS NULL THEN {n_r} "
                f"WHEN uq_l.{f} < uq_r.{f} THEN {lt} "
                f"WHEN uq_l.{f} > uq_r.{f} THEN {gt} "
                f"ELSE {cmp_body} END"
            )
        if distinct:
            # DuckDB admits DISTINCT + ORDER BY only when the sort
            # key IS the aggregated expression (Postgres rule);
            # dedupe the values then sort them directly (round 8).
            norm = lambda t: re.sub(r"\s+", "", t).lower()  # noqa: E731
            if len(keys) != 1 or norm(keys[0][0]) != norm(expr):
                raise UQueryError.sql_error(
                    "array_agg DISTINCT with ORDER BY requires "
                    "ordering by the aggregated expression"
                )
            _k, desc, nulls_first = keys[0]
            lt, gt = ("1", "-1") if desc else ("-1", "1")
            n_l, n_r = ("-1", "1") if nulls_first else ("1", "-1")
            # sort STRUCTS, not bare values: Spark's comparator
            # array_sort silently drops NULL elements, structs are
            # never NULL (same trick as the multi-key path)
            vcmp = (
                f"CASE WHEN uq_l.uq_av IS NULL AND uq_r.uq_av IS NULL "
                f"THEN 0 "
                f"WHEN uq_l.uq_av IS NULL THEN {n_l} "
                f"WHEN uq_r.uq_av IS NULL THEN {n_r} "
                f"WHEN uq_l.uq_av < uq_r.uq_av THEN {lt} "
                f"WHEN uq_l.uq_av > uq_r.uq_av THEN {gt} ELSE 0 END"
            )
            elem = f"struct(({expr}) AS uq_av)"
            if filt is not None:
                elem = f"CASE WHEN {filt} THEN {elem} END"
            arr = (
                f"transform(array_sort(array_distinct("
                f"collect_list({elem})), "
                f"(uq_l, uq_r) -> {vcmp}), uq_s -> uq_s.uq_av)"
            )
            return f"(CASE WHEN size({arr}) = 0 THEN NULL ELSE {arr} END)", suffix_end - 1
        elem = f"struct({fields})"
        if filt is not None:
            elem = f"CASE WHEN {filt} THEN {elem} END"
        arr = (
            f"transform(array_sort(collect_list({elem}), "
            f"(uq_l, uq_r) -> {cmp_body}), uq_s -> uq_s.uq_av)"
        )
        # DuckDB returns NULL (not []) when no rows aggregate —
        # the duplicated aggregate dedupes in Catalyst
        return f"(CASE WHEN size({arr}) = 0 THEN NULL ELSE {arr} END)", suffix_end - 1

    def _translate_array_agg_nulls(self, m, inner: str):
        """Unordered ``list()``/``array_agg`` NULL parity (closes NOTES
        item 11, the last known silent wrong-value deviation): DuckDB's
        list()/array_agg KEEP NULL elements and return NULL (not [])
        when no rows aggregate; Spark's collect_list/array_agg drop
        NULLs and return []. Every remaining array_agg call (the
        ordered forms were consumed by _translate_array_agg_order) is
        rewritten element-in-struct — structs are never NULL, so
        nothing is dropped — then size-guarded back to NULL on empty:

        - ``array_agg(x)`` → transform(collect_list(struct(x)), unwrap)
        - ``DISTINCT`` → array_distinct(…) outside the unwrap (DuckDB
          keeps exactly one NULL — probed)
        - ``FILTER`` → folded into the struct via CASE (a NULL struct
          doesn't collect — exactly FILTER semantics; works identically
          under OVER, where Spark rejects native FILTER)
        - ``OVER (spec)`` / ``OVER name`` rides on the inner
          collect_list; named specs are inlined by the later window
          passes as usual

        Reference semantics via the DuckDB
        delegation pass-through (src/core/duckdb.rs:87-88); behavior
        DuckDB-1.x-probed: NULL-keep, single-NULL DISTINCT, empty→NULL,
        FILTER exclusion, windowed running frames.
        """
        sql, close = m.string, self._close_of(m)
        inner = inner.strip()
        distinct = False
        if re.match(r"(?i)^distinct\b", inner):
            distinct = True
            inner = re.sub(r"(?i)^distinct\s*", "", inner)
        if len(self._split_top(inner, ",")) != 1 or not inner:
            raise UQueryError.sql_error("array_agg expects exactly 1 argument")
        # optional FILTER (WHERE c) and OVER (spec)|OVER name suffixes
        suffix_end = close + 1
        filt = None
        fm = re.match(r"(?i)\s*filter\s*\(", sql[suffix_end:])
        if fm:
            fclose = self._find_close(sql, suffix_end + fm.end() - 1)
            if fclose == -1:
                raise UQueryError.sql_error("FILTER: unbalanced parentheses")
            filt = re.sub(
                r"(?i)^\s*where\b", "", sql[suffix_end + fm.end() : fclose]
            ).strip()
            suffix_end = fclose + 1
        over_txt = None
        om = re.match(r"(?i)\s*over\s*", sql[suffix_end:])
        if om:
            rest = sql[suffix_end + om.end() :]
            if rest.startswith("("):
                oclose = self._find_close(sql, suffix_end + om.end())
                if oclose == -1:
                    raise UQueryError.sql_error("OVER: unbalanced parentheses")
                over_txt = sql[suffix_end + om.end() : oclose + 1]
                suffix_end = oclose + 1
            else:
                wm = re.match(r"\w+", rest)
                if not wm:
                    raise UQueryError.sql_error("OVER: expected window")
                over_txt = wm.group(0)
                suffix_end = suffix_end + om.end() + wm.end()
        elem = f"struct(({inner}) AS uq_av)"
        if filt is not None:
            elem = f"CASE WHEN {filt} THEN {elem} END"
        core = f"collect_list({elem})"
        if over_txt is not None:
            core = f"{core} OVER {over_txt}"
        arr = f"transform({core}, uq_s -> uq_s.uq_av)"
        if distinct:
            arr = f"array_distinct({arr})"
        # DuckDB: zero rows aggregated → NULL, never [] (probed);
        # the duplicated aggregate dedupes in Catalyst
        return f"(CASE WHEN size({arr}) = 0 THEN NULL ELSE {arr} END)", suffix_end - 1

    _SIGNBIT_RE = re.compile(r"(?i)\bsignbit\s*\(")
    _SIGN_RE = re.compile(r"(?i)\bsign\s*\(")
    _ENCODE_RE = re.compile(r"(?i)\bencode\s*\(")
    _MAKE_TS_RE = re.compile(r"(?i)\bmake_timestamp\s*\(")

    _ARRAY_LENGTH2_RE = re.compile(r"(?i)\barray_length\s*\(")

    def _rewrite_regr_avg_array_length(self, sql: str) -> str:
        """Round-8 gap-probe scalars: 2-arg ``array_length(x, 1)`` →
        the 1-arg form (dimension 1 is the only one Spark's size() can
        answer; deeper dims raise). (The [not_][i]like_escape family
        lives in the batch-7 pass — round 8 extended it with the not_
        variants.)"""
        # regr_avgx/avgy: DuckDB returns DOUBLE; Spark's avg-of-DECIMAL
        # typing leaks a DECIMAL schema (value-same — wave-3 probe).
        # r9 ADVICE fix: any trailing FILTER (...) / OVER (...) suffix
        # must ride INSIDE the CAST — wrapping the bare call produced
        # `CAST(f(x) AS DOUBLE) OVER (...)`, a ParseException for
        # previously-working windowed/filtered forms.
        def regr_avg(m, inner):
            close = self._close_of(m)
            _f, _o, endpos = self._nested_agg_over(m.string, close, "regr_avg")
            return f"CAST({m.group(0)}{inner}{m.string[close : endpos + 1]} AS DOUBLE)", endpos

        def array_length2(m, args):
            if len(args) != 2:
                return None
            if args[1] != "1":
                raise UQueryError.sql_error(
                    "array_length: only dimension 1 is supported"
                )
            return f"array_length({args[0]})"

        sql = self._map_calls(re.compile(r"(?i)\bregr_avg[xy]\s*\("), regr_avg, sql, raw=True)
        return self._map_calls(self._ARRAY_LENGTH2_RE, array_length2, sql)

    def _rewrite_sign_encode_make_timestamp(self, sql: str) -> str:
        """Batch-17 scalar corners: ``signbit(x)`` → (x < 0) —
        DuckDB's own signbit(-0.0) is false, so the sign test is exact;
        ``sign(x)`` → CAST(sign(x) AS TINYINT) — DuckDB's sign returns
        TINYINT for every numeric input, Spark's returns DOUBLE;
        1-arg ``encode(s)`` (UTF-8 BLOB) → Spark's 2-arg
        encode(s, 'UTF-8'); 1-arg ``make_timestamp(µs)`` →
        timestamp_micros (the 6-arg form is natively identical and
        stays untouched)."""

        def signbit(m, args):
            if len(args) != 1:
                raise UQueryError.sql_error("signbit expects 1 arg")
            return f"(({args[0]}) < 0)"

        sql = self._map_calls(self._SIGNBIT_RE, signbit, sql)
        sql = self._map_calls(
            self._SIGN_RE, lambda m, inner: f"CAST({m.group(0)}{inner}) AS TINYINT)", sql, raw=True
        )
        sql = self._map_calls(
            self._ENCODE_RE,
            # 2-arg encode is Spark's own — left native
            lambda m, args: f"encode(({args[0]}), 'UTF-8')" if len(args) == 1 else None,
            sql,
        )
        return self._map_calls(
            self._MAKE_TS_RE,
            # the 6-arg civil form is natively identical
            lambda m, args: f"timestamp_micros(({args[0]}))" if len(args) == 1 else None,
            sql,
        )

    _MAD_RE = re.compile(r"(?i)\bmad\s*\(")
    _ENTROPY_RE = re.compile(r"(?i)\bentropy\s*\(")
    _HISTOGRAM_RE = re.compile(r"(?i)\bhistogram\s*\(")

    def _nested_agg_over(self, sql: str, close: int, fn: str):
        """Round 7: the nested-agg translations support OVER by
        suffixing EVERY internal aggregate (collect_list / percentile)
        with the window clause — Catalyst computes each distinct
        window expression once per spec, so the repeated text costs
        one collect per row like the grouped form costs one per group.
        Default-frame semantics (whole partition without ORDER BY,
        RANGE UNBOUNDED..CURRENT ROW with) are the same rule in both
        engines — differential-tested. Round 8: FILTER no longer
        raises — all three aggregates SKIP NULLs, so the filter
        CASE-folds into the argument exactly (excluded rows become
        NULLs that never collect); works identically under OVER.
        Returns (filter_cond | None, over_text | None, end_index)."""
        i, n = self._ws_right(sql, close + 1), len(sql)
        filt, fend = None, close
        fm = re.match(r"(?i)filter\s*\(", sql[i:])
        if fm:
            fend = self._find_close(sql, i + fm.end() - 1)
            if fend == -1:
                raise UQueryError.sql_error(f"{fn}: unbalanced FILTER (")
            filt = re.sub(
                r"(?i)^\s*where\b", "", sql[i + fm.end() : fend]
            ).strip()
            i = self._ws_right(sql, fend + 1)
        m = re.match(r"(?i)over\b", sql[i:])
        if not m:
            return filt, None, fend
        j = self._ws_right(sql, i + m.end())
        if j < n and sql[j] == "(":
            e = self._find_close(sql, j)
            if e == -1:
                raise UQueryError.sql_error(f"{fn}: unbalanced OVER (")
            return filt, sql[j : e + 1], e
        k = j
        while k < n and (sql[k].isalnum() or sql[k] == "_"):
            k += 1
        if k == j:
            raise UQueryError.sql_error(f"{fn}: malformed OVER clause")
        return filt, sql[j:k], k - 1

    @staticmethod
    def _median_of(arr: str) -> str:
        """Interpolated median of a sorted DOUBLE array (DuckDB's rule
        for non-decimal inputs; try_element_at keeps ANSI quiet)."""
        # element_at wants INT: shiftright keeps size()'s INT type
        # (div widens to BIGINT, and an emitted CAST would cost two
        # failed _rewrite_cast probe round-trips per occurrence)
        mid = f"shiftright(size({arr}) + 1, 1)"
        lo = f"shiftright(size({arr}), 1)"
        return (
            f"CASE WHEN size({arr}) % 2 = 1 "
            f"THEN try_element_at({arr}, {mid}) "
            f"ELSE (try_element_at({arr}, {lo}) + "
            f"try_element_at({arr}, {lo} + 1)) / 2 END"
        )

    def _rewrite_nested_aggs(self, sql: str) -> str:
        """Batch-15 sweep: aggregates whose DuckDB semantics nest a
        second aggregation — expressed as expression trees over ONE
        collect_list (Catalyst dedupes the repeated aggregate, so each
        group materializes its list once; memory is O(group), the
        standard exact-median footprint, documented):

        - ``mad(x)``: median(abs(x - median(x))), interpolated like
          DuckDB's double median; all-NULL/empty group → NULL.
        - ``entropy(x)``: -Σ (c/n)·log2(c/n) over value frequencies;
          NULLs skipped; empty group → 0.0 (DuckDB-verified, not NULL);
          ``+ 0`` normalizes IEEE -0.0 (the sf0.1-gate signed-zero rule).
        - ``histogram(x)``: MAP of value → BIGINT count, keys ascending;
          empty → NULL (verified).

        Round 8: FILTER CASE-folds into the argument (all three skip
        NULLs — excluded rows vanish exactly), and DISTINCT forms
        translate: entropy(DISTINCT) = log2(n_distinct) and
        histogram(DISTINCT) maps every key to 1 (closed forms — each
        distinct value has frequency 1), mad(DISTINCT) dedupes via
        collect_set with a percentile(DISTINCT) median (grouped only;
        its OVER form still raises).
        """
        for regex, kind in (
            (self._MAD_RE, "mad"),
            (self._ENTROPY_RE, "entropy"),
            (self._HISTOGRAM_RE, "histogram"),
        ):
            sql = self._map_calls(
                regex, lambda m, a, k=kind: self._translate_nested_agg(m, a, k), sql
            )
        return sql

    def _translate_nested_agg(self, m, args: list[str], kind: str):
        filt, over, endpos = self._nested_agg_over(m.string, self._close_of(m), kind)
        osuf = f" OVER {over}" if over else ""
        if len(args) != 1:
            raise UQueryError.sql_error(f"{kind} expects 1 argument")
        x = args[0]
        distinct = False
        if re.match(r"(?i)^distinct\b", x):
            # round 8: DISTINCT forms — entropy/histogram have
            # closed forms over the distinct set (every
            # frequency is 1); mad dedupes via collect_set and
            # takes the median of the distinct values
            distinct = True
            x = re.sub(r"(?i)^distinct\s*", "", x)
        if filt is not None:
            # FILTER folds into the argument: all three
            # aggregates skip NULLs, so excluded rows vanish
            # (applied BEFORE the DISTINCT dedup, like SQL)
            x = f"CASE WHEN {filt} THEN ({x}) END"
        if distinct and kind == "mad" and over:
            # round 9 (last raise-tail member of this family):
            # no percentile(DISTINCT) exists over a window, and
            # inlining the median into the transform lambda is
            # the r7 O(n² log n) trap (lambda-invariant
            # subexpressions re-evaluate per element). LET-bind
            # instead: aggregate(array(0), v, (a,i)->a, body)
            # evaluates v ONCE (zero) and body ONCE (finish), so
            # sorted set, median, and deviations are each
            # computed once and referenced as bound lambda vars.
            cs = f"collect_set(CAST(({x}) AS DOUBLE)){osuf}"
            med_s = self._median_of("uq_ls")
            devs = (
                "array_sort(transform(uq_ls, "
                "uq_mv -> abs(uq_mv - uq_lm)))"
            )
            fin = self._median_of("uq_ld")
            repl = (
                f"(aggregate(array(0), array_sort({cs}), "
                f"(uq_a1, uq_i1) -> uq_a1, "
                f"uq_ls -> aggregate(array(0), ({med_s}), "
                f"(uq_a2, uq_i2) -> uq_a2, "
                f"uq_lm -> aggregate(array(0), {devs}, "
                f"(uq_a3, uq_i3) -> uq_a3, "
                f"uq_ld -> ({fin})))))"
            )
        elif distinct and kind == "mad":
            # collect_set = the distinct multiset; the median of
            # distinct values comes from percentile(DISTINCT) —
            # a plain aggregate attribute, loop-invariant in the
            # lambda (the r7 O(n^2 log n) lesson)
            cs = f"collect_set(CAST(({x}) AS DOUBLE))"
            med = f"percentile(DISTINCT CAST(({x}) AS DOUBLE), 0.5)"
            devs = (
                f"array_sort(transform({cs}, "
                f"uq_mv -> abs(uq_mv - {med})))"
            )
            repl = (
                f"(CASE WHEN size({cs}) = 0 THEN NULL "
                f"ELSE ({self._median_of(devs)}) END)"
            )
        elif distinct and kind == "entropy":
            cl = f"collect_list({x}){osuf}"
            nd = f"CAST(size(array_distinct({cl})) AS DOUBLE)"
            # every distinct value has frequency 1 -> log2(n)
            repl = (
                f"(CASE WHEN size({cl}) = 0 THEN CAST(0 AS DOUBLE) "
                f"ELSE log2({nd}) END + 0)"
            )
        elif distinct and kind == "histogram":
            cl = f"collect_list({x}){osuf}"
            entries = (
                f"transform(array_sort(array_distinct({cl})), uq_hv -> "
                f"struct(uq_hv AS key, CAST(1 AS BIGINT) AS value))"
            )
            repl = (
                f"(CASE WHEN size({cl}) = 0 THEN NULL "
                f"ELSE map_from_entries({entries}) END)"
            )
        elif kind == "mad" and self._ordered_spec(over):
            # round 11 (wave-7): an ORDER BY / framed window —
            # Spark's percentile window rejects the spec, so
            # the running median comes from the collected list
            # itself, LET-bound once like the DISTINCT-over
            # branch (running mads DuckDB-probed: [0.0, 5.5,
            # 4.5] over ROWS BETWEEN 1 PRECEDING AND CURRENT
            # ROW on (10, 21, 30)).
            cs = f"collect_list(CAST(({x}) AS DOUBLE)){osuf}"
            med_s = self._median_of("uq_ls")
            devs = (
                "array_sort(transform(uq_ls, "
                "uq_mv -> abs(uq_mv - uq_lm)))"
            )
            fin = self._median_of("uq_ld")
            repl = (
                f"(aggregate(array(0), array_sort({cs}), "
                f"(uq_a1, uq_i1) -> uq_a1, "
                f"uq_ls -> CASE WHEN size(uq_ls) = 0 THEN NULL "
                f"ELSE aggregate(array(0), ({med_s}), "
                f"(uq_a2, uq_i2) -> uq_a2, "
                f"uq_lm -> aggregate(array(0), {devs}, "
                f"(uq_a3, uq_i3) -> uq_a3, "
                f"uq_ld -> ({fin}))) END))"
            )
        elif kind == "mad":
            # the group median comes from Spark's native exact
            # interpolated percentile AGGREGATE — as a plain
            # post-aggregation attribute it is loop-invariant in
            # the lambda below. (The first draft inlined the
            # median as an element_at-over-array_sort expression
            # INSIDE the transform lambda; Spark re-evaluates the
            # sort per element — O(n² log n) per group, measured
            # hanging the sf0.01 gate on a 3000-row group.)
            cl = f"collect_list(CAST(({x}) AS DOUBLE)){osuf}"
            med = f"percentile(CAST(({x}) AS DOUBLE), 0.5){osuf}"
            devs = (
                f"array_sort(transform({cl}, "
                f"uq_mv -> abs(uq_mv - {med})))"
            )
            repl = (
                f"(CASE WHEN size({cl}) = 0 THEN NULL "
                f"ELSE ({self._median_of(devs)}) END)"
            )
        elif kind == "entropy":
            cl = f"collect_list({x}){osuf}"
            n = f"CAST(size({cl}) AS DOUBLE)"
            freqs = (
                f"transform(array_distinct({cl}), uq_ev -> "
                f"CAST(size(filter({cl}, uq_e -> uq_e = uq_ev)) AS DOUBLE))"
            )
            repl = (
                f"((0 - aggregate({freqs}, CAST(0 AS DOUBLE), "
                f"(uq_a, uq_c) -> uq_a + (uq_c / {n}) * log2(uq_c / {n}))) + 0)"
            )
        else:
            cl = f"collect_list({x}){osuf}"
            entries = (
                f"transform(array_sort(array_distinct({cl})), uq_hv -> "
                f"struct(uq_hv AS key, "
                f"CAST(size(filter({cl}, uq_e -> uq_e = uq_hv)) AS BIGINT) AS value))"
            )
            repl = (
                f"(CASE WHEN size({cl}) = 0 THEN NULL "
                f"ELSE map_from_entries({entries}) END)"
            )
        return repl, endpos

    _STRUCT_INSERT_RE = re.compile(r"(?i)\bstruct_insert\s*\(")
    _SI_FIELDS_RE = re.compile(r"No such struct field `[^`]*` in (.+)")

    def _rewrite_struct_insert(self, sql: str) -> str:
        """Batch-15: ``struct_insert(s, k := v, …)`` appends fields to a
        struct. The existing field names are unknowable from text — a
        LIMIT-0 analysis probe replaces the call with a field access
        that cannot resolve, and Spark's FIELD_NOT_FOUND error text
        enumerates the struct's actual fields (backticked). DuckDB
        errors on duplicate entry names — reproduced. Runs late (after
        the expression passes) so the probe text is Spark-valid modulo
        the cast/len passes it composes, same contract as the
        polymorphic-subscript probe."""
        while True:
            # innermost-first: a nested struct_insert inside the probe
            # text would fail analysis with the wrong error
            hit, pos = None, 0
            while True:
                nxt = self._call_args(self._STRUCT_INSERT_RE, sql, pos)
                if not nxt:
                    break
                hit = nxt
                if not any("struct_insert" in a.lower() for a in nxt[2]):
                    break
                pos = nxt[0].end()
            if not hit:
                return sql
            m, close, args = hit
            if len(args) < 2:
                raise UQueryError.sql_error(
                    "struct_insert expects (struct, name := value, …)"
                )
            base = args[0]
            inserts = []
            for a in args[1:]:
                k, sep, v = a.partition(":=")
                if not sep:
                    raise UQueryError.sql_error(
                        "struct_insert: entries must use name := value"
                    )
                inserts.append((k.strip(), v.strip()))
            probe = (
                sql[: m.start()]
                + f"(({base}).uq_si_missing_field)"
                + sql[close + 1 :]
            )
            fields: list[str] = []
            try:
                with _probe_quiet():
                    self.spark.sql(
                        f"SELECT * FROM ({self._rewrite_len(self._rewrite_cast(probe))}) uq_si LIMIT 0"
                    )
            except Exception as exc:
                fm = self._SI_FIELDS_RE.search(str(exc))
                if fm:
                    fields = re.findall(r"`([^`]+)`", fm.group(1))
            if not fields:
                raise UQueryError.sql_error(
                    "struct_insert: first argument is not a struct "
                    "(or its fields could not be probed)"
                )
            existing = {f.lower() for f in fields}
            for k, _v in inserts:
                if k.lower() in existing:
                    raise UQueryError.sql_error(
                        f'struct_insert: duplicate struct entry name "{k}"'
                    )
                existing.add(k.lower())
            parts = [f"'{f}', ({base}).`{f}`" for f in fields]
            parts += [f"'{k}', ({v})" for k, v in inserts]
            repl = f"named_struct({', '.join(parts)})"
            sql = sql[: m.start()] + repl + sql[close + 1 :]

    _STRUCT_EXTRACT_AT_RE = re.compile(r"(?i)\bstruct_extract_at\s*\(")

    def _rewrite_struct_extract_at(self, sql: str) -> str:
        """DuckDB ≥1.1 ``struct_extract_at(s, n)`` — 1-based POSITIONAL
        field access (the reference pins 1.5.2; r13 probe batch A).
        Field names are unknowable from text, so the struct's fields
        are enumerated with the same FIELD_NOT_FOUND LIMIT-0 probe as
        struct_insert, and the n-th name is emitted as a plain field
        access. n must be a positive integer literal (DuckDB's own
        constant requirement); out-of-range raises like DuckDB's
        binder."""
        while True:
            hit = self._call_args(self._STRUCT_EXTRACT_AT_RE, sql)
            if not hit:
                return sql
            m, close, args = hit
            if len(args) != 2:
                raise UQueryError.sql_error(
                    "struct_extract_at expects (struct, index)"
                )
            base, idx = args[0], args[1].strip()
            if not re.fullmatch(r"\+?\d+", idx) or int(idx) < 1:
                raise UQueryError.sql_error(
                    "struct_extract_at: index must be a positive "
                    "integer constant"
                )
            probe = (
                sql[: m.start()]
                + f"(({base}).uq_si_missing_field)"
                + sql[close + 1 :]
            )
            fields: list[str] = []
            try:
                with _probe_quiet():
                    self.spark.sql(
                        f"SELECT * FROM ({self._rewrite_len(self._rewrite_cast(probe))}) uq_sx LIMIT 0"
                    )
            except Exception as exc:
                fm = self._SI_FIELDS_RE.search(str(exc))
                if fm:
                    fields = re.findall(r"`([^`]+)`", fm.group(1))
            if not fields:
                raise UQueryError.sql_error(
                    "struct_extract_at: first argument is not a struct "
                    "(or its fields could not be probed)"
                )
            if int(idx) > len(fields):
                raise UQueryError.sql_error(
                    f"struct_extract_at: index {idx} out of range for "
                    f"a struct with {len(fields)} fields"
                )
            repl = f"(({base}).`{fields[int(idx) - 1]}`)"
            sql = sql[: m.start()] + repl + sql[close + 1 :]

    def _rewrite_limit_pct(self, sql: str) -> str:
        """Batch-15: top-level ``ORDER BY … LIMIT p%`` (DuckDB keeps
        floor(p·count/100) rows — verified: 15% of 10 → 1, 26% → 2) →
        row_number + count window over the ordered body, filtered and
        re-ordered, helper columns dropped via ``* EXCEPT``. The
        pre-count this needs is exactly one extra exchange-free window
        over the already-global sort DuckDB's own LIMIT % pays too.
        Orderless or subquery LIMIT % raises (DuckDB's orderless form
        returns an arbitrary subset — untranslatable deterministically);
        ordinal ORDER BY keys raise (inside OVER they'd silently become
        constants)."""
        if not self._search_code(self._LIMIT_PCT_RE, sql):
            return sql
        hits = [
            (s, e, w)
            for s, e, w in self._scan_top_level(sql, {"order", "limit"})
        ]
        lim = next(
            (
                (s, e)
                for s, e, w in hits
                if w == "limit"
                and re.match(r"\s*\d+(?:\.\d+)?\s*%\s*$", sql[e:])
            ),
            None,
        )
        order = next(
            ((s, e) for s, e, w in reversed(hits) if w == "order" and (not lim or s < lim[0])),
            None,
        )
        if not lim or not order or not re.match(
            r"(?i)\s*by\b", sql[order[1] :]
        ):
            raise UQueryError.sql_error(
                "LIMIT n% requires a top-level ORDER BY (DuckDB's "
                "orderless form returns an arbitrary subset)"
            )
        pct = sql[lim[1] :].strip().rstrip("%").strip()
        keys_text = sql[order[1] : lim[0]]
        keys_text = re.sub(r"(?i)^\s*by\b", "", keys_text).strip()
        if any(
            re.fullmatch(r"\d+", k.strip().split()[0])
            for k in self._split_top(keys_text, ",")
            if k.strip()
        ):
            raise UQueryError.sql_error(
                "LIMIT n% with ordinal ORDER BY keys is not supported"
            )
        body = sql[: order[0]].strip()
        return (
            f"SELECT * EXCEPT (uq_rn, uq_cnt) FROM ("
            f"SELECT uq_lp.*, row_number() OVER (ORDER BY {keys_text}) AS uq_rn, "
            f"count(*) OVER () AS uq_cnt FROM ({body}) uq_lp"
            f") uq_lpq WHERE uq_rn <= floor(uq_cnt * {pct} / 100.0) "
            f"ORDER BY uq_rn"
        )

    # -- sweep batch 12: operator symbols -----------------------------------

    _LIKE_OPS = {
        "!~~*": " NOT ILIKE ", "~~*": " ILIKE ",
        "!~~": " NOT LIKE ", "~~": " LIKE ",
    }
    _LIKE_OP_RE = re.compile("|".join(map(re.escape, sorted(_LIKE_OPS, key=len, reverse=True))))
    _REGEX_OP_RE = re.compile("!?~")
    # (operator, function, the binary operators its operands extend
    # through): the metric operators bind looser than arithmetic
    _ARITH_OPS = ("//", "**", "+", "-", "*", "/", "%", "^")
    _FN_OPS = [
        ("**", "power", ()),
        ("<->", "list_distance", _ARITH_OPS),
        ("<=>", "list_cosine_similarity", _ARITH_OPS),
        ("^", "power", ()),
    ]

    def _rewrite_operator_symbols(self, sql: str) -> str:
        """Batch-12 sweep — operator symbols (DuckDB-verified):

        - ``^`` and ``**`` are POWER in DuckDB; Spark's ``^`` is XOR —
          2 ^ 3 is 8 vs 1, a silent wrong answer → power(a, b). Runs
          BEFORE _rewrite_divide_xor, whose xor() output ^ must stay.
        - ``~``/``!~`` are a full regexp match, not RLIKE's partial one
          → ``([NOT] regexp_full_match(a, p))``, which
          _rewrite_string_list_corners anchors. Infix only — a prefix ~
          is bitwise NOT in both engines and left alone. Like DuckDB's
          other operators they bind looser than arithmetic, as tightly
          as ``||`` (left-associative) and tighter than comparisons,
          hence the parentheses. ``~~``/``~~*``/negations → LIKE/ILIKE keywords.
        - ``<->`` / ``<=>`` are array euclidean distance / cosine
          SIMILARITY → the list metric translations of batch 11.
          (Spark's own null-safe ``<=>`` is not part of the DuckDB
          dialect this gateway serves.)
        Operands come from _operand_start/_operand_end with DuckDB's
        precedence: a unary sign binds tighter than power (-2 ^ 2 is 4),
        power is left-associative, and the metric operators take whole
        arithmetic operands.
        """
        # keyword operators first (plain splice, no operand parsing)
        sql = self._sub_code_fn(self._LIKE_OP_RE, lambda m: self._LIKE_OPS[m.group()], sql)
        pos = 0
        while m := self._search_code(self._REGEX_OP_RE, sql, pos):
            ls = self._operand_start(sql, m.start(), ("||",) + self._ARITH_OPS)
            if ls is None:  # prefix ~
                pos = m.end()
                continue
            re_ = self._operand_end(sql, m.end(), self._ARITH_OPS)
            if re_ is None:
                raise UQueryError.sql_error(
                    f"cannot parse operands of '{m.group()}' (use regexp_full_match(a, b))"
                )
            args = f"{sql[ls : m.start()].strip()}, {sql[m.end() : re_].strip()}"
            neg = "NOT " if m.group() == "!~" else ""
            sql = f"{sql[:ls]}({neg}regexp_full_match({args})){sql[re_:]}"
            pos = ls
        # function-style operators: need both operands
        for op, fn, ops in self._FN_OPS:
            op_re = re.compile(re.escape(op))
            while m := self._search_code(op_re, sql):
                idx = m.start()
                ls = self._operand_start(sql, idx, ops, sign=True)
                re_ = self._operand_end(sql, idx + len(op), ops)
                if ls is None or re_ is None:
                    raise UQueryError.sql_error(
                        f"cannot parse operands of '{op}' (use {fn}(a, b))"
                    )
                left = sql[ls:idx].strip()
                right = sql[idx + len(op) : re_].strip()
                sql = sql[:ls] + f"{fn}(({left}), ({right}))" + sql[re_:]
        return sql

    # -- sweep batch 8: scalar-function semantics ---------------------------

    _CONCAT_RE = re.compile(r"(?i)\bconcat\s*\(")
    _LOG_RE = re.compile(r"(?i)\blog\s*\(")
    _SUBSTRING_RE = re.compile(r"(?i)\bsubstr(?:ing)?\s*\(")
    _EVEN_RE = re.compile(r"(?i)\beven\s*\(")
    _FDIV_RE = re.compile(r"(?i)\bfdiv\s*\(")
    _FMOD_RE = re.compile(r"(?i)\bfmod\s*\(")
    _ISFIN_RE = re.compile(r"(?i)\bis(finite|inf)\s*\(")
    _LIST_UNIQUE_RE = re.compile(r"(?i)\b(?:list|array)_unique\s*\(")
    _FORMAT_BYTES_RE = re.compile(r"(?i)\bformat_bytes\s*\(")
    _CURRENT_SCHEMA_RE = re.compile(r"(?i)\bcurrent_schema\s*\(\s*\)")
    _POS_INT_RE = re.compile(r"^\s*\+?\d+\s*$")

    def _rewrite_scalar_semantics(self, sql: str) -> str:
        """Batch-8 sweep — silent scalar divergences (DuckDB-verified):

        - ``concat``: DuckDB stringifies EVERY argument and SKIPS NULLs
          (concat('a', NULL, 'b') = 'ab'; concat([1,2]) = '[1, 2]');
          Spark concat is NULL-propagating and type-generic →
          concat_ws('', CAST(each AS STRING)); the array concat()
          that _rewrite_list_nulls emits later is never touched.
          Deviation: scientific-notation float
          formatting differs ('1.5e-07' vs '1.5E-7').
        - one-arg ``log``: DuckDB log10, Spark ln → log10. (2-arg
          log(base, x) agrees.)
        - 3-arg ``substring``/``substr``: DuckDB uses a character-window
          rule — start 0 or negative starts count a virtual window that
          is CLIPPED to the string, negative lengths walk backward
          (substring('abcdef', 0, 3) = 'ab', (-10, 8) = 'abcd',
          (2, -1) = 'a'); Spark clamps start to 1. The general window
          form: b = s>0 ? s : s=0 ? 0 : len+s+1, window
          [min(b, b+L), max(b, b+L)) ∩ [1, len+1]. Calls with literal
          start >= 1 and literal length >= 0 (the common case) are left
          native — both engines agree there.
        - ``even``: round away from zero to the next even integer.
        - ``fdiv``/``fmod``: DuckDB's are FLOORED division/modulo (sign
          of the divisor: fmod(-7.5, 2) = 0.5, fmod(7.5, -2) = -0.5);
          Spark % truncates → ((a % b) + b) % b, floor(a/b); DOUBLE
          like DuckDB.
        - ``isfinite``/``isinf`` (no Spark builtin) → isnan/Infinity
          arithmetic; isnan agrees natively.
        - ``list_unique``/``array_unique`` → count of distinct
          non-NULL elements.
        - ``format_bytes`` → binary-unit CASE chain ('1.0 KiB').
        - ``current_schema()`` → 'main' (DuckDB's default schema — the
          gateway serves DuckDB-dialect clients).
        """
        # concat: must split args to cast each
        sql = self._map_calls(
            self._CONCAT_RE,
            lambda m, args: f"concat_ws('', {', '.join(f'CAST(({a}) AS STRING)' for a in args)})",
            sql,
        )
        # one-arg log
        sql = self._map_calls(
            self._LOG_RE, lambda m, args: f"log10({args[0]})" if len(args) == 1 else None, sql
        )
        # 3-arg substring window rule
        sql = self._map_calls(self._SUBSTRING_RE, self._translate_substring, sql)
        # simple 1-2 arg templates
        for regex, n_args, tmpl in (
            (
                self._EVEN_RE,
                1,
                "(CASE WHEN ({a}) >= 0 THEN CAST(2 * ceil(({a}) / 2.0) AS DOUBLE) "
                "ELSE CAST(2 * floor(({a}) / 2.0) AS DOUBLE) END)",
            ),
            (self._FDIV_RE, 2, "CAST(floor(({a}) / ({b})) AS DOUBLE)"),
            (
                self._FMOD_RE,
                2,
                "CAST(((({a}) % ({b})) + ({b})) % ({b}) AS DOUBLE)",
            ),
            (
                # DuckDB ≥1.1 counts NULL as ONE distinct element
                # (docs example: list_unique([1,1,NULL,-3,-3,-3]) = 3);
                # the local 1.0.0 binary excludes it (probed: 2) — the
                # round-10 battery36 driver hash-fail. Semantics follow
                # the reference's pinned 1.5.2 (Cargo.toml:11): Spark's
                # array_distinct keeps NULL, so no compact.
                self._LIST_UNIQUE_RE,
                1,
                "size(array_distinct(({a})))",
            ),
        ):

            def template(m, args, n_args=n_args, tmpl=tmpl):
                if len(args) != n_args:
                    raise UQueryError.sql_error(
                        f"{m.group(0).strip('( ')} expects {n_args} arg(s)"
                    )
                return tmpl.format(a=args[0], b=args[-1])

            sql = self._map_calls(regex, template, sql)

        # isfinite / isinf
        def isfinite(m, args):
            if len(args) != 1:
                raise UQueryError.sql_error("isfinite/isinf expect 1 arg")
            a = args[0]
            if m.group(1).lower() == "inf":
                return f"(abs(CAST(({a}) AS DOUBLE)) = CAST('Infinity' AS DOUBLE))"
            return (
                f"(NOT isnan(CAST(({a}) AS DOUBLE)) AND "
                f"abs(CAST(({a}) AS DOUBLE)) <> CAST('Infinity' AS DOUBLE))"
            )

        # format_bytes
        def format_bytes(m, args):
            if len(args) != 1:
                raise UQueryError.sql_error("format_bytes expects 1 arg")
            a = args[0]
            units = [("PiB", 1024 ** 5), ("TiB", 1024 ** 4), ("GiB", 1024 ** 3),
                     ("MiB", 1024 ** 2), ("KiB", 1024)]
            # DuckDB picks the unit on |x| (negative inputs keep their
            # unit: -2048 → '-2.0 KiB') and TRUNCATES toward zero at
            # one decimal (1234567 → '1.1 MiB', never '1.2') — the ×10
            # DIV trick truncates exactly (round-8 gap-probe catch;
            # %.1f on the plain quotient ROUNDS)
            branches = " ".join(
                f"WHEN abs(CAST(({a}) AS BIGINT)) >= {size} THEN "
                f"format_string('%.1f {u}', "
                f"CAST(CAST(({a}) AS BIGINT) * 10 DIV {size} AS DOUBLE) / 10)"
                for u, size in units
            )
            return (
                f"(CASE {branches} ELSE concat_ws('', CAST(({a}) AS STRING), "
                f"' bytes') END)"
            )

        sql = self._map_calls(self._ISFIN_RE, isfinite, sql)
        sql = self._map_calls(self._FORMAT_BYTES_RE, format_bytes, sql)
        sql = self._sub_code_fn(self._CURRENT_SCHEMA_RE, lambda _m: "'main'", sql)
        return sql

    def _translate_substring(self, m, args: list[str]) -> str | None:
        if len(args) != 3 or (
            self._POS_INT_RE.match(args[1])
            and int(args[1]) >= 1
            and self._POS_INT_RE.match(args[2])
        ):
            return None
        s, st, ln = args
        b = (
            f"(CASE WHEN ({st}) > 0 THEN ({st}) WHEN ({st}) = 0 THEN 0 "
            f"ELSE length(({s})) + ({st}) + 1 END)"
        )
        lo = f"GREATEST(LEAST({b}, {b} + ({ln})), 1)"
        hi = f"LEAST(GREATEST({b}, {b} + ({ln})), length(({s})) + 1)"
        return (
            f"(CASE WHEN ({s}) IS NULL OR ({st}) IS NULL OR ({ln}) IS NULL "
            f"THEN NULL WHEN {hi} > {lo} "
            f"THEN substring(({s}), {lo}, {hi} - {lo}) ELSE '' END)"
        )

    # -- sweep batch 9: aggregate-function semantics ------------------------

    _SKEW_KURT_RE = re.compile(r"(?i)\b(skewness|skew|kurtosis)\s*\(")
    _ANY_VALUE_RE = re.compile(r"(?i)\bany_value\s*\(")
    _FAVG_RE = re.compile(r"(?i)\b(favg|fsum|kahan_sum|sumkahan)\s*\(")
    _KURT_POP_RE = re.compile(r"(?i)\bkurtosis_pop\s*\(")
    _SEM_RE = re.compile(r"(?i)\bsem\s*\(")
    _ARG_NULL_RE = re.compile(r"(?i)\barg_(min|max)_null\s*\(")
    _GEOMEAN_RE = re.compile(r"(?i)\b(?:geomean|geometric_mean)\s*\(")
    _AGG_ORDER_RE = re.compile(r"(?i)\b(sum|avg|count|min|max)\s*\(")
    _FILTER_NO_WHERE_RE = re.compile(r"(?i)(\)\s*filter\s*\(\s*)(?!where\b)")

    def _rewrite_agg_semantics(self, sql: str) -> str:
        """Batch-9 sweep — aggregate semantics (DuckDB-verified):

        - ``skewness``/``kurtosis``: DuckDB computes the SAMPLE
          estimators (G1, excess G2), Spark the population ones (g1,
          g2) — a silent near-miss that survives round(4) only for
          large n (n=500: 0.007013 vs 0.006992). Corrected via the
          standard factors: G1 = g1·sqrt(n(n-1))/(n-2),
          G2 = (n-1)/((n-2)(n-3))·((n+1)g2 + 6); small-n divisions hit
          0 and yield NULL exactly where DuckDB returns NULL. Window
          (OVER) usage raises — the correction would need the same
          frame on count().
        - ``any_value``: DuckDB SKIPS NULLs (returns the first
          non-NULL); Spark's default takes the first row →
          any_value(x, true). ``arbitrary`` (first row, NULL included)
          maps to plain any_value via _FN_RENAMES.
        - ``favg``/``fsum`` (Kahan-compensated) → avg/sum over DOUBLE.
        - ``geomean`` → exp(avg(ln(x))).
        - ORDER BY inside order-INSENSITIVE aggregates (sum/avg/count/
          min/max admit it in DuckDB as a no-op) is stripped.
        - aggregate ``FILTER (cond)`` without the WHERE keyword gains
          it (Spark requires FILTER (WHERE …)).
        """

        def skew_kurt(m, a):
            if re.match(r"(?i)over\b", m.string[self._close_of(m) + 1 :].lstrip()):
                raise UQueryError.sql_error(
                    "skewness/kurtosis OVER windows are not supported "
                    "(sample-estimator correction needs a framed count)"
                )
            if re.match(r"(?i)\s*distinct\b", a):
                raise UQueryError.sql_error(
                    "skewness/kurtosis DISTINCT is not supported"
                )
            n = f"count(({a}))"
            # try_divide: n <= 2 (skew) / n <= 3 (kurt) hit a zero divisor
            # and must yield NULL like DuckDB — ANSI mode would throw
            if m.group(1).lower() == "kurtosis":
                return (
                    f"(try_divide({n} - 1, ({n} - 2) * ({n} - 3)) * "
                    f"(({n} + 1) * kurtosis(({a})) + 6))"
                )
            return f"try_divide(skewness(({a})) * sqrt({n} * ({n} - 1)), {n} - 2)"

        def any_value(m, args):
            # 2-arg is our own output; the ordered form is the batch-18
            # pass below
            if len(args) != 1 or re.search(r"(?i)\border\s+by\b", args[0]):
                return None
            return f"any_value(({args[0]}), true)"

        def arg_null(m, args):
            if len(args) != 2:
                raise UQueryError.sql_error("arg_min_null/arg_max_null expect 2 args")
            fn = "min_by" if m.group(1).lower() == "min" else "max_by"
            # struct-wrap the value: Spark 4.1's min_by/max_by SKIP
            # rows whose value is NULL, but arg_*_null exists precisely
            # to keep them — a struct is non-NULL even when its field is
            return f"({fn}(named_struct('v', ({args[0]})), ({args[1]})).v)"

        def strip_order(m, inner):
            ob = next(
                (s for s, _e, _w in self._scan_top_level(inner, {"order"})), None
            )
            if ob is not None and re.match(r"(?i)order\s+by\b", inner[ob:]):
                return m.group(0) + inner[:ob].rstrip() + ")"
            return None

        sql = self._map_calls(self._SKEW_KURT_RE, skew_kurt, sql, raw=True)
        sql = self._map_calls(self._ANY_VALUE_RE, any_value, sql)
        # wave-5 closes (round 10): kurtosis_pop is Spark's NATIVE
        # kurtosis (population excess g2 — DuckDB-verified numerically);
        # it must map AFTER the sample-correction loop above, which
        # would otherwise re-correct the emitted native call. sem =
        # stddev_pop / sqrt(n) (probed: sem of one value is 0.0, so the
        # POPULATION deviation, not samp); arg_min_null/arg_max_null
        # keep NULL-valued rows → Spark's bare min_by/max_by (the skip
        # wrap in _translate_arg_max_avg_corr exists precisely because the bare
        # forms DON'T skip).
        sql = self._map_calls(
            self._KURT_POP_RE,
            self._one_arg("kurtosis_pop expects 1 arg", lambda m, a: f"kurtosis(({a}))"),
            sql,
        )
        sql = self._map_calls(
            self._SEM_RE,
            self._one_arg(
                "sem expects 1 arg",
                lambda m, a: f"try_divide(stddev_pop(CAST(({a}) AS DOUBLE)), sqrt(count(({a}))))",
            ),
            sql,
        )
        sql = self._map_calls(self._ARG_NULL_RE, arg_null, sql)
        sql = self._map_calls(
            self._FAVG_RE,
            self._one_arg(
                "favg/fsum/kahan_sum expect 1 arg",
                lambda m, a: (
                    f"{'avg' if m.group(1).lower() == 'favg' else 'sum'}(CAST(({a}) AS DOUBLE))"
                ),
            ),
            sql,
        )
        sql = self._map_calls(
            self._GEOMEAN_RE,
            self._one_arg(
                "geomean expects 1 arg", lambda m, a: f"exp(avg(ln(CAST(({a}) AS DOUBLE))))"
            ),
            sql,
        )
        # strip no-op ORDER BY inside order-insensitive aggregates
        sql = self._map_calls(self._AGG_ORDER_RE, strip_order, sql, raw=True)
        sql = self._sub_code_fn(
            self._FILTER_NO_WHERE_RE, lambda mm: mm.group(1) + "WHERE ", sql
        )
        # arbitrary = first row's value, NULL included — Spark any_value's
        # DEFAULT. Renamed here (not _FN_RENAMES) so the any_value loop
        # above never adds ", true" to it.
        return self._sub_code_fn(
            re.compile(r"(?i)\barbitrary\s*\("), lambda _m: "any_value(", sql
        )

    # -- sweep batch 10: datetime corners -----------------------------------

    _EXTRACT_SPECIAL_RE = re.compile(
        r"(?i)\bextract\s*\((?=\s*(dow|dayofweek|weekday|epoch|microseconds|"
        r"milliseconds|isodow|yearweek|century|isoyear|week|era|decade|"
        r"millennium)\s+from\b)"
    )
    _EXTRACT_FIELD_RE = re.compile(r"(?is)^\s*\w+\s+from\b")
    _ERA_FN_RE = re.compile(r"(?i)\bera\s*\(")
    _DOW_FAMILY_RE = re.compile(r"(?i)\b(dow|dayofweek|weekday)\s*\(")
    _SUBSECOND_RE = re.compile(r"(?i)\b(microseconds|milliseconds)\s*\(")
    _JULIAN_RE = re.compile(r"(?i)\bjulian\s*\(")
    _DATE_SUB_RE = re.compile(r"(?i)\bdate_?sub\s*\(")
    _DATE_SUB_US = {
        "week": 7 * 86_400_000_000, "day": 86_400_000_000,
        "hour": 3_600_000_000, "minute": 60_000_000, "second": 1_000_000,
    }

    def _rewrite_datetime_corners(self, sql: str) -> str:
        """Batch-10 sweep — datetime numbering and diff corners
        (DuckDB-verified):

        - EXTRACT of DuckDB-specific fields is converted to the
          function form (``EXTRACT(epoch FROM x)`` → ``epoch(x)``) and
          picked up by the existing epoch/ISO rewrites below.
        - ``dow``/``dayofweek``/``weekday`` are all Sunday=0 in DuckDB;
          Spark's dayofweek is Sunday=1 and weekday is Monday=0 →
          (dayofweek(x) - 1). A silent off-by-one (or worse, for
          weekday).
        - ``microseconds``/``milliseconds`` include the SECONDS
          component (1.5 s → 1_500_000 µs) → date_format('ss.SSSSSS')
          arithmetic.
        - ``julian`` → 2440588 + epoch-days (DuckDB's civil-midnight
          convention; noon = .5).
        - ``date_sub``/``datesub``('unit', a, b) counts COMPLETE units
          (truncated toward zero, month-end clamped: Jan 31 → Feb 29
          is one complete month) → months_between truncation for the
          month family, exact microsecond `div` for day and smaller.
          NOT Spark's two-arg date_sub (day subtraction) — DuckDB's is
          always the 3-arg form; 2-arg calls are left native.
        """
        # batch 28 (temporal fuzzer): datepart/date_part with a LITERAL
        # engine-numbered part string bypassed the conversions below
        # (datepart('dow', x) reached Spark's Sunday-1 date_part) —
        # route it to the same function forms EXTRACT uses
        dp_re = re.compile(
            r"(?i)\b(?:date_part|datepart)\s*\((?=\s*'(dow|dayofweek|weekday|"
            r"isodow|epoch|microseconds|milliseconds|week|yearweek|century|"
            r"decade|millennium|julian|era)'\s*,)"
        )
        sql = self._map_calls(
            dp_re,
            lambda m, inner: f"{m.group(1).lower()}({inner[inner.index(',') + 1 :]})",
            sql,
            raw=True,
        )
        # round 8 (TIME-graduation probe catch, applies to TIMESTAMP and
        # INTERVAL too): DuckDB's EXTRACT(SECOND ...) is a truncated
        # BIGINT (…45.5 → 45) where Spark returns DECIMAL(8,6) 45.5 —
        # a silent wrong-value class. CAST wraps the native extract
        # (covers time/timestamp/interval; toward-zero truncation
        # matches for negative intervals).
        sec_re = re.compile(
            r"(?i)\bextract\s*\((?=\s*(?:second|seconds|secs|sec)\s+from\b)"
        )
        dpsec_re = re.compile(
            r"(?i)\b(?:date_part|datepart)\s*\((?=\s*"
            r"'(?:second|seconds|secs|sec|s)'\s*,)"
        )

        def subsecond(m, a):
            scale = 1_000_000 if m.group(1).lower() == "microseconds" else 1000
            # floor BEFORE the cast: DuckDB milliseconds TRUNCATES the
            # microsecond remainder, and a bare fractional CAST would get
            # the DuckDB-cast rounding treatment from _rewrite_cast
            return (
                f"CAST(floor(CAST(date_format(CAST(({a}) AS TIMESTAMP), "
                f"'ss.SSSSSS') AS DECIMAL(9,6)) * {scale}) AS BIGINT)"
            )

        # DIV 1, not CAST: Spark's decimal->integral cast ROUNDS
        # (45.5 -> 46) where DuckDB truncates toward zero
        sql = self._map_calls(
            sec_re, lambda m, inner: f"CAST(({m.group(0)}{inner})) DIV 1 AS BIGINT)", sql, raw=True
        )
        sql = self._map_calls(
            dpsec_re,
            lambda m, inner: (
                f"CAST((EXTRACT(SECOND FROM {inner[inner.index(',') + 1 :]})) DIV 1 AS BIGINT)"
            ),
            sql,
            raw=True,
        )
        sql = self._map_calls(
            self._EXTRACT_SPECIAL_RE,
            lambda m, inner: (
                f"{m.group(1).lower()}({inner[self._EXTRACT_FIELD_RE.match(inner).end() :]})"
            ),
            sql,
            raw=True,
        )
        # era: CE = 1, BC = 0 (batch 15; DuckDB-verified — year <= 0 is
        # BC in the proleptic calendar). Both EXTRACT (converted above)
        # and the function form.
        sql = self._map_calls(
            self._ERA_FN_RE,
            self._one_arg(
                "era expects 1 arg", lambda m, a: f"(CASE WHEN year(({a})) >= 1 THEN 1 ELSE 0 END)"
            ),
            sql,
        )
        sql = self._map_calls(
            self._DOW_FAMILY_RE,
            self._one_arg(
                "dow/dayofweek/weekday expect 1 arg", lambda m, a: f"(dayofweek(({a})) - 1)"
            ),
            sql,
        )
        sql = self._map_calls(
            self._SUBSECOND_RE,
            self._one_arg("microseconds/milliseconds expect 1 arg", subsecond),
            sql,
        )
        sql = self._map_calls(
            self._JULIAN_RE,
            self._one_arg(
                "julian expects 1 arg",
                lambda m, a: (
                    f"(2440588.0 + CAST(unix_micros(CAST(({a}) AS TIMESTAMP)) "
                    f"AS DOUBLE) / 86400000000.0)"
                ),
            ),
            sql,
        )
        return self._map_calls(self._DATE_SUB_RE, self._translate_date_sub, sql)

    def _translate_date_sub(self, m, args: list[str]) -> str | None:
        if len(args) != 3:
            return None  # Spark's own 2-arg date_sub — leave native
        unit = (self._lit_parse(args[0]) or "").lower().rstrip("s")
        unit = {"mon": "month", "yr": "year", "min": "minute", "sec": "second"}.get(unit, unit)
        a = f"CAST(({args[1]}) AS TIMESTAMP)"
        b = f"CAST(({args[2]}) AS TIMESTAMP)"
        if unit in ("year", "quarter", "month"):
            div = {"year": 12, "quarter": 3, "month": 1}[unit]
            mb = f"months_between({b}, {a})"
            # truncate toward zero explicitly — a bare CAST here would
            # get the DuckDB-cast ROUNDING treatment from
            # _rewrite_cast downstream (floor/ceil return BIGINT)
            return (
                f"(CASE WHEN {mb} >= 0 THEN floor({mb} / {div}) "
                f"ELSE ceil({mb} / {div}) END)"
            )
        if unit in self._DATE_SUB_US:
            us = self._DATE_SUB_US[unit]
            return f"((unix_micros({b}) - unix_micros({a})) div {us})"
        raise UQueryError.sql_error(
            f"date_sub: unsupported unit '{unit}'"
        )

    # -- sweep batch 11: string/list function corners -----------------------

    _LEFT_RIGHT_RE = re.compile(r"(?i)\b(left|right)\s*\(")
    _STRING_AGG1_RE = re.compile(r"(?i)\b(?:string_agg|group_concat)\s*\(")
    _CHR_RE = re.compile(r"(?i)\bchr\s*\(")
    _PARSE_FILENAME_RE = re.compile(r"(?i)\bparse_filename\s*\(")
    _LIST_METRIC_RE = re.compile(
        r"(?i)\b(?:list|array)_(cosine_similarity|cosine_distance|"
        r"negative_inner_product|negative_dot_product|"
        r"inner_product|dot_product|distance)\s*\("
    )
    _JACCARD_RE = re.compile(r"(?i)\bjaccard\s*\(")
    _REGEXP_FULL_RE = re.compile(r"(?i)\bregexp_full_match\s*\(")
    _LIKE_ESCAPE_RE = re.compile(r"(?i)\b(not_)?(i?)like_escape\s*\(")

    def _rewrite_string_list_corners(self, sql: str) -> str:
        """Batch-11 sweep (DuckDB-verified):

        - ``left``/``right`` with NEGATIVE n drop |n| characters from
          the other end in DuckDB; Spark returns '' → length-relative
          CASE. Positive-literal calls stay native.
        - 1-arg ``string_agg``/``group_concat`` defaults the separator
          to ',' in DuckDB; Spark's concatenates bare → ',' inserted.
        - ``chr`` beyond 255: Spark's char() is mod-256 — a codepoint
          is UTF-8-encoded by hand (2/3/4-byte branches) and decoded.
        - ``parse_filename`` → trailing path component.
        - ``list_cosine_similarity``/``list_distance``/
          ``list_inner_product`` (+ array_/dot aliases) → zip_with /
          aggregate arithmetic over DOUBLE.
        - ``jaccard`` → character-set Jaccard via split + set algebra.
        - ``regexp_full_match`` → RLIKE anchored by ``_full_match``.
        - ``like_escape``/``ilike_escape`` → LIKE/ILIKE … ESCAPE.
        ``hash()`` stays native and engine-specific (documented — like
        random(), its VALUES are not portable, only its distribution).
        """

        def left_right(m, args):
            if len(args) != 2 or (
                self._POS_INT_RE.match(args[1]) and int(args[1]) >= 0
            ):
                return None
            fn = m.group(1).lower()
            s, n = args
            repl = (
                f"{fn}(({s}), CASE WHEN ({n}) < 0 "
                f"THEN GREATEST(length(({s})) + ({n}), 0) ELSE ({n}) END)"
            )
            return repl

        sql = self._map_calls(self._LEFT_RIGHT_RE, left_right, sql)

        def string_agg1(m, args):
            is_gc = "group_concat" in m.group(0).lower()
            if len(args) == 1:
                a = args[0]
                ob = next(
                    (s for s, _e, _w in self._scan_top_level(a, {"order"})), None
                )
                if ob is not None and re.match(r"(?i)order\s+by\b", a[ob:]):
                    # keep the in-args ORDER BY adjacent to the separator so
                    # the string_agg_order pass converts it to WITHIN GROUP
                    repl = f"string_agg({a[:ob].rstrip()}, ',' {a[ob:]})"
                else:
                    repl = f"string_agg(({a}), ',')"
            elif is_gc and len(args) == 2:
                repl = f"string_agg({args[0]}, {args[1]})"
            else:
                return None
            return repl

        sql = self._map_calls(self._STRING_AGG1_RE, string_agg1, sql)

        def chr_(m, args):
            if len(args) != 1:
                raise UQueryError.sql_error("chr expects 1 arg")
            c = f"({args[0]})"
            hx = lambda e: f"lpad(conv({e}, 10, 16), 2, '0')"  # noqa: E731
            two = f"concat_ws('', {hx(f'192 + {c} div 64')}, {hx(f'128 + {c} % 64')})"
            three = (
                f"concat_ws('', {hx(f'224 + {c} div 4096')}, "
                f"{hx(f'128 + ({c} div 64) % 64')}, {hx(f'128 + {c} % 64')})"
            )
            four = (
                f"concat_ws('', {hx(f'240 + {c} div 262144')}, "
                f"{hx(f'128 + ({c} div 4096) % 64')}, "
                f"{hx(f'128 + ({c} div 64) % 64')}, {hx(f'128 + {c} % 64')})"
            )
            repl = (
                f"(CASE WHEN {c} < 128 THEN char({c}) "
                f"WHEN {c} < 2048 THEN decode(unhex({two}), 'UTF-8') "
                f"WHEN {c} < 65536 THEN decode(unhex({three}), 'UTF-8') "
                f"ELSE decode(unhex({four}), 'UTF-8') END)"
            )
            return repl

        sql = self._map_calls(self._CHR_RE, chr_, sql)

        def parse_filename(m, args):
            if len(args) != 1:
                raise UQueryError.sql_error("parse_filename expects 1 arg (path)")
            repl = f"regexp_extract(({args[0]}), '([^/\\\\\\\\]*)$', 1)"
            return repl

        sql = self._map_calls(self._PARSE_FILENAME_RE, parse_filename, sql)

        def list_metric(m, args):
            if len(args) != 2:
                raise UQueryError.sql_error("list metric functions expect 2 args")
            a = f"transform(({args[0]}), uq_lm -> CAST(uq_lm AS DOUBLE))"
            b = f"transform(({args[1]}), uq_lm -> CAST(uq_lm AS DOUBLE))"
            dot = (
                f"aggregate(zip_with({a}, {b}, (uq_x, uq_y) -> uq_x * uq_y), "
                f"0D, (uq_acc, uq_v) -> uq_acc + uq_v)"
            )
            kind = m.group(1).lower()
            if kind in ("inner_product", "dot_product"):
                repl = f"({dot})"
            elif kind in ("negative_inner_product", "negative_dot_product"):
                # DuckDB >=1.1 names (the reference pins 1.5.2):
                # documented as -inner_product
                repl = f"(-({dot}))"
            elif kind == "cosine_distance":
                # DuckDB >=1.1: 1 - cosine_similarity (doc-unambiguous)
                norm = lambda v: (  # noqa: E731
                    f"sqrt(aggregate(transform({v}, uq_w -> uq_w * uq_w), "
                    f"0D, (uq_acc, uq_v) -> uq_acc + uq_v))"
                )
                repl = f"(1D - (({dot}) / ({norm(a)} * {norm(b)})))"
            elif kind == "distance":
                repl = (
                    f"sqrt(aggregate(zip_with({a}, {b}, "
                    f"(uq_x, uq_y) -> (uq_x - uq_y) * (uq_x - uq_y)), "
                    f"0D, (uq_acc, uq_v) -> uq_acc + uq_v))"
                )
            else:  # cosine_similarity
                norm = lambda v: (  # noqa: E731
                    f"sqrt(aggregate(transform({v}, uq_w -> uq_w * uq_w), "
                    f"0D, (uq_acc, uq_v) -> uq_acc + uq_v))"
                )
                repl = f"(({dot}) / ({norm(a)} * {norm(b)}))"
            return repl

        sql = self._map_calls(self._LIST_METRIC_RE, list_metric, sql)
        # batch-12 additions: remaining map/list functions
        for regex, n_args, tmpl in (
            (
                re.compile(r"(?i)\bmap_extract\s*\("),
                2,
                # DuckDB returns a single-element LIST ([] when missing)
                "filter(array(try_element_at(({a}), ({b}))), uq_mv -> uq_mv IS NOT NULL)",
            ),
            (
                re.compile(r"(?i)\b(?:list|array)_reverse_sort\s*\("),
                1,
                "sort_array(({a}), false)",
            ),
            (
                re.compile(r"(?i)\blist_reverse\s*\("),
                1,
                "reverse(({a}))",
            ),
            (
                re.compile(r"(?i)\blist_select\s*\("),
                2,
                "transform(({b}), uq_si -> try_element_at(({a}), uq_si))",
            ),
            (
                re.compile(r"(?i)\blist_histogram\s*\("),
                1,
                # r13 wave-15 (was UNRESOLVED_ROUTINE): MAP of value →
                # BIGINT count, keys ascending, NULL elements skipped;
                # NULL or effectively-empty list → NULL (all probed on
                # 1.0.0). Catalyst CSE dedups the repeated filter.
                "(CASE WHEN ({a}) IS NULL OR "
                "size(filter(({a}), uq_hv -> uq_hv IS NOT NULL)) = 0 "
                "THEN NULL ELSE map_from_arrays("
                "array_sort(array_distinct("
                "filter(({a}), uq_hv -> uq_hv IS NOT NULL))), "
                "transform(array_sort(array_distinct("
                "filter(({a}), uq_hv -> uq_hv IS NOT NULL))), "
                "uq_hk -> CAST(size(filter(({a}), "
                "uq_he -> uq_he = uq_hk)) AS BIGINT))) END)",
            ),
            (
                re.compile(r"(?i)\blist_grade_up\s*\("),
                1,
                # indices that would sort the list ascending, ties stable.
                # Explicit comparator: NULL elements grade LAST (DuckDB-
                # probed: grade_up([NULL,2,1]) = [3,2,1]; stable among
                # themselves) where Spark's struct sort put a NULL field
                # FIRST — a silent wrong value the r13 gap probe caught.
                "transform(array_sort(zip_with(({a}), sequence(1, size(({a}))), "
                "(uq_v, uq_i) -> struct(uq_v AS v, uq_i AS i)), "
                "(uq_l, uq_r) -> CASE "
                "WHEN uq_l.v IS NULL AND uq_r.v IS NULL "
                "THEN IF(uq_l.i < uq_r.i, -1, 1) "
                "WHEN uq_l.v IS NULL THEN 1 "
                "WHEN uq_r.v IS NULL THEN -1 "
                "WHEN uq_l.v < uq_r.v THEN -1 "
                "WHEN uq_l.v > uq_r.v THEN 1 "
                "ELSE IF(uq_l.i < uq_r.i, -1, 1) END), uq_s -> uq_s.i)",
            ),
        ):
            def template(m, args):
                if len(args) != n_args:
                    raise UQueryError.sql_error(
                        f"{m.group(0).strip('( ')} expects {n_args} arg(s)"
                    )
                repl = tmpl.format(a=args[0], b=args[-1])
                return repl

            sql = self._map_calls(regex, template, sql)

        def jaccard(m, args):
            if len(args) != 2:
                raise UQueryError.sql_error("jaccard expects 2 args")
            sa = f"array_distinct(split(({args[0]}), ''))"
            sb = f"array_distinct(split(({args[1]}), ''))"
            repl = (
                f"(CAST(size(array_intersect({sa}, {sb})) AS DOUBLE) / "
                f"size(array_union({sa}, {sb})))"
            )
            return repl

        sql = self._map_calls(self._JACCARD_RE, jaccard, sql)

        def regexp_full(m, args):
            if len(args) != 2:
                raise UQueryError.sql_error("regexp_full_match expects 2 args")
            return f"(({args[0]}) RLIKE {self._full_match(args[1])})"

        sql = self._map_calls(self._REGEXP_FULL_RE, regexp_full, sql)

        def like_escape(m, args):
            if len(args) != 3:
                raise UQueryError.sql_error("like_escape expects (string, pattern, escape)")
            esc = self._lit_parse(args[2])
            if esc is None or len(esc) != 1:
                raise UQueryError.sql_error(
                    "like_escape: escape must be a 1-char literal"
                )
            neg = "NOT " if m.group(1) else ""  # round 8: not_ variants
            op = "ILIKE" if (m.group(2) or "").lower() == "i" else "LIKE"
            pat_arg = args[1]
            pat = self._lit_parse(args[1])
            if pat is not None:
                # Spark rejects the escape char before an ORDINARY
                # character (ESC_IN_THE_MIDDLE) where DuckDB treats
                # esc+c as literal c (r13 probe batch B:
                # ilike_escape('AbC', 'a^bc', '^')) — drop the no-op
                # escapes from literal patterns; esc before %/_/esc
                # stays escaped
                out, i = [], 0
                while i < len(pat):
                    c = pat[i]
                    if c == esc and i + 1 < len(pat):
                        nxt = pat[i + 1]
                        if nxt in ("%", "_", esc):
                            out.append(c)
                        i += 1
                        out.append(pat[i])
                    else:
                        out.append(c)
                    i += 1
                pat_arg = "'" + "".join(out).replace("'", "''") + "'"
            repl = f"(({args[0]}) {neg}{op} ({pat_arg}) ESCAPE '{esc}')"
            return repl

        sql = self._map_calls(self._LIKE_ESCAPE_RE, like_escape, sql)
        return sql

    # -- sweep batch 7: hamming / to_base -----------------------------------

    _HAMMING_RE = re.compile(r"(?i)\b(?:hamming|mismatches)\s*\(")
    _TO_BASE_RE = re.compile(r"(?i)\bto_base\s*\(")

    def _rewrite_hamming_to_base(self, sql: str) -> str:
        """hamming(a, b) (alias mismatches) → character-wise zip_with
        compare; unequal lengths raise at RUNTIME via raise_error — the
        same failure DuckDB produces. to_base(n, b[, min_len]) →
        conv(n, 10, b) zero-padded; negative n raises like DuckDB
        (conv would silently wrap to unsigned)."""

        def hamming(m, args):
            if len(args) != 2:
                raise UQueryError.sql_error("hamming expects exactly 2 args")
            a, b = args
            # batch 28 (unicode matrix): DuckDB hamming is BYTE-based
            # (equal BYTE lengths, byte compares — 'aa' vs 'aé' errors)
            from .functions.parity_udfs import register_parity_udfs

            register_parity_udfs(self.spark)
            repl = f"uq_hamming_bytes(({a}), ({b}))"
            return repl

        sql = self._map_calls(self._HAMMING_RE, hamming, sql)

        def to_base(m, args):
            if len(args) not in (2, 3):
                raise UQueryError.sql_error("to_base expects (number, radix[, min_length])")
            a, b = args[0], args[1]
            core = f"conv(({a}), 10, ({b}))"
            if len(args) == 3:
                core = f"lpad({core}, GREATEST(length({core}), ({args[2]})), '0')"
            repl = (
                f"(CASE WHEN ({a}) < 0 "
                f"THEN raise_error('to_base: number must be >= 0') "
                f"ELSE {core} END)"
            )
            return repl

        sql = self._map_calls(self._TO_BASE_RE, to_base, sql)
        return sql

    # -- sweep batch 7: list-typed date_part, map_from_entries tuples ------

    _DATE_PART_LIST_RE = re.compile(r"(?i)\bdate_?part\s*\((?=\s*\[)")
    # 1:1-safe parts only (dow/isodow/week etc. have engine-specific
    # numbering handled by the scalar ISO rewrites; the list form keeps
    # to the unambiguous calendar fields)
    _DATE_PART_OK = {"year", "month", "day", "hour", "minute", "second", "quarter"}

    def _translate_date_part_list(self, m, args: list[str]) -> str:
        """DuckDB ``date_part(['year','month'], e)`` returns a STRUCT of
        the named parts → named_struct over Spark's scalar date_part
        (the list must still be [...])."""
        if len(args) != 2:
            raise UQueryError.sql_error("date_part([...], expr) expects 2 args")
        lst = args[0].strip()
        if not (lst.startswith("[") and lst.endswith("]")):
            raise UQueryError.sql_error("date_part: part list must be a [...] literal")
        parts = []
        for p in self._split_top(lst[1:-1], ","):
            name = self._lit_parse(p.strip())
            if name is None or name.lower() not in self._DATE_PART_OK:
                raise UQueryError.sql_error(
                    f"date_part list: unsupported part {p.strip()[:20]!r} "
                    f"(supported: {sorted(self._DATE_PART_OK)})"
                )
            parts.append(name)
        e = args[1]
        fields = ", ".join(
            f"'{p}', date_part('{p.upper()}', ({e}))" for p in parts
        )
        return f"named_struct({fields})"

    _MAP_ENTRIES_RE = re.compile(r"(?i)\bmap_from_entries\s*\(")

    def _translate_map_entries(self, m, args: list[str]) -> str:
        """DuckDB admits bare tuple literals in map_from_entries
        (``[('a', 1), …]``) — each top-level parenthesised tuple becomes
        struct(...); struct-literal entries ({'k':…}) are handled by
        the struct-literal pass."""
        if len(args) == 1:
            lst = args[0].strip()
            if lst.startswith("[") and lst.endswith("]"):
                out = []
                for el in self._split_top(lst[1:-1], ","):
                    el = el.strip()
                    if (
                        el.startswith("(")
                        and el.endswith(")")
                        and len(self._split_top(el[1:-1], ",")) > 1
                    ):
                        out.append(f"struct({el[1:-1]})")
                    else:
                        out.append(el)
                args = ["[" + ", ".join(out) + "]"]
        return f"map_from_entries({', '.join(args)})"

    # -- sweep batch 7: lambda index args (DuckDB 1-based → Spark 0-based) --

    _LAMBDA_FN_RE = re.compile(r"(?i)\b(transform|filter)\s*\(")
    _LAMBDA2_RE = re.compile(
        r"^\s*\(\s*(?P<x>\w+)\s*,\s*(?P<i>\w+)\s*\)\s*->(?P<body>.*)$", re.S
    )

    def _rewrite_lambda_index(self, sql: str) -> str:
        """DuckDB list lambdas with an index arg — ``(x, i) -> …`` — are
        1-BASED; Spark's transform/filter two-arg lambdas are 0-based.
        The index variable is substituted with (i + 1) in the body.
        Runs right after the function renames (list_transform/list_filter
        are already transform/filter) and before any pass that emits its
        own — always single-arg — lambdas."""

        def shift_index(m, args):
            if len(args) == 2:
                lm = self._LAMBDA2_RE.match(args[1])
                if lm:
                    idx = lm.group("i")
                    body = re.sub(
                        rf"\b{re.escape(idx)}\b", f"({idx} + 1)", lm.group("body")
                    )
                    args[1] = f"({lm.group('x')}, {idx}) -> {body}"
            repl = f"{m.group(1)}({', '.join(a.strip() for a in args)})"
            return repl

        sql = self._map_calls(self._LAMBDA_FN_RE, shift_index, sql)
        return sql

    def _rewrite_list_index(self, sql: str) -> str:
        """list_element/list_extract/array_extract (1-based, negative
        from the end) → try_element_at with a zero-index guard: DuckDB
        returns NULL for index 0 and ANY out-of-bounds index, while
        ANSI element_at ERRORS on out-of-bounds and even try_element_at
        errors on 0 (batch-11 ANSI follow-up). Nonzero literal indices
        skip the guard."""

        def list_index(m, args):
            if len(args) != 2:
                raise UQueryError.sql_error("list_element/list_extract expect 2 args")
            a, i = args
            if re.fullmatch(r"\s*-?[1-9]\d*\s*", i):
                arr = f"try_element_at(({a}), ({i}))"
                s_form = f"substr(({a}), ({i}), 1)"
            else:
                arr = (
                    f"(CASE WHEN ({i}) = 0 THEN NULL "
                    f"ELSE try_element_at(({a}), ({i})) END)"
                )
                s_form = (
                    f"(CASE WHEN ({i}) = 0 THEN '' "
                    f"ELSE substr(({a}), ({i}), 1) END)"
                )
            # round-12 wave-13: these are STRING-polymorphic in DuckDB
            # (array_extract('abcd', 2) = 'b'; index 0 → '', any
            # out-of-bounds → '' — substr matches except index 0) →
            # uq_poly(fallback=string form, preferred=array form); the
            # LIMIT-0 probe picks whichever analyzes.
            repl = f"uq_poly({s_form}, {arr})"
            return repl

        sql = self._map_calls(self._LIST_INDEX_RE, list_index, sql)
        return sql

    def _rewrite_list_nulls(self, sql: str) -> str:
        """NULL-input semantics fixes (ADVICE r5, verified vs DuckDB
        1.0.0): ``list_concat(a, b)`` treats a NULL input as empty —
        NULL only when BOTH are NULL — where Spark ``concat`` is
        NULL-propagating; ``list_has_any(a, b)`` returns false (never
        NULL) for non-NULL inputs whose only shared element is NULL,
        where Spark ``arrays_overlap`` returns NULL. Both expand to
        CASE forms that re-evaluate the argument expressions (cheap
        scalar exprs; no CSE needed for correctness). list_intersect's
        asymmetric NULL (DuckDB: NULL second arg → [], NULL first →
        NULL) remains a documented deviation — Spark array_intersect
        is NULL-propagating both ways."""
        for regex, tmpl in (
            # the ELSE branches coalesce each arg with the OTHER one —
            # runtime no-op (ELSE only runs when both are non-NULL) that
            # gives Spark's analyzer a concrete array type when an arg is
            # an untyped NULL literal (bare NULL types as STRING otherwise)
            (
                self._LIST_CONCAT_RE,
                "(CASE WHEN ({a}) IS NULL THEN ({b}) "
                "WHEN ({b}) IS NULL THEN ({a}) "
                "ELSE concat(coalesce(({a}), ({b})), coalesce(({b}), ({a}))) END)",
            ),
            (
                self._LIST_HAS_ANY_RE,
                "(CASE WHEN ({a}) IS NULL OR ({b}) IS NULL THEN NULL "
                "ELSE coalesce(arrays_overlap(coalesce(({a}), ({b})), "
                "coalesce(({b}), ({a}))), false) END)",
            ),
        ):
            def template(m, args):
                if len(args) != 2:
                    raise UQueryError.sql_error(
                        "list_concat/list_has_any expect exactly 2 args"
                    )
                repl = tmpl.format(a=args[0], b=args[1])
                return repl

            sql = self._map_calls(regex, template, sql)
        return sql

    # -- sweep batch 7: ORDER BY null placement, named-window extension,
    # window-frame EXCLUDE ------------------------------------------------

    _ORDER_BY_RE = re.compile(r"(?i)\border\s+by\b")
    _ORDER_STOP = {"rows", "range", "groups", "exclude", "limit", "offset",
                   "union", "intersect", "except", "window", "fetch",
                   "qualify", "having"}
    _KEY_TAIL_SKIP_RE = re.compile(r"(?i)(\bnulls\s+(first|last)|\bdesc)\s*$")

    def _rewrite_order_nulls(self, sql: str) -> str:
        """DuckDB's default null placement is NULLS LAST for BOTH sort
        directions; Spark's ASC default is NULLS FIRST — a silent
        result-changing divergence for window functions over nullable
        keys (first_value over ORDER BY x: DuckDB returns the smallest
        non-NULL x's row, Spark the NULL row — verified both engines)
        and for ORDER BY + LIMIT. Every ASC key without an explicit
        NULLS clause gets NULLS LAST appended, in every ORDER BY
        context (SELECT, OVER, WINDOW defs, WITHIN GROUP — all accept
        it, probed). DESC needs nothing (both default NULLS LAST).
        ``ORDER BY ALL`` is left untouched (Spark's ALL cannot take a
        NULLS clause)."""
        pos = 0
        while True:
            m = self._search_code(self._ORDER_BY_RE, sql, pos)
            if not m:
                return sql
            bounds, key_start, end = [], m.end(), len(sql)
            for t, depth in self._code_scan(sql, r",|[^\W\d]\w*", m.end()):
                if depth < 0 or (not depth and t.group().lower() in self._ORDER_STOP):
                    end = t.start()
                    break
                if not depth and t.group() == ",":
                    bounds.append((key_start, t.start()))
                    key_start = t.end()
            bounds.append((key_start, end))
            segs = []
            for s0, s1 in bounds:
                seg = sql[s0:s1]
                st = seg.strip()
                if not st or st.lower() == "all" or self._KEY_TAIL_SKIP_RE.search(seg):
                    segs.append(seg)
                else:
                    cut = len(seg.rstrip())
                    segs.append(seg[:cut] + " NULLS LAST" + seg[cut:])
            new = sql[m.start() : m.end()] + ",".join(segs)
            sql = sql[: m.start()] + new + sql[end:]
            pos = m.start() + len(new)

    _WINDOW_DEF_RE = re.compile(r"(?i)\bwindow\s+(\w+)\s+as\s*\(")
    _WINDOW_DEF_MORE_RE = re.compile(r"(?i)^\s*,\s*(\w+)\s+as\s*\(")
    _OVER_NAMED_RE = re.compile(r"(?i)\bover\s*\(\s*(\w+)\b")

    def _rewrite_named_window_ext(self, sql: str) -> str:
        """DuckDB's named-window EXTENSION syntax ``OVER (w ORDER BY x)``
        — a named window plus extra clauses — is rejected by Spark
        (bare ``OVER w`` is fine). The named spec is inlined textually;
        the WINDOW clause itself stays (Spark supports it)."""
        defs: dict[str, str] = {}
        m = self._search_code(self._WINDOW_DEF_RE, sql)
        if m:
            name, open_i = m.group(1), sql.index("(", m.end() - 1)
            while True:
                close = self._find_close(sql, open_i)
                if close == -1:
                    break
                defs[name.lower()] = sql[open_i + 1 : close]
                more = self._WINDOW_DEF_MORE_RE.match(sql[close + 1 :])
                if not more:
                    break
                name, open_i = more.group(1), close + more.end()
        if not defs:
            return sql
        # inline: OVER (w <rest>) → OVER (<spec> <rest>)
        return self._sub_code_fn(
            self._OVER_NAMED_RE,
            lambda m: (
                m.group(0)[: m.start(1) - m.start()] + defs.get(m.group(1).lower(), m.group(1))
            ),
            sql,
        )

    _WINDOW_FILTER_RE = re.compile(r"(?i)\)\s*filter\s*\(\s*where\b")
    _DISTINCT_AGG_RE = re.compile(r"(?i)\b(\w+)\s*\((?=\s*distinct\b)")

    def _translate_distinct_over(self, m, inner: str):
        """Batch-15: DISTINCT aggregates over windows (running distinct
        counts — Spark rejects them) → expression trees over
        ``collect_set(x) OVER w`` (same NULL-skipping, frame semantics
        ride the window spec): count → size, sum → element-typed fold,
        avg → DOUBLE fold / size (try_divide: empty set → NULL like
        DuckDB), min/max → DISTINCT dropped (no-op). Other aggregates
        raise. The repeated collect_set is one physical window function
        (identical expressions dedupe)."""
        sql, close = m.string, self._close_of(m)
        after = sql[close + 1 :]
        om = re.match(r"(?i)\s*over\s*", after)
        if not om:
            return None  # plain DISTINCT aggregate — native
        rest = after[om.end() :]
        if rest.startswith("("):
            wclose = self._find_close(after, om.end())
            if wclose == -1:
                return None
            win = after[om.end() : wclose + 1]
            end = close + 1 + wclose + 1
        else:
            wm = re.match(r"\w+", rest)
            if not wm:
                raise UQueryError.sql_error("OVER: expected window")
            win = wm.group(0)
            end = close + 1 + om.end() + wm.end()
        fn = m.group(1).lower()
        arg = re.sub(r"(?i)^\s*distinct\b", "", inner).strip()
        cs = f"collect_set({arg}) OVER {win}"
        if fn == "count":
            repl = f"CAST(size({cs}) AS BIGINT)"
        elif fn == "sum":
            repl = (
                f"aggregate({cs}, try_element_at({cs}, 1) * 0, "
                f"(uq_a, uq_x) -> uq_a + uq_x)"
            )
        elif fn in ("avg", "mean"):
            repl = (
                f"try_divide(aggregate({cs}, "
                f"CAST(try_element_at({cs}, 1) * 0 AS DOUBLE), "
                f"(uq_a, uq_x) -> uq_a + uq_x), CAST(size({cs}) AS DOUBLE))"
            )
        elif fn in ("min", "max"):
            repl = f"{fn}({arg}) OVER {win}"
        else:
            raise UQueryError.sql_error(
                f"DISTINCT {fn}() over a window is not supported "
                "(count/sum/avg/min/max only)"
            )
        return repl, end - 1

    def _rewrite_window_filter(self, sql: str) -> str:
        """Batch-13 sweep: aggregate ``FILTER`` over a WINDOW — DuckDB
        supports ``agg(x) FILTER (WHERE c) OVER (w)``, Spark rejects it
        → the filter folds into the argument: agg(CASE WHEN c THEN x
        END) (NULL rows don't aggregate), count(*) → count(CASE WHEN c
        THEN 1 END). Multi-arg aggregates raise. DISTINCT window
        aggregates are handled by _translate_distinct_over (batch 15),
        which runs first, so any DISTINCT reaching the FILTER fold
        here is the untranslatable combination and raises below. Plain
        (non-window) FILTER is native and untouched (the batch-9 pass
        already inserts the WHERE keyword)."""
        pos = 0
        while True:
            m = self._search_code(self._WINDOW_FILTER_RE, sql, pos)
            if not m:
                return sql
            fopen = sql.index("(", m.start() + 1)
            fclose = self._find_close(sql, fopen)
            if fclose == -1:
                return sql
            after = sql[fclose + 1 :].lstrip()
            if not re.match(r"(?i)over\b", after):
                # plain aggregate FILTER — native in Spark, skip it
                pos = fclose + 1
                continue
            cond = re.sub(r"(?i)^\s*where\b", "", sql[fopen + 1 : fclose]).strip()
            # the aggregate call directly before FILTER
            agg_text = sql[: m.start() + 1]  # includes its close paren
            aopen = self._find_open(agg_text, len(agg_text) - 1)
            fname_m = re.search(r"(\w+)\s*$", agg_text[: max(aopen, 0)])
            if not fname_m:
                raise UQueryError.sql_error("FILTER: expected agg(...) before it")
            fname = fname_m.group(1)
            arg = agg_text[aopen + 1 : -1].strip()
            if re.match(r"(?i)^distinct\b", arg):
                raise UQueryError.sql_error(
                    "FILTER with DISTINCT over a window is not supported"
                )
            args = self._split_top(arg, ",") if arg else []
            if arg == "*":
                new_call = f"{fname}(CASE WHEN {cond} THEN 1 END)"
            elif len(args) == 1:
                new_call = f"{fname}(CASE WHEN {cond} THEN ({arg}) END)"
            else:
                raise UQueryError.sql_error(
                    "windowed FILTER supports single-argument aggregates only"
                )
            sql = sql[: fname_m.start(1)] + new_call + sql[fclose + 1 :]
            pos = 0  # text changed — rescan from the top

    _FRAME_EXCLUDE_RE = re.compile(
        r"(?i)\bexclude\s+(current\s+row|group|ties|no\s+others)\b"
    )

    @staticmethod
    def _frame_excludes_current(spec: str) -> bool:
        """True when the frame clause provably does not contain the
        current row — end bound ``<x> PRECEDING`` or start bound
        ``<x> FOLLOWING`` for ANY offset token (integer, decimal,
        INTERVAL, expression). The subtraction translations for
        EXCLUDE are only sound on frames containing the current row.
        r9 ADVICE fix: the old guard matched bare-integer offsets
        only, so ``RANGE BETWEEN 10.0 PRECEDING AND 0.5 PRECEDING``
        or interval-offset frames bypassed it and got silently wrong
        peer-group subtractions (differentially verified)."""
        fm = re.search(
            r"(?i)\b(rows|range|groups)\s+between\s+(.*)$", spec, re.S
        )
        if not fm:
            # single-bound frames (`ROWS <x> PRECEDING`) run to
            # CURRENT ROW — they always contain it
            return False
        body = fm.group(2).strip()
        # end bound `<x> PRECEDING`: the frame clause is the tail of
        # the OVER spec, so a trailing PRECEDING is the end bound
        # (UNBOUNDED PRECEDING is not a legal end bound)
        if re.search(r"(?i)\bpreceding\s*$", body):
            return True
        # start bound `<x> FOLLOWING`: the first bound ends at the
        # top-level AND — CURRENT ROW / UNBOUNDED PRECEDING starts
        # never contain the token pair `FOLLOWING AND`
        if re.search(r"(?i)\bfollowing\s+and\b", body):
            return True
        return False

    def _rewrite_window_exclude(self, sql: str) -> str:
        """Window-frame EXCLUDE (DuckDB/SQL:2011; Spark has none):
        ``EXCLUDE NO OTHERS`` is the default — stripped. ``EXCLUDE
        CURRENT ROW`` for sum/count/avg becomes frame-aggregate MINUS
        the current row's contribution (count guard reproduces DuckDB's
        NULL on an empty exclusion frame — verified). ``EXCLUDE GROUP``
        / ``EXCLUDE TIES`` (round 8) subtract the peer group's
        contribution via a second window partitioned by (partition
        keys + ORDER BY exprs), TIES adding the current row back —
        RANGE/default frames only (peers sit at RANGE distance 0, so
        they're provably inside any frame containing the current row;
        a ROWS frame may cut the group → raise). Non-invertible
        aggregates raise (translate-or-raise)."""
        while True:
            m = self._search_code(self._FRAME_EXCLUDE_RE, sql)
            if not m:
                return sql
            mode = re.sub(r"\s+", " ", m.group(1).lower())
            if mode == "no others":
                sql = sql[: m.start()].rstrip() + sql[m.end() :]
                continue
            # CURRENT ROW / GROUP / TIES: locate enclosing OVER ( … )
            # and the preceding aggregate
            open_idx = self._find_open(sql, m.start())
            pre = sql[:open_idx].rstrip() if open_idx > 0 else ""
            if open_idx < 0 or not pre.lower().endswith("over"):
                raise UQueryError.sql_error(
                    "EXCLUDE CURRENT ROW: only inline OVER (...) frames are "
                    "supported (not WINDOW definitions)"
                )
            over_close = self._find_close(sql, open_idx)
            if over_close == -1:
                raise UQueryError.sql_error("EXCLUDE: unbalanced OVER frame")
            spec = (
                sql[open_idx + 1 : m.start()] + sql[m.end() : over_close]
            ).strip()
            if self._frame_excludes_current(spec):
                raise UQueryError.sql_error(
                    f"EXCLUDE {mode.upper()}: frame does not contain the "
                    "current row"
                )
            # the aggregate call directly before OVER
            agg_end = len(pre) - len("over")
            agg_text = pre[:agg_end].rstrip()
            if not agg_text.endswith(")"):
                raise UQueryError.sql_error("EXCLUDE: expected agg(...) OVER")
            aopen = self._find_open(agg_text, len(agg_text) - 1)
            fname_m = re.search(r"(\w+)\s*$", agg_text[: max(aopen, 0)])
            if not fname_m:
                raise UQueryError.sql_error("EXCLUDE: expected agg(...) OVER")
            fname = fname_m.group(1).lower()
            arg = agg_text[aopen + 1 : -1].strip()
            agg_start = fname_m.start(1)
            if re.match(r"(?i)^\s*distinct\b", arg):
                raise UQueryError.sql_error(
                    f"EXCLUDE {mode.upper()} with DISTINCT is not supported"
                )
            if fname not in ("count", "sum", "avg"):
                raise UQueryError.sql_error(
                    f"EXCLUDE {mode.upper()}: unsupported aggregate "
                    f"'{fname}' (only sum/count/avg are invertible)"
                )
            if mode == "current row":
                if fname == "count" and arg == "*":
                    repl = f"(count(*) OVER ({spec}) - 1)"
                else:
                    nn = f"(CASE WHEN ({arg}) IS NULL THEN 0 ELSE 1 END)"
                    cnt = f"(count({arg}) OVER ({spec}) - {nn})"
                    if fname == "count":
                        repl = cnt
                    elif fname == "sum":
                        repl = (
                            f"(CASE WHEN {cnt} = 0 THEN NULL "
                            f"ELSE sum({arg}) OVER ({spec}) - coalesce(({arg}), 0) END)"
                        )
                    else:
                        repl = (
                            f"(CASE WHEN {cnt} = 0 THEN NULL "
                            f"ELSE (sum({arg}) OVER ({spec}) - coalesce(({arg}), 0)) "
                            f"/ {cnt} END)"
                        )
            else:
                # GROUP / TIES (round 8, invertible aggs): subtract the
                # PEER GROUP's contribution — computed over a second
                # window partitioned by (partition keys + ORDER BY
                # value exprs), i.e. exactly the current row's peers —
                # and for TIES add the current row back. Sound only
                # when the whole peer group is inside the frame: peers
                # sit at RANGE distance 0, so any RANGE/default frame
                # containing the current row qualifies; explicit
                # ROWS/GROUPS frames raise (a peer may be outside).
                if re.search(
                    r"(?i)\b(rows|groups)\s+(between|unbounded|current|\d)",
                    spec,
                ):
                    raise UQueryError.sql_error(
                        f"EXCLUDE {mode.upper()}: only RANGE/default "
                        "frames are supported (a ROWS frame may cut the "
                        "peer group)"
                    )
                frame_m = re.search(
                    r"(?i)\brange\s+(between|unbounded|current|\d)", spec
                )
                cut = frame_m.start() if frame_m else len(spec)
                pm = re.search(r"(?i)\bpartition\s+by\s+", spec)
                om = re.search(r"(?i)\border\s+by\s+", spec)
                pk_txt = (
                    spec[pm.end() : om.start() if om else cut].strip()
                    if pm
                    else ""
                )
                ob_txt = spec[om.end() : cut].strip() if om else ""
                keys = []
                for k in self._split_top(ob_txt, ",") if ob_txt else []:
                    k = re.sub(r"(?i)\s+nulls\s+(first|last)\s*$", "", k.strip())
                    k = re.sub(r"(?i)\s+(asc|desc)\s*$", "", k).strip()
                    if k:
                        keys.append(k)
                parts = (
                    [p.strip() for p in self._split_top(pk_txt, ",")]
                    if pk_txt
                    else []
                ) + keys
                gspec = ("PARTITION BY " + ", ".join(parts)) if parts else ""
                keep = mode == "ties"
                if fname == "count" and arg == "*":
                    repl = (
                        f"(count(*) OVER ({spec}) - count(*) OVER ({gspec})"
                        + (" + 1)" if keep else ")")
                    )
                else:
                    nn = f"(CASE WHEN ({arg}) IS NULL THEN 0 ELSE 1 END)"
                    cnt = (
                        f"(count({arg}) OVER ({spec}) - "
                        f"count({arg}) OVER ({gspec})"
                        + (f" + {nn})" if keep else ")")
                    )
                    if fname == "count":
                        repl = cnt
                    else:
                        s = (
                            f"(sum({arg}) OVER ({spec}) - "
                            f"coalesce(sum({arg}) OVER ({gspec}), 0)"
                            + (f" + coalesce(({arg}), 0))" if keep else ")")
                        )
                        if fname == "sum":
                            repl = f"(CASE WHEN {cnt} = 0 THEN NULL ELSE {s} END)"
                        else:
                            repl = (
                                f"(CASE WHEN {cnt} = 0 THEN NULL "
                                f"ELSE {s} / {cnt} END)"
                            )
            sql = sql[:agg_start] + repl + sql[over_close + 1 :]

    def _rewrite_divide_xor(self, sql: str) -> str:
        """DuckDB operator-alias functions → infix operators.

        divide(a, b) IS `//`, which is TRUNCATING integer division only
        when BOTH operands are integral (divide(7,2)=3, divide(-7,2)=-3)
        and PLAIN division returning DOUBLE otherwise (divide(7.5,2)=
        3.75; DECIMAL operands probe DOUBLE too) — the old blanket `div`
        was a silent wrong-value class on fractional operands (wave-4
        gap probe, round 10). Emitted as uq_poly(double-arm, int-arm):
        the int arm analyzes only when ``(a & 0) + (b & 0)`` does (ANSI
        `&` rejects fractional operands, accepts integral/string — the
        _rewrite_cast probe trick). Divisors are nullif-wrapped HERE:
        the word operator `div` is invisible to the ÷0 pass's /|%|//
        character scan, so divide(7, 0) previously raised ANSI
        DIVIDE_BY_ZERO where DuckDB returns NULL.

        add/subtract/multiply/mod are the remaining alias functions →
        (a + b), (a - b), (a * b), (a % nullif(b, 0)); the emitted infix
        text flows through the later date/interval widening passes, so
        subtract(DATE, n) keeps date semantics. xor(a, b) → bitwise ^.
        """
        div_tmpl = (
            "uq_poly("
            "(({a}) / nullif(CAST(({b}) AS DOUBLE), 0)), "
            "(((({a}) & 0) + (({b}) & 0)) + (({a}) div nullif(({b}), 0))))"
        )
        for regex, tmpl in (
            (self._DIVIDE_RE, div_tmpl),
            (self._XOR_RE, "(({a}) ^ ({b}))"),
            (self._ADD_RE, "(({a}) + ({b}))"),
            (self._SUBTRACT_RE, "(({a}) - ({b}))"),
            (self._MULTIPLY_RE, "(({a}) * ({b}))"),
            (self._MOD_FN_RE, "(({a}) % nullif(({b}), 0))"),
        ):
            def template(m, args):
                if len(args) != 2:
                    raise UQueryError.sql_error(
                        f"{m.group(0).rstrip('( ').strip()} expects exactly 2 args"
                    )
                repl = tmpl.format(a=args[0], b=args[1])
                return repl

            sql = self._map_calls(regex, template, sql)
        return sql

    # -- ASOF JOIN SQL form ------------------------------------------------

    _ASOF_KW_RE = re.compile(r"(?i)\basof\s+(?P<left>left\s+)?join\b")
    _ASOF_CMP_RE = re.compile(
        r"^\s*(?P<a>[\w.]+)\s*(?P<op>>=|<=|=|<|>)\s*(?P<b>[\w.]+)\s*$"
    )
    _ASOF_STOP = {"where", "group", "order", "limit", "qualify", "union",
                  "intersect", "except", "join", "inner", "left", "right",
                  "full", "cross", "window", "having", "asof"}

    def _asof_scan_balanced(self, sql: str, i: int) -> int:
        """``sql[i] == '('`` → index just past the matching ')'."""
        close = self._find_close(sql, i)
        if close == -1:
            raise UQueryError.sql_error("ASOF JOIN: unbalanced '(' in relation")
        return close + 1

    def _asof_scan_balanced_back(self, sql: str, end: int) -> int:
        """``sql[end-1] == ')'`` → index of the matching '('."""
        start = self._find_open(sql, end - 1)
        if start == -1:
            raise UQueryError.sql_error("ASOF JOIN: unbalanced ')' before ASOF")
        return start

    def _asof_parse_right(self, sql: str, pos: int):
        """Parse the relation after ``ASOF JOIN`` → (rel_sql, alias|None,
        end, kind) where kind is 'on'|'using' for the keyword found."""
        n = len(sql)
        i = self._ws_right(sql, pos)
        if i < n and sql[i] == "(":
            j = self._asof_scan_balanced(sql, i)
            rel = sql[i:j]
        else:
            mrel = re.match(r"[\w.]+", sql[i:])
            if not mrel:
                raise UQueryError.sql_error("ASOF JOIN: missing right relation")
            j = i + mrel.end()
            rel = mrel.group(0)
        alias = None
        mtail = re.match(r"\s+(?:as\s+)?(\w+)", sql[j:], re.I)
        while mtail:
            word = mtail.group(1)
            if word.lower() in ("on", "using"):
                break
            alias = word
            j += mtail.end()
            mtail = re.match(r"\s+(?:as\s+)?(\w+)", sql[j:], re.I)
        mkw = re.match(r"\s+(on|using)\b", sql[j:], re.I)
        if not mkw:
            raise UQueryError.sql_error("ASOF JOIN: expected ON or USING")
        return rel, alias, j + mkw.end(), mkw.group(1).lower()

    def _asof_parse_left(self, sql: str, end: int):
        """Parse the relation before ``ASOF`` (scanning backward) →
        (rel_sql, alias|None, start). The relation must follow a
        top-level FROM / JOIN / ','."""

        def read_word(i: int) -> tuple[str, int]:
            j = self._word_start(sql, i)
            return sql[j:i], j

        def check_pre(i: int) -> None:
            k = self._ws_left(sql, i)
            if k > 0 and sql[k - 1] == ",":
                return
            w, _ = read_word(k)
            if w.lower() not in ("from", "join"):
                raise UQueryError.sql_error(
                    "ASOF JOIN: left relation must follow FROM/JOIN/','"
                )

        i = self._ws_left(sql, end)
        if i > 0 and sql[i - 1] == ")":
            start = self._asof_scan_balanced_back(sql, i)
            check_pre(start)
            return sql[start:i], None, start
        word, j = read_word(i)
        if not word:
            raise UQueryError.sql_error("ASOF JOIN: missing left relation")
        k = self._ws_left(sql, j)
        if k > 0 and sql[k - 1] == ")":
            # word is the alias of a parenthesised subquery
            start = self._asof_scan_balanced_back(sql, k)
            check_pre(start)
            return sql[start:k], word, start
        word2, j2 = read_word(k)
        if word2.lower() == "as":
            k2 = self._ws_left(sql, j2)
            if k2 > 0 and sql[k2 - 1] == ")":
                start = self._asof_scan_balanced_back(sql, k2)
                check_pre(start)
                return sql[start:k2], word, start
            word3, j3 = read_word(k2)
            check_pre(j3)
            return word3, word, j3
        if not word2 or word2.lower() in ("from", "join"):
            # bare relation: `FROM t ASOF JOIN …`
            return word, None, j
        k2 = self._ws_left(sql, j2)
        if k2 > 0 and sql[k2 - 1] == ",":
            return word, None, j
        # `FROM t alias ASOF JOIN …`
        check_pre(j2)
        return word2, word, j2

    def _rewrite_asof_join(self, sql: str) -> str:
        """DuckDB ``l ASOF [LEFT] JOIN r ON <eq…> AND l.on >= r.on`` (or
        ``… USING (k…, on)`` — last USING column is the ``>=`` ordering,
        DuckDB docs "AsOf Joins") → the union + windowed last/first-
        non-null derived table (the same single-sort-shuffle plan as
        operators/asof.py, incl. the struct-per-right-row matching so a
        NULL payload on the matched row stays NULL). All four inequality
        directions; strictness handled by tie-ordering. Relations may be
        named tables/views or parenthesised subqueries (path tables are
        views by this point).

        NULL semantics (ADVICE r5): a right row whose ordering key or any
        equality key is NULL is filtered out of the right branch (NULL
        compares match nothing), and a left row with a NULL ordering key
        gets a NULL match — both verified against DuckDB. (DuckDB 1.0.0's
        KEYED path matches NULL-to-NULL ordering keys backward; its own
        unkeyed path does not — we follow the strict comparison
        semantics both ways.)

        Output naming: left columns keep their names; right columns that
        collide get a ``_1`` suffix (DuckDB's duplicate-disambiguation
        shape), so every column is referenceable downstream by BARE name
        — the derived table is aliased ``uq_asof`` and the original
        relation aliases go out of scope, like any derived table. For
        USING, the join columns are emitted once (left copy, DuckDB
        star shape)."""
        m = self._search_code(self._ASOF_KW_RE, sql)
        if not m:
            return sql
        lrel, lal_in, start = self._asof_parse_left(sql, m.start())
        rrel, ral_in, cond_start, kw = self._asof_parse_right(sql, m.end())
        inner = not m.group("left")
        lsub = lrel.startswith("(")
        rsub = rrel.startswith("(")
        lal = lal_in or ("__uq_l" if lsub or "." in lrel else lrel)
        ral = ral_in or ("__uq_r" if rsub or "." in rrel else rrel)
        try:
            lp = self._rewrite_poly_subscript(lrel)
            rp = self._rewrite_poly_subscript(rrel)
            lcols = self.spark.sql(f"SELECT * FROM {lp} LIMIT 0").columns
            rcols = self.spark.sql(f"SELECT * FROM {rp} LIMIT 0").columns
        except Exception as exc:
            raise UQueryError.sql_error(
                f"ASOF JOIN: cannot resolve relation schema: {exc}"
            ) from exc

        def side_of(ref: str) -> tuple[str, str]:
            """→ ('l'|'r', bare column name)."""
            if "." in ref:
                pre, col = ref.rsplit(".", 1)
                if pre.lower() in (lal.lower(), lrel.lower()):
                    return "l", col
                if pre.lower() in (ral.lower(), rrel.lower()):
                    return "r", col
                raise UQueryError.sql_error(f"ASOF JOIN: unknown qualifier '{pre}'")
            inl, inr = ref in lcols, ref in rcols
            if inl and not inr:
                return "l", ref
            if inr and not inl:
                return "r", ref
            raise UQueryError.sql_error(
                f"ASOF JOIN: ambiguous or unknown column '{ref}' — qualify it"
            )

        keys: list[tuple[str, str]] = []
        on_pair = None  # (lcol, rcol, op_normalized_to_l_side)
        using_cols: list[str] = []
        if kw == "using":
            i = self._ws_right(sql, cond_start)
            if i >= len(sql) or sql[i] != "(":
                raise UQueryError.sql_error("ASOF JOIN USING: expected '(col, …)'")
            close = self._asof_scan_balanced(sql, i)
            using_cols = [c.strip() for c in sql[i + 1 : close - 1].split(",")]
            if not using_cols or not all(
                re.fullmatch(r"\w+", c) for c in using_cols
            ):
                raise UQueryError.sql_error(
                    "ASOF JOIN USING: bare column names only"
                )
            for c in using_cols:
                if c not in lcols or c not in rcols:
                    raise UQueryError.sql_error(
                        f"ASOF JOIN USING: column '{c}' must exist on both sides"
                    )
            # DuckDB: the LAST USING column is the >= ordering key
            keys = [(c, c) for c in using_cols[:-1]]
            on_pair = (using_cols[-1], using_cols[-1], ">=")
            cond_end = close
        else:
            # the condition ends at a top-level clause keyword or at
            # the bracket closing the join's enclosing group
            cond_end = len(sql)
            for t, depth in self._code_scan(sql, r"[^\W\d]\w*", cond_start):
                if depth < 0 or (not depth and t.group().lower() in self._ASOF_STOP):
                    cond_end = t.start()
                    break
            cond = sql[cond_start:cond_end].strip()
            for conj in self._split_top(cond, "AND"):
                cm = self._ASOF_CMP_RE.match(conj)
                if not cm:
                    raise UQueryError.sql_error(
                        f"ASOF JOIN: unsupported condition '{conj.strip()[:60]}'"
                    )
                sa, ca = side_of(cm.group("a"))
                sb, cb = side_of(cm.group("b"))
                op = cm.group("op")
                if sa == sb:
                    raise UQueryError.sql_error(
                        "ASOF JOIN: each condition must compare the two sides"
                    )
                if sa == "r":  # normalize to left operand first
                    sa, sb, ca, cb = sb, sa, cb, ca
                    op = {">": "<", "<": ">", ">=": "<=", "<=": ">="}.get(op, op)
                if op == "=":
                    keys.append((ca, cb))
                elif on_pair is None:
                    on_pair = (ca, cb, op)
                else:
                    raise UQueryError.sql_error(
                        "ASOF JOIN: exactly one inequality required"
                    )
            if on_pair is None:
                raise UQueryError.sql_error(
                    "ASOF JOIN: an inequality condition is required"
                )
        lon, ron, op = on_pair
        backward = op in (">=", ">")
        inclusive = op in (">=", "<=")
        # tie order: whether the coincident RIGHT row is visible to the
        # left row's frame
        if backward:
            l_ord, r_ord = (1, 0) if inclusive else (0, 1)
            win = ("last", "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW")
        else:
            l_ord, r_ord = (0, 1) if inclusive else (1, 0)
            win = ("first", "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING")

        l_sel = ", ".join(
            [f"{lal}.`{c}` AS __l{i}" for i, c in enumerate(lcols)]
            + [f"NULL AS __r{j}" for j in range(len(rcols))]
            + [f"{lal}.`{k}` AS __k{n}" for n, (k, _) in enumerate(keys)]
            + [f"{lal}.`{lon}` AS __on", "1 AS __tag", f"{l_ord} AS __ord"]
        )
        r_sel = ", ".join(
            [f"NULL AS __l{i}" for i in range(len(lcols))]
            + [f"{ral}.`{c}` AS __r{j}" for j, c in enumerate(rcols)]
            + [f"{ral}.`{rk}` AS __k{n}" for n, (_, rk) in enumerate(keys)]
            + [f"{ral}.`{ron}` AS __on", "0 AS __tag", f"{r_ord} AS __ord"]
        )
        # NULL compares match nothing: right rows with a NULL ordering key
        # or a NULL equality key can never be the match — drop them before
        # the union so the window can't pick them (ADVICE r5).
        r_where = " AND ".join(
            [f"{ral}.`{ron}` IS NOT NULL"]
            + [f"{ral}.`{rk}` IS NOT NULL" for _, rk in keys]
        )
        match = (
            "CASE WHEN __tag = 0 THEN named_struct("
            + ", ".join(f"'r{j}', __r{j}" for j in range(len(rcols)))
            + ") END"
        )
        part = ", ".join(f"__k{n}" for n in range(len(keys))) or "1"
        w = (
            f"{win[0]}({match}) IGNORE NULLS OVER (PARTITION BY {part} "
            f"ORDER BY __on ASC, __ord ASC {win[1]})"
        )
        # a LEFT row with a NULL ordering key never matches either
        w = f"IF(__on IS NULL, NULL, {w})"
        if kw == "using":
            r_emit = [(j, c) for j, c in enumerate(rcols) if c not in set(using_cols)]
        else:
            r_emit = list(enumerate(rcols))
        used = set(lcols)
        r_named: list[tuple[int, str]] = []
        for j, c in r_emit:
            name, k = c, 1
            while name in used:
                name, k = f"{c}_{k}", k + 1
            used.add(name)
            r_named.append((j, name))
        out = ", ".join(
            [f"__l{i} AS `{c}`" for i, c in enumerate(lcols)]
            + [f"__m.r{j} AS `{name}`" for j, name in r_named]
        )
        guard = " AND __m IS NOT NULL" if inner else ""
        gen = (
            f"(SELECT {out} FROM ("
            f"SELECT u.*, {w} AS __m FROM ("
            f"SELECT {l_sel} FROM {lrel} {lal} UNION ALL "
            f"SELECT {r_sel} FROM {rrel} {ral} WHERE {r_where}"
            f") u) WHERE __tag = 1{guard}) uq_asof"
        )
        return self._rewrite_asof_join(sql[:start] + gen + " " + sql[cond_end:])

    # -- sweep batch 3: SIMILAR TO / GLOB operators, trailing comma -------

    _SIMILAR_TO_RE = re.compile(r"(?i)\b(not\s+)?similar\s+to\s+'((?:[^']|'')*)'")
    _GLOB_RE = re.compile(r"(?i)\bglob\s+'((?:[^']|'')*)'")
    _TRAILING_COMMA_RE = re.compile(r",(\s+from\b)", re.IGNORECASE)

    def _full_match(self, pattern: str) -> str:
        """A regex argument as the operand of a full-match RLIKE,
        ``^(?:p)\\z``: Java's ``$`` also matches before a final line
        terminator, RE2's does not. A pattern that is no literal is
        anchored with ``||``, which keeps a NULL pattern NULL (the concat
        pass gives ``concat`` DuckDB's NULL-skipping meaning)."""
        pat, end = self._lit_parse(pattern), r")\z"
        if pat is None:
            return f"({self._lit_emit('^(?:')} || ({pattern}) || {self._lit_emit(end)})"
        return self._lit_emit(f"^(?:{pat}{end}")

    def _rewrite_similar_glob(self, sql: str) -> str:
        """``x [NOT] SIMILAR TO 'p'`` → ``[NOT] RLIKE`` anchored by
        ``_full_match`` (SIMILAR TO is a fully-anchored regex in DuckDB);
        ``x GLOB 'pat'`` → LIKE with * → % and ? → _ (existing LIKE
        metachars escaped), or, with bracket classes, a fully-anchored
        RLIKE. Only the operator + literal is replaced, so the left
        operand needs no parsing."""

        def similar(m: re.Match) -> str:
            neg = "NOT " if m.group(1) else ""
            return f"{neg}RLIKE " + self._full_match("'" + m.group(2) + "'")

        def glob_regex(pat: str) -> str | None:
            """GLOB with bracket classes (batch 28, pattern fuzzer) → a
            regex for a full match. DuckDB-probed: only '!' negates ('^' is a
            literal member), ']' as first member is literal, an
            UNCLOSED '[' never matches anything (→ '(?!)'); a bare
            leading/trailing '-' raises (DuckDB's own never-match edge
            — loud beats replicating an accident)."""
            out, i, n = [], 0, len(pat)
            while i < n:
                c = pat[i]
                if c == "*":
                    out.append(".*")
                elif c == "?":
                    out.append(".")
                elif c == "[":
                    j = i + 1
                    neg = j < n and pat[j] == "!"
                    if neg:
                        j += 1
                    start = j
                    if j < n and pat[j] == "]":
                        j += 1  # literal ] first member
                    while j < n and pat[j] != "]":
                        j += 1
                    if j >= n:
                        return None  # unclosed: never matches
                    body = pat[start:j]
                    cls = []
                    for k, ch in enumerate(body):
                        if ch == "-":
                            if 0 < k < len(body) - 1:
                                cls.append("-")
                                continue
                            raise UQueryError.sql_error(
                                "GLOB: bare '-' at a bracket-class edge "
                                "(DuckDB's never-match edge — write the "
                                "range out)"
                            )
                        cls.append("\\" + ch if ch in "\\^]['&" else ch)
                    out.append(("[^" if neg else "[") + "".join(cls) + "]")
                    i = j + 1
                    continue
                elif c in ".^$+{}()|\\]":
                    out.append("\\" + c)
                else:
                    out.append(c)
                i += 1
            return "".join(out)

        def glob(m: re.Match) -> str:
            pat = m.group(1)
            if "[" in pat:
                rx = glob_regex(pat)
                if rx is None:
                    rx = "(?!)"  # unclosed '[': DuckDB matches nothing
                return "RLIKE " + self._full_match(self._lit_emit(rx))
            like = (
                pat.replace("\\", "\\\\")
                .replace("%", "\\%")
                .replace("_", "\\_")
                .replace("*", "%")
                .replace("?", "_")
            )
            return f"LIKE '{like}'"

        out, pos = [], 0
        while True:
            ms = self._search_code(self._SIMILAR_TO_RE, sql, pos)
            mg = self._search_code(self._GLOB_RE, sql, pos)
            m = min((x for x in (ms, mg) if x), key=lambda x: x.start(), default=None)
            if m is None:
                out.append(sql[pos:])
                return "".join(out)
            out.append(sql[pos : m.start()])
            out.append(similar(m) if m.re is self._SIMILAR_TO_RE else glob(m))
            pos = m.end()

    def _strip_trailing_select_comma(self, sql: str) -> str:
        """DuckDB tolerates ``SELECT a, b, FROM t``; Spark raises
        TRAILING_COMMA_IN_SELECT. A comma DIRECTLY preceding FROM is
        never legal SQL otherwise, so stripping it code-wide is safe."""
        m = self._search_code(self._TRAILING_COMMA_RE, sql)
        while m:
            sql = sql[: m.start()] + m.group(1) + sql[m.end() :]
            m = self._search_code(self._TRAILING_COMMA_RE, sql)
        return sql

    # -- DuckDB bracket syntax: literals, indexing, slicing, comprehensions

    @staticmethod
    def _slice_form(operand: str, a: str, b: str, slice_fn: str, size_fn: str) -> str:
        """The normalized DuckDB slice (1-based inclusive, negative from
        the end, clamped; inverted → empty) over either container kind:
        (slice, size) for lists, (substring, length) for strings —
        identical window arithmetic, verified on both engines."""
        neg = lambda x: re.fullmatch(r"-\d+", x)  # noqa: E731
        if not b:
            if neg(a):
                return f"{slice_fn}({operand}, {a}, {a.lstrip('-')})"
            start = a or "1"
            return f"{slice_fn}({operand}, {start}, {size_fn}({operand}))"
        b_ix = f"{size_fn}({operand}) + ({b}) + 1" if neg(b) else b
        a_ix = f"{size_fn}({operand}) + ({a}) + 1" if neg(a) else (a or "1")
        start = a_ix if re.fullmatch(r"[1-9]\d*", a_ix) else f"greatest(1, {a_ix})"
        return f"{slice_fn}({operand}, {start}, greatest(0, ({b_ix}) - ({start}) + 1))"

    def _bracket_postfix(self, operand: str, inner: str) -> str:
        """1-based DuckDB indexing/slicing on `operand` → Spark calls.

        index: l[i] → get(l, i-1) (i=0 and out-of-range give NULL);
        negative literal → try_element_at (counts from the end).
        slice (1-based INCLUSIVE bounds): l[a:b] → slice(l, a, b-a+1);
        open ends use 1 / size(l); negative a with open end keeps the
        tail (slice(l, -k, k)).

        The operand's type is unknowable at rewrite time, and DuckDB
        subscripts also apply to STRINGS ('abcdef'[2:4] = 'bcd', [i] =
        one character, OOB/0 → '') with the SAME window arithmetic —
        so list and string translations are BOTH emitted inside a
        ``uq_poly(list_form, string_form)`` marker that
        _rewrite_poly_subscript resolves with a LIMIT-0 type probe at
        the end of the pipeline. The string index form is emitted as a
        DuckDB-semantics 3-arg substring and picked up by the batch-8
        window translation downstream.
        """
        colon_parts = self._split_top(inner, ":")
        if len(colon_parts) == 3:
            # batch-19: STEP slices — l[a:b:s] takes every s-th element
            # of the inclusive window; a negative step walks b..a
            # REVERSED ([5:1:-2] = [5,3,1], [::-1] = full reverse);
            # step 0 errors like DuckDB. The old 2-part parse silently
            # DROPPED the step (sweep find). Lists only — DuckDB itself
            # raises "not implemented" for strings with steps.
            a, b, s = (p.strip() for p in colon_parts)
            if not re.fullmatch(r"-?\d+", s):
                raise UQueryError.sql_error(
                    "slice step must be a literal integer"
                )
            step = int(s)
            if step == 0:
                raise UQueryError.sql_error("Slice step cannot be zero")
            if step > 0:
                base = self._slice_form(operand, a, b, "slice", "size")
            else:
                # uq_native_reverse: a sentinel the batch-28 grapheme
                # pass must NOT intercept (lists reverse natively);
                # restored to reverse() at the end of the pipeline
                base = f"uq_native_reverse({self._slice_form(operand, b, a, 'slice', 'size')})"
                step = -step
            if step == 1:
                return base
            # stride via an index sequence + 1-arg lambda: a 2-arg
            # filter lambda here would get the batch-7 1-based index
            # shift downstream (this text predates that pass)
            return (
                f"(CASE WHEN size({base}) = 0 THEN {base} "
                f"ELSE transform(sequence(1, size({base}), {step}), "
                f"uq_ix -> element_at({base}, uq_ix)) END)"
            )
        if len(colon_parts) > 1:
            a, b = (p.strip() for p in colon_parts[:2])
            if not a and not b:
                return operand
            lst = self._slice_form(operand, a, b, "slice", "size")
            st = self._slice_form(operand, a, b, "substring", "length")
            return f"uq_poly({lst}, {st})"
        idx = inner.strip()
        if operand.lower().startswith("map("):
            # subscript directly on a MAP {} literal: key lookup whatever
            # the key type. DuckDB map[k] returns a single-element LIST
            # ([] when the key is missing) — matched with a filtered
            # one-element array, so chained [1] unwrapping works on the
            # identical SQL both engines run.
            return (
                f"filter(array(try_element_at({operand}, {idx})), uq_mv -> uq_mv IS NOT NULL)"
            )
        if idx.startswith("'"):  # string key ⇒ map/struct access
            # batch 25: map-vs-struct resolves by LIMIT-0 probe
            # (uq_polymap marker): MAP subscripts return DuckDB's
            # single-element LIST ([] when missing), STRUCT subscripts
            # return the field. Fallback: scalar element_at (the
            # pre-batch-25 behavior).
            return f"uq_polymap({operand}, {idx})"
        # batch 28: integer subscripts are also MAP key access in DuckDB
        # (m[1] → single-element LIST) — the uq_polymapi marker probes
        # map-ness first (map_keys discriminator) and otherwise falls
        # back to the list/string uq_poly pair below
        if re.fullmatch(r"-\d+", idx):
            # try_: ANSI element_at errors on out-of-bounds; DuckDB → NULL
            return (
                f"uq_polymapi({operand}, {idx}, "
                f"uq_poly(try_element_at({operand}, {idx}), "
                f"substring({operand}, {idx}, 1)))"
            )
        if re.fullmatch(r"\d+", idx):
            return (
                f"uq_polymapi({operand}, {idx}, "
                f"uq_poly(get({operand}, {int(idx) - 1}), "
                f"substring({operand}, {idx}, 1)))"
            )
        # assumes a list or string (1-based, negative counts from the
        # end). Zero-guard + try_: DuckDB yields NULL for l[0] and any
        # out-of-bounds list index ('' for strings — the dynamic
        # substring gets the batch-8 window translation which
        # reproduces that). element_at takes only an INT index where
        # DuckDB takes a BIGINT (a range() element): try_cast, NULL
        # out of INT range
        return (
            f"uq_polymapi({operand}, ({idx}), "
            f"uq_poly((CASE WHEN ({idx}) = 0 THEN NULL "
            f"ELSE try_element_at({operand}, try_cast(({idx}) AS INT)) END), "
            f"substring({operand}, ({idx}), 1)))"
        )

    def _bracket_literal(self, inner: str) -> str:
        """`[items]` → array(items); `[expr FOR v IN src [IF cond]]` →
        transform([filter(src, v -> cond)], v -> expr) — DuckDB list
        comprehensions are exactly Spark's higher-order functions."""
        parts = self._split_top(inner, "for")
        if len(parts) == 1:
            return f"array({inner})"
        expr = parts[0].strip()
        in_parts = self._split_top(parts[1], "in")
        if len(in_parts) < 2:
            return f"array({inner})"
        var = in_parts[0].strip()
        tail = "in".join(in_parts[1:]) if len(in_parts) > 2 else in_parts[1]
        cond_parts = self._split_top(tail, "if")
        src = cond_parts[0].strip()
        if len(cond_parts) > 1:
            src = f"filter({src}, {var} -> {cond_parts[1].strip()})"
        return f"transform({src}, {var} -> {expr})"

    _OPEN_BRACKET_RE = re.compile(r"\[")

    def _rewrite_bracket_syntax(self, sql: str) -> str:
        """DuckDB bracket forms → Spark: list literal `[a, b]` →
        array(a, b); comprehension → transform/filter; postfix `l[i]` /
        `l[a:b]` → get/element_at/slice (1-based inclusive semantics —
        verified against DuckDB incl. [0]→NULL and negative indexes).
        Postfix vs literal is decided by the preceding character
        (identifier/')'/']' ⇒ postfix). Recurses into bracket bodies."""
        out, pos = [], 0
        while m := self._search_code(self._OPEN_BRACKET_RE, sql, pos):
            close = self._find_close(sql, m.start())
            if close == -1:
                break
            inner = self._rewrite_bracket_syntax(sql[m.end() : close])
            out.append(sql[pos : m.start()])
            head = "".join(out)
            # postfix binds TIGHTLY (`l[2]`, `f(a)[1]`): the char
            # immediately before '[' decides; a space means literal.
            prev = head[-1:]
            i = None
            if prev and (prev.isalnum() or prev in "_)]'\""):
                i = self._chain_start(head, len(head))
            if i is not None:
                out = [head[:i], self._bracket_postfix(head[i:], inner)]
            else:
                out.append(self._bracket_literal(inner))
            pos = close + 1
        out.append(sql[pos:])
        return "".join(out)

    # SELECT * EXCLUDE (cols) / EXCLUDE col → Spark's * EXCEPT (cols)
    _EXCLUDE_RE = re.compile(r"(?i)(\*\s*)exclude\s*(\(([^)]*)\)|([A-Za-z_]\w*))")

    @classmethod
    def _rewrite_exclude(cls, sql: str) -> str:
        """DuckDB ``SELECT * EXCLUDE (a, b)`` (parens optional for one
        column) → Spark ``* EXCEPT (a, b)``. ``* REPLACE`` is NOT
        translated (needs schema knowledge) — documented deviation."""
        return cls._sub_code_fn(
            cls._EXCLUDE_RE, lambda m: f"{m.group(1)}EXCEPT ({m.group(3) or m.group(4)})", sql
        )

    @classmethod
    def _rewrite_int_div(cls, sql: str) -> str:
        """DuckDB ``a // b`` (truncating integer division — same semantics
        as Spark's ``div``, verified incl. negatives) → ``a div b``.
        Reached by the ``//`` the ÷0 pass leaves: a divisor it cannot
        scan as an operand, such as ``- 2`` (a sign apart from its
        operand) or ``~2``, or a bare NULL dividend.
        String literals are skipped so ``'https://…'`` survives."""
        return cls._sub_code_fn(re.compile("//"), lambda _m: " div ", sql)

    _IN_SUBQ_RE = re.compile(r"(?i)\b(not\s+)?in\s*\(\s*select\b")
    _IN_CLAUSE_KW = {
        "select": "project",
        "where": "filter", "having": "filter", "qualify": "filter",
        "on": "filter", "by": "other", "set": "other",
    }

    def _in_clause_of(self, sql: str, pos: int) -> str:
        """Clause governing position ``pos``: FORWARD literal-aware scan
        (ADVICE r7 — the old backward quote heuristic mispaired escaped
        '' literals and read quoted identifiers as keywords). One
        clause-kind frame per paren depth; keywords inside groups that
        close before ``pos`` are popped away; the nearest enclosing
        frame with a keyword wins — exactly the old backward-walk
        semantics. Quoted tokens are skipped. Returns 'project' for
        SELECT, 'filter' for WHERE/HAVING/ON/QUALIFY, 'other'
        otherwise; CASE branch keywords are not clause keywords, so a
        CASE inherits its surrounding clause."""
        stack: list[str | None] = [None]
        for m, _depth in self._code_scan(sql, r"[^\W\d]\w*", 0, pos):
            if m.lastgroup == "open":
                stack.append(None)
            elif m.lastgroup == "close":
                if len(stack) > 1:
                    stack.pop()
            elif kind := self._IN_CLAUSE_KW.get(m.group().lower()):
                stack[-1] = kind
        for k in reversed(stack):
            if k:
                return k
        return "other"

    _IN_SELECT_SIGN_RE = re.compile(r"(?i)(\bIN\s*\(\s*SELECT)(?=\s*[-+(])")

    def _rewrite_in_select_sign(self, sql: str) -> str:
        """``x IN (SELECT -1)``: Spark's parser reads a subquery after IN
        whose select list starts with a sign or a parenthesis as the
        expression list ``SELECT - 1`` (a column named SELECT) or the call
        ``SELECT(1)``. ``SELECT ALL``, the same query, reads only as one."""
        return self._sub_code_fn(self._IN_SELECT_SIGN_RE, lambda m: m.group(1) + " ALL", sql)

    # IN binds looser than arithmetic and ||: 1 + 2 IN (…) is (1+2) IN (…)
    _IN_LHS_OPS = ("||", "+", "-", "*", "/", "%")

    def _rewrite_in_subquery_null(self, sql: str) -> str:
        """Projected ``x [NOT] IN (SELECT …)`` with a NULL-bearing,
        non-matching subquery: DuckDB yields NULL, Spark FALSE (batch
        28 catch, previously a documented deviation; WHERE/HAVING/ON
        position is value-identical — NULL filters like FALSE — and is
        left on Spark's single-semi-join plan). In SELECT position the
        IN becomes a three-valued CASE: match → TRUE; else a NULL
        subquery element forces NULL; else Spark's own IN (which
        already handles the NULL-probe and empty-subquery corners).
        Multi-column tuple IN ((a,b) IN …) is skipped (left native —
        width-deviation documented). NOT IN wraps the same CASE in
        NOT. The subquery is duplicated (match + has-null probes);
        projected IN-subqueries are rare enough that the extra
        ExistenceJoin is immaterial, and filters keep the fast path."""
        pos = 0
        while True:
            m = self._search_code(self._IN_SUBQ_RE, sql, pos)
            if not m:
                return sql
            if self._in_clause_of(sql, m.start()) != "project":
                pos = m.end()
                continue
            op = sql.find("(", m.start())
            close = self._find_close(sql, op)
            if close == -1:
                pos = m.end()
                continue
            ls = self._operand_start(sql, m.start(), self._IN_LHS_OPS, sign=True)
            if ls is None:
                # translate-or-raise: leaving an uncapturable LHS native
                # would silently keep the FALSE-vs-NULL deviation, and a
                # partial capture would reach Catalyst garbled (ADVICE r7)
                raise UQueryError.sql_error(
                    "projected IN (subquery): unsupported left-operand "
                    f"shape before position {m.start()}"
                )
            x = sql[ls:m.start()].strip()
            if x.startswith("(") and len(self._split_top(x[1:-1], ",")) > 1:
                pos = m.end()  # tuple IN — leave native
                continue
            subq = sql[op + 1 : close]
            neg = "NOT " if m.group(1) else ""
            # NULL probe arm is explicit: Spark's InSubquery returns
            # FALSE for a NULL probe COLUMN (the literal-NULL case is
            # constant-folded and looked correct — subq-axis fuzzer
            # catch, round 7); DuckDB: NULL with a nonempty subquery →
            # NULL, with an empty one → FALSE.
            form = (
                f"({neg}CASE WHEN ({x}) IN ({subq}) THEN TRUE "
                f"WHEN ({x}) IS NULL THEN "
                f"(CASE WHEN EXISTS (SELECT 1 FROM ({subq}) uq_inq) "
                f"THEN CAST(NULL AS BOOLEAN) ELSE FALSE END) "
                f"WHEN EXISTS (SELECT 1 FROM ({subq}) uq_inq(uq_inv) "
                f"WHERE uq_inv IS NULL) THEN CAST(NULL AS BOOLEAN) "
                f"ELSE ({x}) IN ({subq}) END)"
            )
            sql = sql[:ls] + form + sql[close + 1 :]
            pos = ls + len(form)

    _DIV_OP_RE = re.compile(r"//?|%")
    # the dividend of // extends through its own precedence level
    _FLOORDIV_LHS_OPS = ("//", "*", "/", "%")

    def _rewrite_div_by_zero(self, sql: str) -> str:
        """DuckDB returns NULL for division/modulo by zero in EVERY
        numeric type (1/0, 1.0/0.0, 1%0, 7//0 all probed NULL — DOUBLE
        included, NOT Infinity) where Spark's ANSI mode raises
        DIVIDE_BY_ZERO / REMAINDER_BY_ZERO — the last loud
        DuckDB-valid-query-fails gap (VERDICT r6 #2, NOTES 'ANSI-mode
        follow-up'). Translation: wrap the DIVISOR in ``nullif(d, 0)``
        — x / NULL is NULL in both engines, the result TYPE is
        unchanged (nullif preserves its first argument's type, so
        int/decimal/double widths stay exactly what Spark computes
        today), operator precedence is untouched (the divisor is one
        operand of _operand_end, replaced in place), interval dividends
        keep their native path, and no analysis probe is needed.
        ``//`` becomes ``div nullif(d, 0)`` here (DuckDB 7//0 is NULL
        too). A divisor that doesn't scan as an operand (7 // EXISTS
        (…), a binder error in DuckDB) is left native."""
        pos = 0
        while m := self._search_code(self._DIV_OP_RE, sql, pos):
            i, op = m.start(), m.group()
            oplen = len(op)
            end = self._operand_end(sql, i + oplen)
            rhs = "" if end is None else sql[i + oplen : end].strip()
            if not rhs or rhs.startswith(("nullif((", "nullif(CAST((")):
                # no divisor operand, or one this pass already wrapped
                pos = i + oplen
                continue
            if op == "//":
                # `//` is type-dispatched (wave-4 gap probe, round
                # 10): DuckDB's floordiv TRUNCATES only for integral
                # operands; with ANY fractional operand it is PLAIN
                # division returning DOUBLE (7.5 // 2 = 3.75,
                # -7.5 // 2 = -3.75, DECIMAL probes DOUBLE) — the
                # old blanket div was a silent wrong-value class.
                # The dividend is everything back to the previous
                # operator of looser precedence (2 * 7 // 2 is 7). A
                # bare NULL dividend has no type to dispatch on: the
                # integer div stays, NULL like DuckDB's.
                ls = self._operand_start(sql, i, self._FLOORDIV_LHS_OPS)
                lhs = "" if ls is None else sql[ls:i].strip()
                if lhs and lhs.upper() != "NULL":
                    repl = (
                        f"uq_poly((({lhs}) / nullif(CAST(({rhs}) AS DOUBLE), 0)), "
                        f"(((({lhs}) & 0) + (({rhs}) & 0)) + "
                        f"(({lhs}) div nullif(({rhs}), 0))))"
                    )
                    sql = sql[:ls] + repl + sql[end:]
                    # rescan from the replacement start: the emitted
                    # `/` skips via the nullif guard, divisions
                    # inside the copied operands wrap per copy
                    pos = ls
                    continue
                repl = " div nullif(({}), 0)".format(rhs)
            elif op == "/":
                # DuckDB's `/` ALWAYS returns DOUBLE (decimal/decimal
                # probed DOUBLE; 1/2 is 0.5) — casting the DIVISOR
                # promotes the result to DOUBLE for every numeric
                # dividend while interval dividends stay native
                # (interval / double is valid Spark), fixing the
                # decimal-width/rounding divergence in the same wrap
                repl = "/ nullif(CAST(({}) AS DOUBLE), 0)".format(rhs)
            else:
                repl = "% nullif(({}), 0)".format(rhs)
            sql = sql[:i] + repl + sql[end:]
            # do NOT jump past the replacement: the wrapped divisor
            # may itself contain divisions ((a)/(b/0)) — rescan from
            # the operator; the nullif prefix guard skips the wrap
            # we just made and the scan proceeds inside it
            pos = i + oplen
        return sql

    def _rewrite_distinct_on(self, sql: str) -> str:
        """DuckDB/Postgres ``SELECT DISTINCT ON (keys) list … [ORDER BY o]``
        → first row per key group via a row_number window:

        SELECT * EXCEPT (uq_don) FROM (
          SELECT list, row_number() OVER (PARTITION BY keys ORDER BY o|keys)
                 AS uq_don FROM …) WHERE uq_don = 1 [ORDER BY o]

        The ORDER BY (when present) decides which row survives, matching
        DuckDB; without one the survivor is arbitrary (also DuckDB).
        Outer ORDER BY items that are not select-list aliases or
        ordinals (expressions, or FROM columns absent from the select
        list) are projected as hidden uq_ob<i> columns inside the
        subquery and EXCEPTed back out — the previous emission left
        them in the outer tail where the wrapped subquery could not
        resolve them (r13 shape probe: DISTINCT ON (k % 5) …
        ORDER BY k % 5, price DESC raised UNRESOLVED_COLUMN).
        """
        m = re.match(r"(?is)^(\s*)select\s+distinct\s+on\s*\(", sql)
        if m is None:
            return sql
        close = self._close_of(m)
        keys = sql[m.end() : close].strip()
        rest = sql[close + 1 :]
        hits = list(self._scan_top_level(rest, {"from", "order", "limit"}))
        frm = next(h for h in hits if h[2] == "from")
        order_hit = next((h for h in hits if h[2] == "order"), None)
        limit_hit = next((h for h in hits if h[2] == "limit"), None)
        body_end = order_hit[0] if order_hit else (limit_hit[0] if limit_hit else len(rest))
        if order_hit:
            order_end = limit_hit[0] if limit_hit and limit_hit[0] > order_hit[0] else len(rest)
            order_exprs = re.sub(r"(?is)^order\s+by", "", rest[order_hit[0] : order_end]).strip()
        else:
            order_exprs = keys
        # select-list aliases (top-level AS name, or the bare/qualified
        # column itself) and bare expressions — outer ORDER BY items
        # matching an alias stay put; ordinals expand to the matching
        # select expression INSIDE the window (DuckDB treats DISTINCT
        # ON ordinals as output-column picks — r13 shape probe) but
        # stay ordinal outside
        aliases: dict[str, str] = {}
        sel_exprs: list[str] = []
        for it in self._split_top(rest[: frm[0]], ","):
            it = it.strip()
            pa = self._split_top(it, "as")
            if len(pa) > 1:
                expr = " AS ".join(p.strip() for p in pa[:-1])
                aliases[pa[-1].strip().strip('"').lower()] = expr
                sel_exprs.append(expr)
            else:
                sel_exprs.append(it)
                if re.fullmatch(r"[\w.]+", it):
                    aliases[it.split(".")[-1].lower()] = it
        hidden: list[str] = []
        outer_ob: list[str] = []
        win_ob: list[str] = []
        if order_hit:
            for idx, it in enumerate(self._split_top(order_exprs, ",")):
                it = it.strip()
                m2 = re.match(
                    r"(?is)^(.*?)((?:\s+asc|\s+desc)?"
                    r"(?:\s+nulls\s+(?:first|last))?)\s*$",
                    it,
                )
                core = m2.group(1).strip()
                suffix = (m2.group(2) or "").strip()
                bare = re.fullmatch(r"[\w.]+", core)
                if core.isdigit():
                    n = int(core)
                    if not (1 <= n <= len(sel_exprs)):
                        raise UQueryError.sql_error(
                            f"DISTINCT ON: ORDER BY ordinal {n} out of range"
                        )
                    win_ob.append(f"({sel_exprs[n - 1]}) {suffix}".strip())
                    outer_ob.append(it)
                    continue
                if bare and core.split(".")[-1].lower() in aliases:
                    # window specs can't see sibling select aliases —
                    # substitute the aliased EXPRESSION inside, keep
                    # the alias reference outside
                    win_ob.append(
                        f"({aliases[core.split('.')[-1].lower()]}) {suffix}".strip()
                    )
                    outer_ob.append(it)
                else:
                    win_ob.append(it)
                    hidden.append(f"({core}) AS uq_ob{idx}")
                    outer_ob.append(f"uq_ob{idx} {suffix}".strip())
            order_exprs = ", ".join(win_ob)
        except_cols = ", ".join(
            ["uq_don"] + [h.split(" AS ")[-1] for h in hidden]
        )
        new_tail = ""
        if order_hit:
            new_tail = "ORDER BY " + ", ".join(outer_ob) + " "
        if limit_hit:
            new_tail += rest[limit_hit[0]:]
        hidden_sql = (", " + ", ".join(hidden)) if hidden else ""
        return (
            f"SELECT * EXCEPT ({except_cols}) FROM (SELECT "
            + rest[: frm[0]]
            + hidden_sql
            + f", row_number() OVER (PARTITION BY {keys} ORDER BY {order_exprs}) AS uq_don "
            + rest[frm[0] : body_end]
            + ") WHERE uq_don = 1 "
            + new_tail
        )

    _PIVOT_STMT_RE = re.compile(
        r"(?is)^\s*on\s+(?P<onspec>.+?)"
        r"\s+using\s+(?P<agg>.+?)(?:\s+group\s+by\s+(?P<groups>.+?))?"
        r"(?P<tail>\s+(?:order\s+by|limit)\s.*)?\s*;?\s*$"
    )
    _PIVOT_MAX_VALUES = 500

    def _take_stmt_table(self, sql: str, keyword: str) -> tuple[str, str] | None:
        """For ``<keyword> <tbl> …`` statements: return (tbl, rest) where
        tbl is a (nested-paren-balanced) subquery, a quoted path resolved
        to a view, or a dotted name; None when sql isn't that statement."""
        m = re.match(rf"(?is)^\s*{keyword}\s+", sql)
        if m is None:
            return None
        i = m.end()
        if i < len(sql) and sql[i] == "(":
            close = self._find_close(sql, i)
            if close == -1:
                return None
            return sql[i : close + 1], sql[close + 1 :]
        # A quoted table is a PATH — match the full quoted string (paths
        # contain '/', '-', … that the bare-identifier charset excludes;
        # the old [\w.']+ charset cut "'/data/x.parquet'" at the slash
        # and resolved the empty path — round-5 smoke catch).
        mt = re.match(r"'[^']*'|[\w.]+", sql[i:])
        if mt is None:
            return None
        tbl = mt.group(0)
        if tbl.startswith("'"):
            tbl = self._view_for(tbl.strip("'"), None, {})
        return tbl, sql[i + mt.end() :]

    def _rewrite_pivot_statement(self, sql: str) -> str:
        """DuckDB ``PIVOT tbl ON col USING agg [GROUP BY g] [tail]`` →
        Spark ``SELECT * FROM (SELECT g, col, arg) PIVOT (agg FOR col IN
        (values))``.

        DuckDB auto-discovers the pivoted values; Spark needs them
        literal, so a DISTINCT probe runs first (bounded at 500 values —
        DuckDB materializes the same list internally). Column naming
        matches: bare values for an unaliased aggregate, ``value_alias``
        with one. count(*) pivots a constant column.
        """
        taken = self._take_stmt_table(sql, "pivot")
        if taken is None:
            return sql
        tbl, rest = taken
        m = self._PIVOT_STMT_RE.match(rest)
        if m is None:
            return sql
        onspec, agg = m.group("onspec").strip(), m.group("agg").strip()
        groups = [g.strip() for g in (m.group("groups") or "").split(",") if g.strip()]
        tail = m.group("tail") or ""
        # ON spec: comma-separated pivot exprs, each with an optional
        # `IN (literal list)` (round 9: multi-column cross-product and
        # expression pivots — DuckDB first-class forms)
        items: list[tuple[str, str | None]] = []
        for part in self._split_top(onspec, ","):
            part = part.strip()
            mi = re.match(r"(?is)^(.+?)\s+in\s*\((.*)\)\s*$", part)
            items.append(
                (mi.group(1).strip(), mi.group(2)) if mi else (part, None)
            )
        if not groups:
            # DuckDB statement-form PIVOT without GROUP BY groups
            # implicitly by every source column not pivoted ON and not
            # referenced by the aggregate (round-9 pivotfz follow-up —
            # the old translation aggregated everything into one row, a
            # silent shape deviation). LIMIT-0 schema probe, identifier
            # scan of the aggregate + ON texts for the reference check.
            with _probe_quiet():
                src_cols = self.spark.sql(
                    f"SELECT * FROM {tbl} uq_pv_cols LIMIT 0"
                ).columns
            used_ids = self._pivot_expr_ids(
                [agg]
                + [
                    expr
                    for expr, _iv in items
                    if not re.fullmatch(r"[\w.]+", expr)
                ]
            )
            on_cols = {
                expr.lower() for expr, _iv in items
                if re.fullmatch(r"[\w.]+", expr)
            }
            groups = [
                c for c in src_cols
                if c.lower() not in on_cols and c.lower() not in used_ids
            ]
        agg_list = self._split_top(agg, ",")
        simple = len(items) == 1 and re.fullmatch(r"[\w.]+", items[0][0])
        if not simple:
            if len(agg_list) > 1:
                raise UQueryError.sql_error(
                    "PIVOT: several aggregates combined with several ON "
                    "columns / ON expressions are not supported"
                )
            return self._pivot_statement_general(tbl, items, agg, groups, tail)
        col, invals = items[0]
        if len(agg_list) > 1:
            return self._pivot_statement_multi(
                tbl, col, agg_list, groups, tail, invals
            )
        am = re.match(r"(?is)^(\w+)\s*\((.*)\)\s*(?:as\s+(\w+))?$", agg)
        if am is None:
            raise UQueryError.sql_error(f"unsupported PIVOT aggregate: {agg[:60]}")
        fn, arg, alias = am.group(1), am.group(2).strip(), am.group(3)
        star = arg == "*"
        if star:
            fn, arg = "count", "1"
        vals = self._pivot_values(tbl, col, invals)
        def lit(v):
            """(IN-list text, output column name) for one pivot value.
            DuckDB names pivoted columns value_alias (Spark ignores the
            aggregate alias for a single agg, so the IN values carry
            it); an empty-string value with no alias falls back to
            DuckDB's filtered-aggregate expression text (round-9
            pivotfz fuzzer catch). Any name that is not a plain
            identifier travels as a late-substituted token — emitted
            raw, later passes would rewrite it in place (VARCHAR→
            STRING, `a!` factorial expansion — round-9/10 classes)."""
            base = (
                "'" + v.replace("'", "''") + "'"
                if isinstance(v, str)
                else "NULL" if v is None else str(v)
            )
            vstr = "NULL" if v is None else str(v)
            if alias:
                name = f"{vstr}_{alias}"
            elif isinstance(v, str) and v == "":
                name = self._pivot_filter_name(fn, arg, star, [col])
            else:
                name = vstr
            if re.fullmatch(r"\w+", name):
                # NULL values always carry the AS: Spark's default name
                # for a null pivot value ('null') differs from DuckDB's
                return (f"{base} AS `{name}`" if alias or v is None else base), name
            tok = self._pivot_name_token(name)
            return f"{base} AS `{tok}`", tok

        pairs = [lit(v) for v in vals]
        lits = ", ".join(p[0] for p in pairs)
        proj = ", ".join([*groups, col, f"({arg}) AS uq_pv"])
        agg_sql = f"{fn}(uq_pv)"
        pivoted = (
            f"SELECT * FROM (SELECT {proj} FROM {tbl} uq_pv_src) "
            f"PIVOT ({agg_sql} FOR {col} IN ({lits}))"
        )
        if fn.lower() == "count":
            # DuckDB's count pivot fills absent (group, value) cells
            # with 0; Spark's PIVOT yields NULL there (round-9 pivotfz
            # fuzzer catch). The value list is ours, so the output
            # columns are known — coalesce each to 0.
            esc = [p[1].replace("`", "``") for p in pairs]
            sel = [*groups, *(f"coalesce(`{n}`, 0) AS `{n}`" for n in esc)]
            pivoted = f"SELECT {', '.join(sel)} FROM ({pivoted}) uq_pv_cnt"
        return pivoted + tail

    def _pivot_name_token(self, name: str) -> str:
        """Register a pivot output-column name for late substitution at
        the rewrite() tail and return its placeholder token. Names that
        read like SQL (DuckDB FILTER-expression-text names for
        empty-string pivot values) or contain non-identifier characters
        would be rewritten in place by later passes — tokens are plain
        identifiers and survive. Monotonic counter (round-10 ADVICE:
        ``len(subs)``-derived names collided with stale keys after
        pops); backticks escaped HERE, the single point where a data
        value enters a quoted identifier (round-10 ADVICE: the multi
        path stored names unescaped → unparsable generated SQL). The
        map lives in the current rewrite() call's state, never on the
        shared rewriter, and only grows, so its size is the counter."""
        names = _PROBE_TLS.pivot_names
        tok = f"uq_pvn_{len(names)}"
        names[tok] = name.replace("`", "``")
        return tok

    @staticmethod
    def _pivot_combo_name(values: tuple, alias: str | None) -> str:
        """DuckDB's multi-ON pivot column name: values joined with '_'
        EXCEPT that the separator is skipped while the accumulated name
        is still empty (probed: ('','b')→'b', ('y','')→'y_',
        ('a','','c')→'a__c'); an alias is then appended with an
        unconditional '_' (('','b') AS s→'b_s', ('','') AS s→'_s').
        An all-empty combo with no alias yields '' — the caller falls
        back to DuckDB's FILTER-expression-text name. Explicit NULL
        values render as 'NULL' (DuckDB's column name for them)."""
        name = ""
        for v in values:
            vs = "NULL" if v is None else str(v)
            name = f"{name}_{vs}" if name else vs
        if alias:
            name = f"{name}_{alias}"
        return name

    @staticmethod
    def _pivot_filter_name(
        fn: str, arg: str, star: bool, on_exprs: list[str]
    ) -> str:
        """DuckDB's fallback column name when the joined pivot-value
        name is empty (all values ''): the internal filtered-aggregate
        expression text, e.g. ``sum(x) FILTER (WHERE ((CAST(a AS
        VARCHAR) IS NOT DISTINCT FROM '') AND (CAST(b AS VARCHAR) IS
        NOT DISTINCT FROM '')))`` — plain-identifier args/ON columns
        render bare, any other expression parenthesized; count(*)
        prints count_star(); several conditions AND-joined inside one
        extra paren pair (all probed against DuckDB 1.x)."""
        arg_text = arg if re.match(r"^\w+$", arg) else f"({arg})"
        head = "count_star()" if star else f"{fn}({arg_text})"
        conds = [
            "(CAST({} AS VARCHAR) IS NOT DISTINCT FROM '')".format(
                e if re.fullmatch(r"[\w.]+", e) else f"({e})"
            )
            for e in on_exprs
        ]
        cond = conds[0] if len(conds) == 1 else f"({' AND '.join(conds)})"
        return f"{head} FILTER (WHERE {cond})"

    _PIVOT_ID_RE = re.compile(rf"{_QUOTED}|(?i:\bas\s+[A-Za-z_]\w*)|([A-Za-z_]\w*)\s*(\()?")

    @staticmethod
    def _pivot_expr_ids(texts: list[str]) -> set[str]:
        """Identifier tokens that can be COLUMN REFERENCES in the given
        aggregate/ON expression texts — for DuckDB's implicit statement-
        PIVOT grouping (every source column not pivoted ON and not
        referenced by the aggregate). Round-10 ADVICE: the raw token
        scan also matched function names, AS-alias names, and words
        inside string literals, silently dropping source columns named
        e.g. ``sum`` from the implicit grouping (probed: DuckDB groups
        by all three). Skip string literals and AS-alias tokens, ignore
        tokens immediately followed by '(' (calls); a quoted identifier
        is one token."""
        ids: set[str] = set()
        for text in texts:
            for m in SqlRewriter._PIVOT_ID_RE.finditer(text):
                if m.group()[0] in "\"`":
                    ids.add(m.group().strip('"`').lower())
                elif m.group(1) and m.group(2) is None:
                    ids.add(m.group(1).lower())
        return ids

    def _pivot_values(self, tbl: str, col: str, invals: str | None) -> list:
        """Pivot value list: explicit ``ON col IN (…)`` literals when
        given (DuckDB keeps listed values verbatim, absent ones
        included), else the cached/bounded DISTINCT discovery probe."""
        if invals is not None:
            vals = []
            for tokv in self._split_top(invals, ","):
                tokv = tokv.strip()
                sv = self._lit_parse(tokv)
                if sv is not None:
                    vals.append(sv)
                elif tokv.upper() == "NULL":
                    # DuckDB pivots an explicit NULL into a column named
                    # 'NULL' aggregating the NULL-valued rows; Spark's
                    # PIVOT IN matches NULL literals null-safely (probed
                    # round 10) so the value passes straight through
                    vals.append(None)
                elif re.fullmatch(r"-?\d+", tokv):
                    vals.append(int(tokv))
                elif re.fullmatch(r"-?\d*\.\d+", tokv):
                    vals.append(float(tokv))
                else:
                    raise UQueryError.sql_error(
                        f"PIVOT IN list: literal values only, got {tokv[:40]}"
                    )
            return vals
        cache_key = (tbl, col)
        with self._state_lock:
            vals = self._pivot_vals.get(cache_key)
        if vals is None:
            # NULL is dropped from DISCOVERED values (DuckDB probes,
            # round-10 pivotfz fuzzer catch at seed 660001: a NULL
            # discovered value previously leaked the Python repr 'None'
            # into the generated IN list — an unresolvable-column
            # reject); the +2 bound keeps the over-limit check exact
            # when one slot was a NULL
            vals = [
                r[0]
                for r in self.spark.sql(
                    f"SELECT DISTINCT {col} FROM {tbl} uq_pv_src ORDER BY 1 "
                    f"LIMIT {self._PIVOT_MAX_VALUES + 2}"
                ).collect()
                if r[0] is not None
            ]
            # Bound memory on a long-lived server (many distinct pivot
            # sources) with a simple wholesale reset — re-probing is
            # cheap relative to an unbounded dict, and a reset also
            # re-reads sources that changed on disk. UQ_PIVOT_CACHE=0
            # disables caching entirely for sessions whose file-backed
            # sources mutate (staleness trade documented in __init__).
            if os.environ.get("UQ_PIVOT_CACHE", "1") != "0":
                with self._state_lock:
                    if len(self._pivot_vals) >= 256:
                        self._pivot_vals.clear()
                    self._pivot_vals[cache_key] = vals
        if len(vals) > self._PIVOT_MAX_VALUES:
            raise UQueryError.sql_error(
                f"PIVOT ON {col} exceeds {self._PIVOT_MAX_VALUES} distinct values"
            )
        return vals

    def _pivot_statement_general(
        self,
        tbl: str,
        items: list[tuple[str, str | None]],
        agg: str,
        groups: list[str],
        tail: str,
    ) -> str:
        """Multi-column / expression ON specs (round 9): DuckDB
        ``PIVOT t ON a, b USING sum(x)`` emits the CROSS PRODUCT of the
        columns' value sets named ``{v1}_{v2}[_alias]`` (absent combos
        NULL, count 0); ``ON expr`` pivots an expression with the value
        text as the name. Spark's multi-column PIVOT takes value TUPLES
        with aliases — pivot columns are synthesized as uq_pvc{k} so
        expressions work uniformly. One aggregate; an all-empty-string
        combo with no alias takes DuckDB's FILTER-expression-text name
        (round-10 — previously a loud 400)."""
        am = re.match(r"(?is)^(\w+)\s*\((.*)\)\s*(?:as\s+(\w+))?$", agg.strip())
        if am is None:
            raise UQueryError.sql_error(f"unsupported PIVOT aggregate: {agg[:60]}")
        fn, arg, alias = am.group(1), am.group(2).strip(), am.group(3)
        star = arg == "*"
        if star:
            fn, arg = "count", "1"
        vals_per = [
            self._pivot_values(tbl, expr, iv) for expr, iv in items
        ]
        from itertools import product

        combos = list(product(*vals_per))
        if len(combos) > self._PIVOT_MAX_VALUES:
            raise UQueryError.sql_error(
                f"PIVOT ON cross product exceeds {self._PIVOT_MAX_VALUES} values"
            )

        def vlit(v):
            if isinstance(v, str):
                return "'" + v.replace("'", "''") + "'"
            return "NULL" if v is None else str(v)

        pcols = [f"uq_pvc{k}" for k in range(len(items))]
        proj = ", ".join(
            [*groups]
            + [f"({expr}) AS {pc}" for (expr, _iv), pc in zip(items, pcols)]
            + [f"({arg}) AS uq_pv"]
        )
        def emit_name(name: str) -> str:
            """Backtick-safe emission: any non-identifier name travels
            as a late-substituted token — names like 'a!' otherwise get
            rewritten in place by later passes (the postfix-factorial
            pass expanded `a!` inside backticks — same class as the
            FILTER-text names)."""
            if re.fullmatch(r"\w+", name):
                return name
            return self._pivot_name_token(name)

        # DuckDB combo naming: skip-empty '_' join + unconditional alias
        # append (round-10: the plain "_".join deviated silently on
        # mixed '' combos — ('','b') AS s is 'b_s', not '_b_s'); a
        # fully-empty unaliased combo (at most one per pivot — every ON
        # value '') takes the FILTER-expression-text fallback (round-9
        # pivotfz fuzzer corner, previously a loud 400)
        names = [
            emit_name(
                self._pivot_combo_name(c, alias)
                or self._pivot_filter_name(
                    fn, arg, star, [expr for expr, _iv in items]
                )
            )
            for c in combos
        ]
        def clit(c, name):
            t = (
                f"({', '.join(vlit(v) for v in c)})"
                if len(c) > 1
                else vlit(c[0])
            )
            return f"{t} AS `{name}`"

        lits = ", ".join(clit(c, n) for c, n in zip(combos, names))
        fr = f"({', '.join(pcols)})" if len(pcols) > 1 else pcols[0]
        pivoted = (
            f"SELECT * FROM (SELECT {proj} FROM {tbl} uq_pv_src) "
            f"PIVOT ({fn}(uq_pv) FOR {fr} IN ({lits}))"
        )
        if fn.lower() == "count":
            sel = [*groups, *(f"coalesce(`{n}`, 0) AS `{n}`" for n in names)]
            pivoted = f"SELECT {', '.join(sel)} FROM ({pivoted}) uq_pv_gen"
        return pivoted + tail

    def _pivot_statement_multi(
        self,
        tbl: str,
        col: str,
        agg_list: list[str],
        groups: list[str],
        tail: str,
        invals: str | None,
    ) -> str:
        """Multi-aggregate statement PIVOT (round 9 — previously raised):
        ``PIVOT t ON c USING sum(a) AS s, count(*) …``. DuckDB output:
        group columns, then value-major ``{val}_{alias}`` (aliased) /
        ``{val}_{agg text}`` (unaliased — plain args bare, others
        parenthesized, count(*) prints count_star()). Spark's PIVOT
        requires aliases with several aggregates, so members get
        synthetic ``uq_pa{k}`` aliases and an outer projection renames
        ``{val}_uq_pa{k}`` to DuckDB's names (token-substituted at the
        rewrite() tail — the unaliased names read like SQL). Count
        members coalesce absent cells to 0 like the single path."""
        members = []
        for a in agg_list:
            am = re.match(r"(?is)^(\w+)\s*\((.*)\)\s*(?:as\s+(\w+))?$", a.strip())
            if am is None:
                raise UQueryError.sql_error(
                    f"unsupported PIVOT aggregate: {a.strip()[:60]}"
                )
            fn, arg, alias = am.group(1), am.group(2).strip(), am.group(3)
            star = arg == "*"
            if star:
                fn, arg = "count", "1"
            members.append((fn, arg, alias, star))
        vals = self._pivot_values(tbl, col, invals)
        # empty-string values need no special naming here: with several
        # aggregates DuckDB just prefixes '_' — `_t1`, `_count_star()` —
        # which the {v}_{alias-or-text} formula already produces
        if not groups:
            with _probe_quiet():
                src_cols = self.spark.sql(
                    f"SELECT * FROM {tbl} uq_pv_cols LIMIT 0"
                ).columns
            agg_ids = self._pivot_expr_ids(agg_list)
            groups = [
                c for c in src_cols
                if c.lower() != col.lower() and c.lower() not in agg_ids
            ]
        proj = ", ".join(
            [*groups, col]
            + [f"({arg}) AS uq_pv{k}" for k, (_f, arg, _a, _s) in enumerate(members)]
        )
        agg_sql = ", ".join(
            f"{fn}(uq_pv{k}) AS uq_pa{k}"
            for k, (fn, _arg, _al, _st) in enumerate(members)
        )

        def vlit(v):
            if isinstance(v, str):
                return "'" + v.replace("'", "''") + "'"
            return "NULL" if v is None else str(v)

        # explicit NULL values carry an AS so Spark's generated column
        # prefix is deterministic ('NULL', matching DuckDB's name)
        lits = ", ".join(
            vlit(v) + (" AS `NULL`" if v is None else "") for v in vals
        )
        inner = (
            f"SELECT * FROM (SELECT {proj} FROM {tbl} uq_pv_src) "
            f"PIVOT ({agg_sql} FOR {col} IN ({lits}))"
        )
        out = list(groups)
        for v in vals:
            vs = "NULL" if v is None else v
            for k, (fn, arg, alias, star) in enumerate(members):
                src = f"`{vs}_uq_pa{k}`"
                if alias:
                    name = f"{vs}_{alias}"
                else:
                    arg_text = arg if re.match(r"^\w+$", arg) else f"({arg})"
                    head = "count_star()" if star else f"{fn}({arg_text})"
                    name = f"{vs}_{head}"
                tok = self._pivot_name_token(name)
                expr = f"coalesce({src}, 0)" if fn.lower() == "count" else src
                out.append(f"{expr} AS `{tok}`")
        return f"SELECT {', '.join(out)} FROM ({inner}) uq_pv_multi{tail}"

    _UNPIVOT_STMT_RE = re.compile(
        r"(?is)^\s*on\s+(?P<cols>.+?)"
        r"\s+into\s+name\s+(?P<name>\w+)\s+value\s+(?P<value>\w+)"
        r"(?P<tail>\s+(?:order\s+by|limit)\s.*)?\s*;?\s*$"
    )

    def _rewrite_unpivot_statement(self, sql: str) -> str:
        """DuckDB ``UNPIVOT tbl ON c1, c2 INTO NAME n VALUE v [tail]`` →
        Spark ``SELECT * FROM tbl UNPIVOT (v FOR n IN (c1, c2)) [tail]``
        — a direct syntactic mapping (both melt the named columns and
        keep the rest as identifiers)."""
        taken = self._take_stmt_table(sql, "unpivot")
        if taken is None:
            return sql
        tbl, rest = taken
        m = self._UNPIVOT_STMT_RE.match(rest)
        if m is None:
            return sql
        return (
            f"SELECT * FROM {tbl} uq_unpv UNPIVOT ({m.group('value')} FOR {m.group('name')} "
            f"IN ({m.group('cols').strip()})){m.group('tail') or ''}"
        )

    def _rewrite_from_first(self, sql: str) -> str:
        """DuckDB FROM-first syntax: ``FROM t`` → ``SELECT * FROM t``;
        ``FROM t SELECT cols …`` → ``SELECT cols … FROM t``. The FROM
        part ends at the first top-level SELECT (or never — bare form)."""
        m = re.match(r"(?is)^(\s*)from\s", sql)
        if m is None:
            return sql
        body = sql[m.end(1) :]
        sel = next((h for h in self._scan_top_level(body, {"select"})), None)
        if sel is None:
            return f"SELECT * {body}"
        from_part = body[: sel[0]].strip()
        rest = body[sel[1] :]
        # clauses after the select list (WHERE/GROUP BY/HAVING/ORDER BY/
        # LIMIT — DuckDB's accepted order) re-attach after the FROM part
        # in conventional clause order
        tail_hit = next(
            (h for h in self._scan_top_level(rest, {"where", "group", "having", "order", "limit"})),
            None,
        )
        if tail_hit:
            return f"SELECT {rest[: tail_hit[0]].strip()} {from_part} {rest[tail_hit[0]:]}"
        return f"SELECT {rest.strip()} {from_part}"

    def _rewrite_union_by_name(self, sql: str) -> str:
        """DuckDB ``a UNION [ALL] BY NAME b`` → column-aligned UNION:
        result columns are the union of both sides' names in first-seen
        left-to-right order (verified), missing columns fill with typed
        NULLs (types from the first side that has the column, via LIMIT-0
        probes), and the ALL/distinct semantics of each step carry over.
        Top-level statement only; a trailing ORDER BY/LIMIT applies to
        the whole union and is lifted outside."""
        # split into segments at top-level UNION [ALL] BY NAME
        segments: list[str] = []
        ops: list[str] = []
        pos = 0
        union = r"(?i:\bunion\s+(?P<all>all\s+)?by\s+name\b)"
        for m, depth in self._code_scan(sql, union):
            if m.lastgroup == "tok" and not depth:
                segments.append(sql[pos : m.start()])
                ops.append("UNION ALL" if m.group("all") else "UNION")
                pos = m.end()
        if not segments:
            return sql
        segments.append(sql[pos:])
        # lift a trailing top-level ORDER BY / LIMIT off the last segment
        tail = ""
        last = segments[-1]
        hits = [h for h in self._scan_top_level(last, {"order", "limit"})]
        if hits:
            cut = min(h[0] for h in hits)
            tail = " " + last[cut:].strip()
            segments[-1] = last[:cut]
        cols: list[str] = []
        types: dict[str, str] = {}
        schemas = []
        for seg in segments:
            schema = self.spark.sql(
                f"SELECT * FROM ({self._rewrite_len(seg)}) uq_ubn LIMIT 0"
            ).schema
            schemas.append({f.name: f.dataType.simpleString() for f in schema.fields})
            for f in schema.fields:
                if f.name not in types:
                    cols.append(f.name)
                    types[f.name] = f.dataType.simpleString()
        selects = []
        for seg, have in zip(segments, schemas):
            sel = ", ".join(
                f"`{c}`" if c in have else f"CAST(NULL AS {types[c]}) AS `{c}`" for c in cols
            )
            selects.append(f"SELECT {sel} FROM ({seg}) uq_ubn")
        joined = selects[0]
        for op, s in zip(ops, selects[1:]):
            joined += f" {op} {s}"
        return joined + tail

    _COLUMNS_RE = re.compile(
        r"(?i)(?:(?P<fn>\w+)\s*\(\s*)?\bcolumns\s*\(\s*'(?P<pat>[^']+)'\s*\)(?(fn)\s*\))"
    )
    _COLUMNS_STAR_RE = re.compile(r"(?i)\bcolumns\s*\(\s*\*\s*\)")
    _COLUMNS_LAMBDA_RE = re.compile(
        r"(?i)\bcolumns\s*\(\s*(\w+)\s*->\s*\1\s+(?P<neg>not\s+)?like\s+"
        r"'(?P<pat>[^']*)'\s*\)"
    )

    @staticmethod
    def _columns_lambda_to_regex(m: "re.Match[str]") -> str:
        """``COLUMNS(c -> c [NOT] LIKE 'pat')`` → the quoted-regex form:
        LIKE is a FULL match (anchored), % → .*, _ → . — NOT LIKE becomes
        a negative lookahead that still consumes the name (sweep batch 7;
        DuckDB-verified on min(COLUMNS(c -> c LIKE 'x%')))."""
        rx = "".join(
            ".*" if ch == "%" else "." if ch == "_" else re.escape(ch)
            for ch in m.group("pat")
        )
        full = f"^(?!{rx}$).*$" if m.group("neg") else f"^{rx}$"
        return f"COLUMNS('{full}')"

    def _rewrite_columns_expr(self, sql: str) -> str:
        sql = self._sub_code_fn(self._COLUMNS_STAR_RE, lambda _m: "COLUMNS('.*')", sql)
        sql = self._sub_code_fn(self._COLUMNS_LAMBDA_RE, self._columns_lambda_to_regex, sql)
        return self._rewrite_columns_expr_impl(sql)

    def _rewrite_columns_expr_impl(self, sql: str) -> str:
        """DuckDB ``COLUMNS('regex')`` → the matching columns, expanded
        from a LIMIT-0 probe of the query with the expression replaced by
        ``*``. A wrapping aggregate ``fn(COLUMNS('re'))`` applies fn per
        column, aliased back to the column name (DuckDB's naming)."""
        if not self._search_code(self._COLUMNS_RE, sql):
            return sql
        probe = self._sub_code_fn(self._COLUMNS_RE, lambda _m: "*", sql)
        # the probe only needs the select list + FROM: drop trailing
        # clauses (a bare * under the query's GROUP BY would not analyze)
        cut = next(
            (h[0] for h in self._scan_top_level(probe, {"group", "having", "order", "limit"})),
            None,
        )
        if cut is not None:
            probe = probe[:cut]
        # the probe must analyze NOW — resolve polymorphic subscripts,
        # len() and DuckDB type names that the main pipeline maps later
        probe = self._rewrite_poly_subscript(probe)
        schema = self.spark.sql(
            f"SELECT * FROM ({self._rewrite_len(self._rewrite_cast(probe))}) uq_cols LIMIT 0"
        ).schema
        names = list(dict.fromkeys(schema.fieldNames()))

        def sub(m: re.Match) -> str:
            rx = re.compile(m.group("pat"))
            # DuckDB matches the pattern ANYWHERE in the name (verified:
            # 'f_' matches both f_a and off_b) — search, not fullmatch
            cols = [c for c in names if rx.search(c)]
            if not cols:
                raise UQueryError.sql_error(f"COLUMNS('{m.group('pat')}') matches nothing")
            if m.group("fn"):
                fn = m.group("fn")
                return ", ".join(f"{fn}(`{c}`) AS `{c}`" for c in cols)
            return ", ".join(f"`{c}`" for c in cols)

        return self._sub_code_fn(self._COLUMNS_RE, sub, sql)

    _STAR_REPLACE_RE = re.compile(r"(?i)\*\s*replace\s*\(")

    def _rewrite_star_replace(self, sql: str) -> str:
        """DuckDB ``SELECT * REPLACE (expr AS col, …)`` → explicit select
        list with the named columns swapped for their expressions. Spark
        has no REPLACE modifier, so the column list comes from a LIMIT-0
        schema probe of the query with plain ``*`` (analysis only, no
        execution — the same trick SUMMARIZE uses). Top-level SELECT
        only; path tables/TVFs are already resolved by earlier passes.
        """
        m = self._search_code(self._STAR_REPLACE_RE, sql)
        if m is None:
            return sql
        close = self._close_of(m)
        if close == -1:
            return sql
        repl: dict[str, str] = {}
        for entry in self._split_top(sql[m.end() : close], ","):
            parts = re.split(r"(?i)\s+as\s+", entry.strip())
            if len(parts) != 2:
                raise UQueryError.sql_error(f"bad * REPLACE entry: {entry.strip()[:60]}")
            repl[parts[1].strip().strip('"').lower()] = parts[0].strip()
        probe = sql[: m.start()] + "*" + sql[close + 1 :]
        # len() resolves last in the main pipeline, but this probe must
        # analyze NOW — resolve subscripts + len() in the probe text only
        probe = self._rewrite_poly_subscript(probe)
        schema = self.spark.sql(
            f"SELECT * FROM ({self._rewrite_len(self._rewrite_cast(probe))}) uq_probe LIMIT 0"
        ).schema
        cols = [
            f"({repl[f.name.lower()]}) AS {f.name}" if f.name.lower() in repl else f"`{f.name}`"
            for f in schema.fields
        ]
        return sql[: m.start()] + ", ".join(cols) + sql[close + 1 :]

    # DuckDB (C strftime) → Java/Spark datetime pattern codes
    _STRF_CODES = {
        "%Y": "yyyy", "%y": "yy", "%m": "MM", "%d": "dd", "%H": "HH",
        "%I": "hh", "%M": "mm", "%S": "ss", "%f": "SSSSSS", "%g": "SSS",
        "%j": "DDD", "%a": "EEE", "%A": "EEEE", "%b": "MMM", "%B": "MMMM",
        # %z/%Z: the gateway serves naive (NTZ) timestamps, where DuckDB
        # prints '+00' and '' (probed) — Java 'x' renders exactly '+00';
        # %c/%x/%X are the ISO composites (probed: %c has NO fractional
        # part); %n is 9-digit nanoseconds = micros·1000 (probed
        # '123456000') — SSSSSS plus a literal '000' (round-12 wave-11)
        "%p": "a", "%Z": "", "%z": "x", "%%": "%",
        "%c": "yyyy-MM-dd HH:mm:ss", "%x": "yyyy-MM-dd", "%X": "HH:mm:ss",
        "%n": "SSSSSS'000'",
        # dash-modified codes: no zero padding (r13 gap probe — these
        # worked in DuckDB 1.0.0 but raised here). Java single letters
        # print unpadded and parse 1+ digits, covering both directions;
        # %-y has no Java pattern (unpadded year-without-century,
        # probed '5' for 2005) → expression segment, strftime only.
        "%-d": "d", "%-m": "M", "%-H": "H", "%-I": "h",
        "%-M": "m", "%-S": "s", "%-j": "D",
    }
    # strptime is LENIENT about zero padding (strptime('3|2024',
    # '%m|%Y') parses in DuckDB; Java 'MM' demands 2 digits) — parsing
    # calls try the strict pattern first, then this 1-or-2-digit
    # overlay (wave-4 gap probe, round 10)
    _STRF_LENIENT = {
        "%m": "M", "%d": "d", "%H": "H", "%I": "h", "%M": "m",
        "%S": "s", "%j": "D",
        "%c": "y-M-d H:m:s", "%x": "y-M-d", "%X": "H:m:s",
        # DuckDB %Y parses 1-4 digit years ('1' → year 1 — b45 catch)
        "%Y": "y",
    }
    # Week-number codes Java patterns CANNOT express (Spark removed
    # 'w'/'W' in 3.0): emitted as expression segments spliced into a
    # concat() around the date_format runs (wave-4 gap probe, round 10).
    # %V/%G are ISO (weekofyear IS ISO week; ISO year = year of that
    # week's Thursday); %U counts from the first Sunday (day-of-week
    # Sunday=0), %W from the first Monday — the C-library formulas
    # (doy + 6 - dow) div 7, zero-padded. DuckDB-pinned in battery36.
    _STRF_EXPR_CODES = {
        "%V": "lpad(CAST(weekofyear({d}) AS STRING), 2, '0')",
        "%G": (
            "lpad(CAST(year(date_add(CAST(({d}) AS DATE), "
            "3 - weekday(({d})))) AS STRING), 4, '0')"
        ),
        "%U": (
            "lpad(CAST(((dayofyear({d}) + 6 - (dayofweek({d}) - 1)) div 7) "
            "AS STRING), 2, '0')"
        ),
        "%W": (
            "lpad(CAST(((dayofyear({d}) + 6 - weekday({d})) div 7) "
            "AS STRING), 2, '0')"
        ),
        # %u ISO day-of-week Mon=1..Sun=7, %w C day-of-week Sun=0..Sat=6
        # — DuckDB prints both UNPADDED single digits (probed '4')
        "%u": "CAST(weekday({d}) + 1 AS STRING)",
        "%w": "CAST(dayofweek({d}) - 1 AS STRING)",
        # %-y: unpadded year-without-century (probed: 2005 → '5')
        "%-y": "CAST(year({d}) % 100 AS STRING)",
    }
    _STRF_RE = re.compile(r"(?i)\b(strftime|try_strptime|strptime)\s*\(")

    def _translate_strftime(self, m, args):
        """DuckDB ``strftime(ts, '%Y-%m-%d')`` / ``strptime(s, fmt)`` →
        Spark ``date_format(ts, 'yyyy-MM-dd')`` / ``to_timestamp(s,
        fmt)`` with C format codes mapped to Java pattern letters.
        Literal format strings only; unknown %-codes raise (silent
        mistranslation would corrupt results). Literal text inside the
        format that is a Java pattern letter gets quoted by the code map
        being total over the %-escapes — plain characters pass through,
        which matches separators (-, /, :, space)."""

        def xlate_parts(
            fmt: str, allow_expr: bool, lenient: bool = False
        ) -> list[tuple[str, str]]:
            """("pat", javapattern) / ("expr", sqltext-with-{d}) runs.

            Literal letters accumulate into ONE Java quoted block
            ('wk', not 'w''k' — adjacent blocks read as literal-quote
            in Java, a latent mistranslation the wave-4 probe exposed);
            a literal apostrophe becomes the Java '' escape. Embedding
            into a SQL string literal is the CALLER's job (_strf_sql)."""
            out: list[tuple[str, str]] = []

            def emit_pat(txt: str, lit: bool = False) -> None:
                if lit:
                    if out and out[-1][0] == "pat" and out[-1][1].endswith("'"):
                        out[-1] = ("pat", out[-1][1][:-1] + txt + "'")
                        return
                    txt = f"'{txt}'"
                if out and out[-1][0] == "pat":
                    out[-1] = ("pat", out[-1][1] + txt)
                else:
                    out.append(("pat", txt))

            i = 0
            while i < len(fmt):
                if fmt[i] == "%":
                    # dash-modified codes are 3 chars (%-d)
                    width = 3 if fmt[i : i + 2] == "%-" else 2
                    code = fmt[i : i + width]
                    if code in self._STRF_CODES:
                        emit_pat(
                            self._STRF_LENIENT.get(code, self._STRF_CODES[code])
                            if lenient
                            else self._STRF_CODES[code]
                        )
                    elif allow_expr and code in self._STRF_EXPR_CODES:
                        out.append(("expr", self._STRF_EXPR_CODES[code]))
                    else:
                        raise UQueryError.sql_error(f"unsupported strftime code {code}")
                    i += width
                else:
                    if fmt[i].isalpha():  # literal letter → quoted block
                        emit_pat(fmt[i], lit=True)
                    elif fmt[i] == "'":  # literal apostrophe → Java ''
                        emit_pat("''")
                    else:
                        emit_pat(fmt[i])
                    i += 1
            return out

        def _strf_sql(pattern: str) -> str:
            """Java pattern text → SQL string literal (quotes doubled)."""
            return "'" + pattern.replace("'", "''") + "'"

        def xlate(fmt: str, lenient: bool = False) -> str:
            parts = xlate_parts(fmt, allow_expr=False, lenient=lenient)
            return "".join(p[1] for p in parts)

        def year_defaulted(parse_expr: str, fmt: str) -> str:
            """DuckDB strptime defaults missing fields to 1900-01-01
            where Spark's to_timestamp defaults to 1970-01-01 (probed:
            strptime('03 PM', '%I %p') → 1900-01-01 15:00:00) — shift
            the parse by -70 years when the format carries no year
            code (r13 gap probe; %j maps consistently, 1900 and 1970
            both non-leap)."""
            i, has_year = 0, False
            while i < len(fmt) - 1:
                if fmt[i] == "%":
                    c = fmt[i + 1]
                    # %c and %x are ISO composites that EMBED a year
                    if c in "YycxG":
                        has_year = True
                    i += 3 if c == "-" else 2
                else:
                    i += 1
            if has_year:
                return parse_expr
            return f"timestampadd(YEAR, -70, {parse_expr})"

        def xlate_spliced(fmt: str, operand: str) -> str:
            """date_format(op, 'pat') or, when week-number codes are
            present, concat() of pattern runs and expression segments."""
            parts = xlate_parts(fmt, allow_expr=True)
            if all(p[0] == "pat" for p in parts):
                pat = "".join(p[1] for p in parts)
                return f"date_format({operand}, {_strf_sql(pat)})"
            segs = [
                f"date_format({operand}, {_strf_sql(txt)})"
                if kind == "pat"
                else txt.replace("{d}", f"({operand})")
                for kind, txt in parts
            ]
            return f"concat({', '.join(segs)})" if len(segs) > 1 else segs[0]

        fn = {
            "strftime": "date_format",
            "strptime": "to_timestamp",
            # batch 18: NULL on parse failure, like DuckDB
            "try_strptime": "try_to_timestamp",
        }[m.group(1).lower()]
        fmt_arg = args[1].strip() if len(args) == 2 else ""
        # the bracket pass has already turned [..] into array(..)
        am = re.match(r"(?i)^array\s*\(", fmt_arg)
        if am and fmt_arg.endswith(")"):
            fmt_arg = "[" + fmt_arg[am.end() : -1] + "]"
        if fn != "date_format" and fmt_arg.startswith("["):
            # batch 22: strptime(s, ['%fmt1', '%fmt2', …]) tries each
            # format in order. strptime errors when NONE match (but
            # is NULL on NULL input); try_strptime yields NULL.
            # Width deviation: DuckDB's list form returns TIMESTAMPTZ
            # (displays '+00' in a UTC session) — ours stays naive,
            # same wall-time value (CAST AS TIMESTAMP for parity).
            fmts = [
                f.strip()
                for f in self._split_top(fmt_arg[1:-1], ",")
                if f.strip()
            ]
            if not all(f.startswith("'") and f.endswith("'") for f in fmts):
                raise UQueryError.sql_error(
                    "strptime: format list must be string literals"
                )
            a0 = args[0].strip()
            tries = ", ".join(
                year_defaulted(
                    f"try_to_timestamp({a0}, {_strf_sql(xlate(f[1:-1]))})",
                    f[1:-1],
                )
                for f in fmts
            )
            body = f"coalesce({tries})"
            if fn == "to_timestamp":  # strict strptime
                body = (
                    f"(CASE WHEN ({a0}) IS NULL THEN CAST(NULL AS TIMESTAMP) "
                    f"WHEN {body} IS NOT NULL THEN {body} "
                    f"ELSE CAST(raise_error('strptime: no format matched') "
                    f"AS TIMESTAMP) END)"
                )
            return body
        if len(args) == 2 and args[1].strip().startswith("'"):
            fmt = args[1].strip()[1:-1]
            a0 = args[0].strip()
            if fn == "date_format":
                body = xlate_spliced(fmt, a0)
            else:
                strict, lenient = xlate(fmt), xlate(fmt, lenient=True)
                if strict == lenient:
                    body = year_defaulted(
                        f"{fn}({a0}, {_strf_sql(strict)})", fmt
                    )
                else:
                    # strict wins when both parse (identical result);
                    # the lenient arm admits DuckDB's unpadded inputs
                    body = year_defaulted(
                        f"coalesce(try_to_timestamp({a0}, {_strf_sql(strict)}), "
                        f"try_to_timestamp({a0}, {_strf_sql(lenient)}))",
                        fmt,
                    )
                    if fn == "to_timestamp":  # strict strptime raises
                        body = (
                            f"(CASE WHEN ({a0}) IS NULL THEN CAST(NULL AS TIMESTAMP) "
                            f"WHEN {body} IS NOT NULL THEN {body} "
                            f"ELSE CAST(raise_error('strptime: input did not match format') "
                            f"AS TIMESTAMP) END)"
                        )
            return body
        return None

    # DuckDB len() is polymorphic (chars of a string / elements of a
    # list); Spark splits it into length() and size().
    _LEN_RE = re.compile(r"(?i)\blen\s*\(")

    def _rewrite_len(self, sql: str) -> str:
        """Resolve each ``len(expr)`` to ``size`` or ``length`` by type.

        Text-level rewriting can't know expr's type, so each occurrence is
        decided by a LIMIT-0 analysis probe (no execution — the same trick
        as * REPLACE): the query analyzes with this occurrence as
        ``size(expr)`` iff expr is an array. While one occurrence is being
        probed the others are neutralized as ``length(cast(expr AS
        STRING))``, which analyzes for every type. Runs LAST in the
        pipeline so the probe sees otherwise-valid Spark SQL.
        """
        if not self._search_code(self._LEN_RE, sql):
            return sql
        return self._poly_size_impl(sql, self._LEN_RE)

    _LENGTH_RE = re.compile(r"(?i)\blength\s*\(")

    def _rewrite_length_poly(self, sql: str) -> str:
        """Batch-18: DuckDB ``length()`` is polymorphic too (chars of a
        string / elements of a LIST — Spark's length rejects arrays).
        The common all-string case costs ONE analysis probe: if the
        query analyzes with every length() native, nothing changes;
        only a failing query pays the per-occurrence size-vs-length
        probes (same machinery as len())."""
        if not self._search_code(self._LENGTH_RE, sql):
            return sql
        if self._probe_analyzes(f"SELECT * FROM ({sql}) uq_lnp LIMIT 0"):
            return sql
        return self._poly_size_impl(sql, self._LENGTH_RE)

    def _poly_size_impl(self, sql: str, regex: "re.Pattern[str]") -> str:
        # split into [text0, arg0, text1, arg1, ..., textN] skipping
        # occurrences inside string literals
        segs: list[str] = []
        args: list[str] = []
        last = 0
        for m in self._finditer_code(regex, sql):
            prev = sql[m.start() - 1 : m.start()]
            if m.start() < last or (prev and (prev.isalnum() or prev in "_.")):
                continue
            close = self._close_of(m)
            if close == -1:
                break
            segs.append(sql[last : m.start()])
            args.append(sql[m.end() : close])
            last = close + 1
        segs.append(sql[last:])
        if not args:
            return sql

        def compose(forms: list[str]) -> str:
            out = [segs[0]]
            for f, t in zip(forms, segs[1:]):
                out.append(f)
                out.append(t)
            return "".join(out)

        neutral = [f"length(cast(({a}) AS STRING))" for a in args]
        chosen: list[str] = []
        for k, a in enumerate(args):
            probe_forms = neutral[:k] + [f"size({a})"] + neutral[k + 1 :]
            if self._probe_analyzes(
                f"SELECT * FROM ({compose(probe_forms)}) uq_len LIMIT 0"
            ):
                chosen.append(f"size({a})")
            else:
                chosen.append(f"length({a})")
        return compose(chosen)

    # -- casts: DuckDB type names + fractional→integral rounding ----------

    _COLON_CAST_RE = re.compile(
        r"::\s*((?:[Aa][Rr][Rr][Aa][Yy]\s*<[^<>]*(?:<[^<>]*>)?[^<>]*>)|\w+)"
        r"(\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?"
    )
    _CAST_RE = re.compile(r"(?i)\b(try_)?cast\s*\(")
    # DuckDB type names Spark's parser rejects or narrows differently.
    # HUGEINT/UBIGINT → BIGINT is a documented narrowing (no int128 type);
    # unsigned types widen to the next signed Spark type.
    _TYPE_RENAMES = {
        "hugeint": "BIGINT",
        "int1": "TINYINT",
        "int2": "SMALLINT",
        "int4": "INT",
        "int8": "BIGINT",
        "signed": "BIGINT",
        "utinyint": "SMALLINT",
        "usmallint": "INT",
        "uinteger": "BIGINT",
        "ubigint": "BIGINT",
        "text": "STRING",
        "varchar": "STRING",  # bare VARCHAR (parameterized VARCHAR(n) kept)
        "bpchar": "STRING",
        "blob": "BINARY",
        "bytea": "BINARY",
        "real": "FLOAT",
        "float4": "FLOAT",
        "float8": "DOUBLE",
        "logical": "BOOLEAN",
        "uuid": "STRING",
    }
    _INTEGRAL_TYPES = {"tinyint", "smallint", "int", "integer", "bigint", "long", "short", "byte"}


    _TRY_RE = re.compile(r"(?i)(?<![\w.])TRY\s*\(")

    def _translate_try_expr(self, m, args):
        """DuckDB ≥1.2 ``TRY(expr)`` — NULL instead of an error (the
        reference pins 1.5.2; 1.0.0 lacks the form). Narrow, honest
        support: the error classes TRY actually guards map to Spark
        forms with identical NULL behavior —

        - TRY(CAST(x AS T)) / TRY(x::T) → try_cast (conversion errors);
        - TRY(strptime(s, f)) → try_strptime (parse errors);
        - TRY(ln/log/log2/log10(x)) → the bare call (Spark already
          returns NULL outside the domain where DuckDB raises);
        - TRY(sqrt(x)) → negative-domain CASE (Spark yields NaN, not
          NULL);
        - division/modulo-by-zero is already NULL in DuckDB (probed),
          so arithmetic needs no TRY translation.

        Any other inner form RAISES — a loud error, never a silent
        divergence (Spark's NaN-vs-NULL and error-vs-NULL edges differ
        per function and each needs its own probe before support).
        Each fast-path only fires when the matched call spans the
        ENTIRE inner expression (its close paren is the last char) —
        a compound inner like TRY(CAST(a AS INT) + f(b)) raises as
        unsupported instead of converting only the leading call
        (ADVICE r13; the old sqrt branch even dropped the trailing
        text of a compound inner — a silent wrong value)."""

        def _whole(pat: str, text: str):
            """Leading-call args iff the call spans all of ``text``."""
            h = self._call_args(re.compile(pat), text)
            if h and h[0].start() == 0 and h[1] == len(text) - 1:
                return h[2]
            return None

        if len(args) != 1:
            raise UQueryError.sql_error("TRY expects exactly 1 expression")
        inner = args[0]
        sqrt_args = _whole(r"(?i)^sqrt\s*\(", inner)
        if _whole(r"(?i)^cast\s*\(", inner) is not None:
            # a cast CHAIN (nested colon-casts have folded to
            # CAST(CAST(..) ..) by now) converts at EVERY level —
            # DuckDB's TRY nulls an inner conversion error too, and
            # try_cast over NULL stays NULL, so the chain matches
            cm = re.match(r"(?i)^cast\s*\(", inner)
            body = inner[cm.end() : len(inner) - 1]
            parts = self._split_top(body, "as")
            operand = " AS ".join(parts[:-1]).strip()
            # the colon-cast pass parenthesizes its operand —
            # strip balanced outer parens so the chain test sees it
            while (
                operand.startswith("(")
                and self._find_close(operand, 0) == len(operand) - 1
            ):
                operand = operand[1:-1].strip()
            if len(parts) >= 2 and _whole(r"(?i)^cast\s*\(", operand) is not None:
                operand = self._translate_try_expr(m, [operand])
                repl = f"try_cast({operand} AS {parts[-1].strip()})"
            else:
                repl = "try_" + inner
        elif _whole(r"(?i)^(?:try_)?strptime\s*\(", inner) is not None:
            repl = "try_" + inner if not inner.lower().startswith("try_") else inner
        elif _whole(r"(?i)^(ln|log|log2|log10)\s*\(", inner) is not None:
            repl = f"({inner})"
        elif sqrt_args is not None:
            if len(sqrt_args) != 1:
                raise UQueryError.sql_error("TRY(sqrt): malformed call")
            a = sqrt_args[0]
            repl = (
                f"(CASE WHEN ({a}) < 0 THEN CAST(NULL AS DOUBLE) "
                f"ELSE sqrt(({a})) END)"
            )
        else:
            raise UQueryError.sql_error(
                "TRY: unsupported expression form (supported, each "
                "spanning the whole argument: CAST/::, strptime, "
                "ln/log/log2/log10, sqrt; division and modulo "
                "by zero are already NULL)"
            )
        return repl

    def _rewrite_colon_cast(self, sql: str) -> str:
        """DuckDB ``expr::TYPE`` → ``CAST(expr AS TYPE)`` so the CAST pass
        below applies type renames and rounding uniformly (Spark parses
        ``::`` natively, but with Spark semantics and Spark type names)."""
        m = self._search_code(self._COLON_CAST_RE, sql)
        while m:
            i = self._chain_start(sql, m.start())
            if i is None:
                raise UQueryError.sql_error("'::': missing operand")
            ty = m.group(1) + (m.group(2) or "")
            sql = f"{sql[:i]}CAST({sql[i : m.start()].rstrip()} AS {ty}){sql[m.end():]}"
            m = self._search_code(self._COLON_CAST_RE, sql)
        return sql

    def _map_type(self, ty: str) -> str:
        base = ty.strip().lower()
        if "(" in base:  # parameterized (DECIMAL(p,s), VARCHAR(n)): keep
            return ty
        return self._TYPE_RENAMES.get(base, ty)

    _UQ_POLY_ANY_RE = re.compile(r"\buq_poly(mapi?)?\s*\(")

    def _neutralize_marker(self, token: str, mode: str, hm, hargs) -> str:
        """The neutral form of one unresolved poly marker in a probe text,
        a ``_map_calls`` translator over ``_UQ_POLY_ANY_RE``: an
        ANCESTOR marker (containing the tagged occurrence) keeps the arg
        holding the token so the occurrence survives. SIBLING markers:
        mode 'null' replaces them with NULL (type-wildcard — but a
        strict context like get() then fails the probe for an UNRELATED
        reason); mode 'arg1' substitutes each sibling's conservative
        fallback form instead (list/native/scalar), which keeps the
        rest of the text well-typed; mode 'mapform' substitutes the
        map-reading form for subscript siblings — try_element_at
        analyzes for BOTH maps and arrays, so a statement holding one
        map-subscript and one array-subscript sibling doesn't veto
        every probe (round-10 battery36: the 'null' mode died on a
        field access over a NULLed sibling while 'arg1' died on the
        OTHER sibling's scalar fallback — both modes vetoed, every
        divide/cast dispatch in the statement regressed to its
        fallback). probe_ok tries all three (batch-28 temporal-fuzzer
        catch first showed a NULLed sibling silently vetoing the
        date-widening arm)."""
        kind = hm.group(1)
        if any(token in a for a in hargs) and len(hargs) in (2, 3):
            inner = next((a for a in hargs if token in a), hargs[0])
        elif mode == "null":
            inner = "NULL"
        elif mode == "mapform" and kind and len(hargs) in (2, 3):
            inner = (
                f"filter(array(try_element_at(({hargs[0]}), {hargs[1]})), "
                f"uq_mv -> uq_mv IS NOT NULL)"
            )
        elif kind == "mapi" and len(hargs) == 3:
            inner = hargs[2]
        elif kind == "map" and len(hargs) == 2:
            inner = f"element_at(({hargs[0]}), {hargs[1]})"
        else:
            inner = hargs[0]
        return f"({inner})"

    _TIME_CAST_RE = re.compile(r"(?i)\b(try_)?cast\s*\(")

    _IVL_UNIT_WORDS = frozenset(
        "year years month months week weeks day days hour hours minute "
        "minutes second seconds millisecond milliseconds microsecond "
        "microseconds quarter quarters decade decades century centuries "
        "millennium millennia to".split()
    )
    _TEMPORAL_LIT_RE = re.compile(r"(?is)^(date|timestamp(?:_ntz|tz)?)\s*'")

    def _time_wrap_skip_atom(self, a: str) -> bool:
        """Operands provably not TIME-typed (interval, NULL, boolean and
        number literals included) skip the wrap — native arithmetic,
        zero probe cost. Covers the hot TPC-H shape ``date
        '1998-12-01' - interval '90' day``."""
        a = a.strip()
        low = a.lower().lstrip("(").strip()
        return bool(
            re.match(
                r"^(interval\b|make_interval\b|make_dt_interval\b|"
                r"make_ym_interval\b|null\b|true\b|false\b)",
                low,
            )
            or self._NUMBER_RE.fullmatch(a)
            # DATE/TIMESTAMP literals (the regex does NOT match TIME:
            # 'time' is neither 'date' nor a 'timestamp' prefix-match)
            or self._TEMPORAL_LIT_RE.match(a)
            or a.startswith("'")
        )

    def _strip_pending_interval_sites(self, text: str) -> str:
        """Delete every still-unprocessed ``± INTERVAL <lit>`` site from
        a probe text. A pending TIME ∓ year-month site does not analyze
        natively AT ALL in Spark (not just overflow — BINARY_OP_DIFF_
        TYPES), so leaving it in context would veto probes of EARLIER
        sites in the chain (timemix fuzzer catch: make_time(...) -
        INTERVAL 3 MONTH - INTERVAL 3 MONTH). Deletion is type-neutral
        for every operand class. Already-chosen replacements spell the
        interval parenthesized — ``- (INTERVAL …)`` — and are not
        matched; ``± INTERVAL lit * n`` keeps its literal (the * owns
        it, and deleting would orphan the multiplier)."""
        pos = 0
        while site := self._interval_site(text, pos):
            start, iend, op, case_a = site
            if case_a:
                text, pos = text[:op] + text[iend:], op
            else:  # `INTERVAL lit +` at expression start: keep the operand
                text, pos = text[:start] + text[op + 1 :], start
        return text

    _IVL_KW_RE = re.compile(r"(?i)\binterval\s+")

    def _interval_site(self, sql: str, pos: int):
        """The next pending interval site at or after ``pos``, as
        (interval start, interval end, index of its operator, case A?):
        case A is ``A ± INTERVAL lit [UNIT …]``, case B is ``INTERVAL
        lit [UNIT …] + A`` at expression start (interval - time is
        invalid in both engines; only + commutes). An interval that a
        following * or / owns is no site: ``A ± INTERVAL x UNIT * n``
        parses as A ± (I * n) (battery5 regression: DATE + INTERVAL 1
        DAY * (doc_id % 400))."""
        while m := self._search_code(self._IVL_KW_RE, sql, pos):
            iend = self._interval_end(sql, m.end())
            if iend is None:
                pos = m.end()
                continue
            pos, nx = iend, self._ws_right(sql, iend)
            if sql[nx : nx + 1] in ("*", "/"):
                continue
            li = self._ws_left(sql, m.start()) - 1
            if li >= 0 and sql[li] in "+-":
                return m.start(), iend, li, True
            at_start = li < 0 or sql[li] in "(,=<>"
            if not at_start and (sql[li].isalnum() or sql[li] == "_"):
                word = sql[self._word_start(sql, li + 1, "_") : li + 1]
                at_start = word.lower() in self._KEYWORDS
            ri = self._ws_right(sql, iend)
            if at_start and sql[ri : ri + 1] == "+":
                return m.start(), iend, ri, False
        return None

    def _probe_analyzes(self, probe_sql: str) -> bool:
        """Boolean LIMIT-0 analysis probe through the RAW py4j transport.

        Used by every probe site that needs only pass/fail (never the
        exception message). The r13 fix routed probes through
        `_jsparkSession.sql` expecting a plain Py4JJavaError — but
        pyspark's install_exception_handler() patches
        `py4j.java_gateway.get_return_value` GLOBALLY, so even the raw
        JavaMember call pays captured.convert_exception: message, query
        contexts, instanceof chains and both stack traces rebuilt over
        dozens of py4j round trips per EXPECTED failure (r14 profile:
        ~112 ms/failing probe under load, 60 of a 76 s worst-statement
        rewrite). The fix: replicate JavaMember.__call__ with the
        PRISTINE `py4j.protocol.get_return_value` (that module binding
        is never patched) — a failing probe then raises a bare
        Py4JJavaError whose Java-side detail is fetched LAZILY, so
        catching it unread costs one round trip: the analysis itself.
        Same eager parse+analysis either way (Dataset.ofRows asserts
        analyzed)."""
        # Per-top-level-rewrite memo (thread-local, see rewrite()):
        # ~17% of a probe-heavy statement's probes repeat the exact
        # same text across dispatch sites/passes — the result cannot
        # differ while the session's views stay put, so re-issuing the
        # analysis is pure waste. Scoped to a single rewrite() call, and
        # cleared by _rewrite_recursive_union, which changes views
        # mid-rewrite.
        memo = getattr(_PROBE_TLS, "memo", None)
        if memo is not None:
            hit = memo.get(probe_sql)
            if hit is not None:
                return hit
        ok = self._probe_analyzes_uncached(probe_sql)
        if memo is not None:
            memo[probe_sql] = ok
        return ok

    def _probe_analyzes_uncached(self, probe_sql: str) -> bool:
        """True iff ``probe_sql`` analyzes. Only an analysis or parse
        failure means "no": a transport failure (a dead gateway)
        propagates rather than silently picking a fallback form."""
        from py4j import protocol as _p4jp

        member = self.spark._jsparkSession.sql  # JavaMember; py4j caches it on the object
        with _probe_quiet():
            try:
                args_command, temp_args = member._build_args(probe_sql)
                command = (
                    _p4jp.CALL_COMMAND_NAME
                    + member.command_header
                    + args_command
                    + _p4jp.END_COMMAND_PART
                )
                answer = member.gateway_client.send_command(command)
                try:
                    _p4jp.get_return_value(
                        answer, member.gateway_client, member.target_id, member.name
                    )
                    return True
                finally:
                    for temp_arg in temp_args:
                        if hasattr(temp_arg, "_detach"):
                            temp_arg._detach()
            except _p4jp.Py4JJavaError:
                return False

    def _time_wrap_probe(self, candidate_sql: str) -> bool:
        """LIMIT-0 analysis probe for the TIME-wrap dispatch. Runs AFTER
        the poly resolver, so the text is Spark-valid modulo the
        cast/len passes (the same compose contract probe_ok uses).
        Pending sibling interval sites are stripped first — see
        _strip_pending_interval_sites."""
        candidate_sql = self._strip_pending_interval_sites(candidate_sql)
        with _probe_quiet():
            return self._probe_analyzes(
                "SELECT * FROM ("
                + self._rewrite_len(self._rewrite_cast(candidate_sql))
                + ") uq_tw LIMIT 0"
            )

    def _time_wrap_choose(
        self, sql: str, start: int, end: int, a: str, op: str, ilit: str
    ) -> str:
        """Resolve one ``A ± INTERVAL`` site IMMEDIATELY (NOTES 21g
        close — DuckDB wraps TIME arithmetic past midnight; Spark
        raises DATETIME_OVERFLOW). Marker-free by design: the first
        emitted nested-uq_poly version duplicated A six times per site,
        so interval CHAINS (T - I1 - I2) grew marker count
        exponentially and overflowed the resolver's lap bound (timemix
        fuzzer catch). Dispatch, two probes max:

        1. guard ``CAST((A) AS TIMESTAMP)`` analyzes → A is TIMESTAMP/
           DATE/STRING → native arithmetic unchanged;
        2. else the wrap form (``hour(A)``) analyzes → A is TIME →
           exact DECIMAL second-of-day mod-86400 arithmetic:
           pmod(secs(A) ± delta(I), 86400) → micros → timestamp_micros
           → date_format 'HH:mm:ss.SSSSSS' → TIME (the round-8
           TIMESTAMP→TIME detour shape; session TZ is UTC). delta(I)
           is anchor-timestamp subtraction, so calendar components
           contribute whole days ≡ 0 mod 24 h — matching DuckDB's
           30-day months under the same mod;
        3. else (interval operands, exotic contexts) → native, loud.
        """
        nat = f"(({a}) {op} ({ilit}))"
        guarded = (
            f"(CASE WHEN false AND CAST(({a}) AS TIMESTAMP) IS NULL "
            f"THEN {nat} ELSE {nat} END)"
        )
        anchor = "TIMESTAMP '2000-01-01 00:00:00'"
        wrap = (
            f"CAST(date_format(timestamp_micros(CAST(pmod("
            f"CAST(hour(({a})) AS BIGINT)*3600 + minute(({a}))*60 + "
            f"extract(second FROM ({a})) {op} "
            f"(CAST({anchor} + ({ilit}) AS DECIMAL(27,6)) - "
            f"CAST({anchor} AS DECIMAL(27,6))), 86400) * 1000000 "
            f"AS BIGINT)), 'HH:mm:ss.SSSSSS') AS TIME)"
        )
        if self._time_wrap_probe(sql[:start] + f"({guarded})" + sql[end:]):
            return nat
        if self._time_wrap_probe(sql[:start] + f"({wrap})" + sql[end:]):
            return wrap
        return nat

    def _rewrite_time_interval_wrap(self, sql: str) -> str:
        """``A ± INTERVAL`` / ``INTERVAL + A`` sites resolve one at a
        time (_time_wrap_choose) so TIME operands get DuckDB's mod-24h
        wraparound while every other operand class keeps native Spark
        arithmetic. The operand is one _operand_start/_operand_end
        operand; sites whose operand is provably non-TIME
        (date/timestamp/interval literals, strings, numbers) are
        skipped textually — no probe cost on the common shapes."""
        pos = 0
        while site := self._interval_site(sql, pos):
            start, iend, op, case_a = site
            if case_a:
                s, e = self._operand_start(sql, op), iend
                a = None if s is None else sql[s:op]
            else:
                s, e = start, self._operand_end(sql, op + 1)
                a = None if e is None else sql[op + 1 : e]
            pos = iend
            if a and not self._time_wrap_skip_atom(a):
                ilit = sql[start:iend]
                repl = self._time_wrap_choose(
                    sql, s, e, a.strip(), sql[op] if case_a else "+", ilit
                )
                sql = sql[:s] + repl + sql[e:]
                pos = s + len(repl)
        return sql

    def _translate_time_cast(self, m, inner):
        """Round 8: ``CAST(x AS TIME)`` — native under
        spark.sql.timeType.enabled for string/time operands, but Spark
        has no TIMESTAMP→TIME cast, so that operand class takes a
        date_format('HH:mm:ss.SSSSSS') detour. Emitted as a uq_poly
        marker (fallback, preferred-native) so the late LIMIT-0 probe
        dispatches per occurrence with proper sibling neutralization —
        a compose-style probe breaks when one query holds several TIME
        casts (each slot's neutral form is itself unanalyzable)."""
        parts = self._split_top(inner, "as")
        if len(parts) != 2 or parts[1].strip().lower() != "time":
            return None
        kw = (m.group(1) or "").upper()
        expr = parts[0].strip()
        return (
            f"uq_poly({kw}CAST(date_format(({expr}), "
            f"'HH:mm:ss.SSSSSS') AS TIME), "
            f"{kw}CAST(({expr}) AS TIME))"
        )

    def _rewrite_poly_subscript(self, sql: str) -> str:
        """Resolve ``uq_poly(list_form, string_form)`` markers emitted by
        _bracket_postfix: a LIMIT-0 analysis probe decides per occurrence
        whether the subscripted operand is a STRING (DuckDB subscripts
        work on both strings and lists with the same window arithmetic).
        The probe substitutes the STRING form for the occurrence under
        test and a bare NULL for every other marker — it analyzes iff
        the operand is a string AND the string result fits the
        surrounding expression. Any probe failure falls back to the list
        form (the pre-round-6 behavior). Innermost markers resolve
        first so nested subscripts compose.

        Each lap resolves one marker, so the marker count bounds the
        laps; a marker left after that is an internal error (a 400),
        never text naming ``uq_poly`` handed to Spark. The resolver
        keeps its own scan: it picks one marker among all of them, and
        each probe analyzes the whole statement as resolved so far."""
        if "uq_poly" not in sql:
            return sql
        TOKEN = "/*uq_probe_target*/"
        for _ in range(len(list(self._finditer_code(self._UQ_POLY_ANY_RE, sql)))):
            hits = []
            pos = 0
            while True:
                hit = self._call_args(self._UQ_POLY_ANY_RE, sql, pos)
                if not hit:
                    break
                m, close, args = hit
                hits.append((m, close, args))
                pos = m.end()
            if not hits:
                return sql
            # Resolution order: a uq_polymapi whose OPERAND/KEY args are
            # marker-free resolves first — its third arg (the list/
            # string fallback marker) must not resolve before map-ness
            # is decided (batch 28). Otherwise: innermost marker of any
            # kind (args contain no nested marker).
            target = next(
                (
                    h
                    for h in hits
                    if h[0].group(1) == "mapi"
                    and "uq_poly" not in h[2][0]
                    and "uq_poly" not in h[2][1]
                ),
                None,
            ) or next(
                (h for h in hits if all("uq_poly" not in a for a in h[2])),
                hits[-1],
            )
            m, close, args = target

            def probe_ok(cand: str) -> bool:
                tagged = sql[: m.start()] + f"({TOKEN}({cand}))" + sql[close + 1 :]
                for mode in ("null", "arg1", "mapform"):
                    probe = self._map_calls(
                        self._UQ_POLY_ANY_RE,
                        functools.partial(self._neutralize_marker, TOKEN, mode),
                        tagged,
                    )
                    # pending TIME ∓ year-month interval sites (fixed by
                    # the LATER wraparound pass) do not analyze natively
                    # and would veto every sibling probe — strip them,
                    # type-neutral (round-9 timemix fuzzer catch)
                    probe = self._strip_pending_interval_sites(probe)
                    with _probe_quiet():
                        if self._probe_analyzes(
                            f"SELECT * FROM ({self._rewrite_len(self._rewrite_cast(probe))}) uq_ps LIMIT 0"
                        ):
                            return True
                return False

            if m.group(1) == "mapi":
                # uq_polymapi(op, key, fallback) — integer-key map
                # probe (batch 28): map_keys() analyzes only for maps
                if len(args) != 3:
                    raise UQueryError.sql_error("internal: malformed uq_polymapi")
                op, key, fallback = args
                guard = f"map_keys(({op}))"
                if probe_ok(f"IF(({guard}) IS NULL, NULL, NULL)") or probe_ok(
                    f"IF(({guard}) IS NULL, array(1), array(1))"
                ):
                    chosen = (
                        f"filter(array(try_element_at(({op}), {key})), "
                        f"uq_mv -> uq_mv IS NOT NULL)"
                    )
                else:
                    chosen = fallback  # the uq_poly pair resolves next lap
                sql = sql[: m.start()] + f"({chosen})" + sql[close + 1 :]
                continue
            if len(args) != 2:
                raise UQueryError.sql_error("internal: malformed uq_poly marker")
            if m.group(1):  # uq_polymap(operand, 'key') — batch 25
                op, key = args
                # MAP reading first (string-keyed try_element_at
                # analyzes only for maps): DuckDB's m['k'] single-
                # element LIST; then the STRUCT field reading; scalar
                # element_at stays the fallback (pre-batch-25 shape).
                mapform = (
                    f"filter(array(try_element_at(({op}), {key})), "
                    f"uq_mv -> uq_mv IS NOT NULL)"
                )
                raw_key = (self._lit_parse(key.strip()) or "").replace("`", "``")
                structform = f"(({op})).`{raw_key}`"
                chosen = f"element_at(({op}), {key})"
                for cand in (mapform, structform):
                    # CONTEXT-NEUTRAL probe: the dispatch is on the
                    # operand's TYPE, not the surrounding fit (the same
                    # subscript text sits in BOTH args of an ancestor
                    # uq_poly, whose string-form context would veto the
                    # correct map reading). The wrapper forces the
                    # candidate to analyze while presenting a neutral
                    # value to the ancestor — no single neutral type
                    # fits every context (get() is array-strict,
                    # upper() rejects arrays), so the candidate is
                    # accepted if EITHER the NULL or the array wrapper
                    # analyzes. A context rejecting both falls through
                    # to the scalar fallback (pre-batch-25 behavior).
                    if probe_ok(f"IF(({cand}) IS NULL, NULL, NULL)") or probe_ok(
                        f"IF(({cand}) IS NULL, array(1), array(1))"
                    ):
                        chosen = cand
                        break
            else:  # uq_poly(list_form, string_form)
                lst, st = args
                chosen = st if probe_ok(st) else lst
            sql = sql[: m.start()] + f"({chosen})" + sql[close + 1 :]
        if self._call_args(self._UQ_POLY_ANY_RE, sql):
            raise UQueryError.sql_error("internal: polymorphic markers left unresolved")
        return sql

    def _rewrite_cast(self, sql: str) -> str:
        """CAST/TRY_CAST parity: map DuckDB type names Spark rejects, and
        match DuckDB's fractional→integral rounding (half away from zero)
        where Spark truncates — CAST(2.5 AS BIGINT) is 3 in DuckDB, 2 in
        Spark, and Spark's round() is half-away, so the cast becomes
        CAST(round(e) AS BIGINT) exactly when e is fractional. The operand
        type comes from a LIMIT-0 analysis probe (no execution): under
        ANSI coercion ``(e) & 1`` analyzes for integral and string
        operands but not fractional ones, and ``abs(e)`` separates
        fractional from boolean. String operands stay untouched — both
        engines reject CAST('2.5' AS BIGINT) and accept '12'."""
        # collect top-level CAST occurrences as (text-segment, expr, type)
        segs: list[str] = []
        occ: list[tuple[str, str, str]] = []  # (try_kw, expr, mapped_type)
        last = 0
        for m in self._finditer_code(self._CAST_RE, sql):
            prev = sql[m.start() - 1 : m.start()]
            if m.start() < last or (prev and (prev.isalnum() or prev in "_.")):
                continue
            close = self._close_of(m)
            if close == -1:
                break
            parts = self._split_top(sql[m.end() : close], "as")
            if len(parts) == 2:
                segs.append(sql[last : m.start()])
                occ.append((m.group(1) or "", parts[0].strip(), self._map_type(parts[1])))
                last = close + 1
        segs.append(sql[last:])
        if not occ:
            return sql

        def form(k: int, expr: str) -> str:
            kw, _, ty = occ[k]
            # recurse: a CAST nested inside another cast's operand (e.g.
            # concat-generated CAST(CAST(x AS VARCHAR) AS STRING)) needs
            # its OWN type-name mapping — the linear scan skipped it
            return f"{kw.upper()}CAST({self._rewrite_cast(expr)} AS {ty.strip()})"

        def compose(forms: list[str]) -> str:
            out = [segs[0]]
            for f, t in zip(forms, segs[1:]):
                out.append(f)
                out.append(t)
            return "".join(out)

        neutral = [form(k, e) for k, (_, e, _) in enumerate(occ)]
        chosen: list[str] = []
        for k, (kw, expr, ty) in enumerate(occ):
            tybase = ty.strip().lower()
            if tybase == "timetz":
                raise UQueryError.sql_error("TIMETZ is not supported")
            if tybase not in self._INTEGRAL_TYPES:
                chosen.append(neutral[k])
                continue
            # Statically classifiable operands skip the two analysis
            # probes (each a py4j spark.sql round-trip, ~60 ms — an
            # emitted inline relation can carry hundreds of NULL/integer
            # casts, measured 26 s of probe time on the
            # information_schema battery). Same outcomes the probes
            # produce: NULL, integer and single-quoted string literals
            # are non-fractional → neutral; a fractional numeric literal
            # rounds (DuckDB CAST(2.5 AS BIGINT) = 3).
            e = expr.strip()
            if (
                re.fullmatch(r"(?i)null", e)
                or re.fullmatch(r"[+-]?\d+", e)
                or (len(e) >= 2 and e[0] == "'" and e[-1] == "'" and "'" not in e[1:-1])
            ):
                chosen.append(neutral[k])
                continue
            if re.fullmatch(r"[+-]?(?:\d+\.\d*|\.\d+)(?:[eE][+-]?\d+)?", e):
                chosen.append(form(k, f"round({expr})"))
                continue

            # Probe-statement construction (the rewriter is composing a
            # LIMIT-0 probe for a DIFFERENT dispatch — thread-local
            # _probe_quiet marks exactly those regions): the rounding
            # classification is irrelevant to whether the probe ANALYZES
            # (round(e) and e are analyzable for exactly the same
            # operand types), and the resolved statement still gets the
            # full classification on its final _rewrite_cast pass. The
            # nested probes were the dominant rewrite cost on
            # battery-sized statements: every poly-subscript probe_ok
            # re-ran 2 analysis probes per cast site (b36_maplist:
            # 246 probes, 29.5 s of a 29.8 s rewrite).
            if getattr(_PROBE_TLS, "quiet", False):
                chosen.append(neutral[k])
                continue

            def analyzes(probe_expr: str) -> bool:
                forms = neutral[:k] + [probe_expr] + neutral[k + 1 :]
                with _probe_quiet():
                    return self._probe_analyzes(
                        f"SELECT * FROM ({self._rewrite_len(compose(forms))}) uq_cast LIMIT 0"
                    )

            if not analyzes(f"(({expr}) & 1)") and analyzes(f"abs({expr})"):
                chosen.append(form(k, f"round({expr})"))  # fractional operand
            else:
                chosen.append(neutral[k])
        return compose(chosen)

    def _rewrite_qualify(self, sql: str) -> str:
        """DuckDB QUALIFY → filtered subquery (Spark has no QUALIFY).

        SELECT <list> FROM ... QUALIFY <pred> [ORDER BY/LIMIT tail]
        becomes
        SELECT * EXCEPT (uq_qualify) FROM
          (SELECT <list>, (<pred>) AS uq_qualify FROM ...) WHERE uq_qualify
        [tail].  The window predicate evaluates in the subquery where its
        partition columns are still in scope; any CTE prefix stays outside.
        Applies to the final top-level SELECT (the only place the gateway's
        one-statement contract allows QUALIFY).
        """
        hits = list(self._scan_top_level(sql, {"qualify", "select", "from", "order", "limit"}))
        q = next((h for h in hits if h[2] == "qualify"), None)
        if q is None:
            return sql
        sel = max(h for h in hits if h[2] == "select" and h[0] < q[0])
        frm = min(h for h in hits if h[2] == "from" and sel[0] < h[0] < q[0])
        tail = next((h for h in hits if h[2] in ("order", "limit") and h[0] > q[0]), None)
        pred_end = tail[0] if tail else len(sql)
        pred = sql[q[1] : pred_end].strip()
        return (
            sql[: sel[0]]
            + "SELECT * EXCEPT (uq_qualify) FROM ("
            + sql[sel[0] : frm[0]]
            + f", ({pred}) AS uq_qualify "
            + sql[frm[0] : q[0]]
            + ") WHERE uq_qualify "
            + sql[pred_end:]
        )

    # -- SUMMARIZE ----------------------------------------------------------

    # DataType.simpleString() names: int->"int", long->"bigint", etc.
    _NUMERIC_TYPES = ("tinyint", "smallint", "int", "bigint", "float", "double", "decimal")

    def _rewrite_summarize(self, sql: str) -> str:
        """DuckDB ``SUMMARIZE <table|'path'|(subquery)>`` → one-scan stats.

        Emits one row per column (column_name, column_type, min, max,
        approx_unique, avg, std, q25, q50, q75, count, null_percentage —
        DuckDB's SUMMARIZE shape). All per-column aggregates compute in a
        single aggregate over one scan, then unpivot via stack(); numeric
        stats are NULL for non-numeric columns, min/max cast to string so
        the row type is uniform.
        """
        m = re.match(r"(?is)^\s*summarize\s+(.+?)\s*;?\s*$", sql)
        if m is None:
            return sql
        target = m.group(1).strip()
        if not target.startswith("("):
            target = f"(SELECT * FROM {target})"
        # resolve quoted paths / read_* TVFs inside the target up front —
        # the schema probe below needs runnable Spark SQL
        target = self._map_calls(_TVF_RE, self._translate_tvfs, target, raw=True)
        target = self._rewrite_path_tables(target)
        schema = self.spark.sql(f"SELECT * FROM {target} t LIMIT 0").schema
        aggs: list[str] = ["count(*) AS uq_n"]
        cells: list[str] = []
        for i, f in enumerate(schema.fields):
            c, t = f.name, f.dataType.simpleString()
            numeric = t.startswith(self._NUMERIC_TYPES)
            orderable = not (t.startswith(("map<", "array<", "struct<")))
            aggs.append(
                f"CAST(min(`{c}`) AS STRING) AS uq_min_{i}"
                if orderable
                else f"CAST(NULL AS STRING) AS uq_min_{i}"
            )
            aggs.append(
                f"CAST(max(`{c}`) AS STRING) AS uq_max_{i}"
                if orderable
                else f"CAST(NULL AS STRING) AS uq_max_{i}"
            )
            aggs.append(f"approx_count_distinct(`{c}`) AS uq_au_{i}")
            if numeric:
                aggs.append(f"CAST(avg(`{c}`) AS DOUBLE) AS uq_avg_{i}")
                aggs.append(f"CAST(stddev(`{c}`) AS DOUBLE) AS uq_std_{i}")
                for q in (25, 50, 75):
                    aggs.append(
                        f"CAST(approx_percentile(`{c}`, 0.{q}) AS DOUBLE) AS uq_q{q}_{i}"
                    )
            else:
                aggs.append(f"CAST(NULL AS DOUBLE) AS uq_avg_{i}")
                aggs.append(f"CAST(NULL AS DOUBLE) AS uq_std_{i}")
                for q in (25, 50, 75):
                    aggs.append(f"CAST(NULL AS DOUBLE) AS uq_q{q}_{i}")
            aggs.append(f"count(`{c}`) AS uq_cnt_{i}")
            cells.append(
                f"'{c}', '{t}', uq_min_{i}, uq_max_{i}, uq_au_{i}, uq_avg_{i}, "
                f"uq_std_{i}, uq_q25_{i}, uq_q50_{i}, uq_q75_{i}, uq_n, "
                f"round(100.0 * (uq_n - uq_cnt_{i}) / uq_n, 2)"
            )
        n = len(schema.fields)
        stack = (
            f"stack({n}, {', '.join(cells)}) AS (column_name, column_type, min, max, "
            "approx_unique, avg, std, q25, q50, q75, count, null_percentage)"
        )
        return f"SELECT {stack} FROM (SELECT {', '.join(aggs)} FROM {target} t)"

    # -- macros -------------------------------------------------------------

    def add_scalar_macro(self, name: str, params: list[str], body: str) -> None:
        """Register a textual macro: name(args) inlines to body with args
        substituted — DuckDB macro semantics (inlined at bind, not called)."""
        body = self._lex_head(body)
        with self._state_lock:
            self._macros[name.lower()] = (params, body)

    def add_table_macro(self, name: str) -> None:
        """Register a parameterless table macro: FROM name() → FROM name."""
        with self._state_lock:
            self._table_macros.add(name.lower())

    def _arg_list(self, raw: str) -> list[str]:
        """The stripped top-level arguments of a call's argument text
        (none for an empty text; a trailing empty argument is dropped)."""
        args = [a.strip() for a in self._split_top(raw, ",")]
        return args if args[-1] else args[:-1]

    def _expand_macros(self, sql: str) -> str:
        """Balanced-paren expansion of registered scalar + table macros,
        iterated to a fixpoint so macros may nest (bounded to catch cycles).

        DuckDB inlines macros at bind time and user macros SHADOW
        built-in names (probed: CREATE MACRO mod(a) AS a + 1; SELECT
        mod(3) → 4), so no name-keyed rewrite pass may see a macro
        call, and macro BODIES (raw DuckDB dialect from a .db attach,
        main.rs:414-419) get the full translation pipeline. Searches
        skip string literals (_search_code)."""
        with self._state_lock:
            table_macros, macros = list(self._table_macros), list(self._macros.items())
        if table_macros:
            names = "|".join(re.escape(n) for n in table_macros)
            sql = self._sub_code_fn(
                re.compile(rf"(?i)\b({names})\s*\(\s*\)"),
                lambda m: m.group(1),
                sql,
            )
        for _ in range(10):
            changed = False
            for name, (params, body) in macros:
                pat = re.compile(rf"(?i)\b{re.escape(name)}\s*\(")
                m = self._search_code(pat, sql)
                while m:
                    close = self._close_of(m)
                    if close == -1:
                        raise UQueryError.sql_error(f"macro {name}: unbalanced '('")
                    args = self._arg_list(sql[m.end() : close])
                    if len(args) != len(params):
                        raise UQueryError.sql_error(
                            f"macro {name} expects {len(params)} args, got {len(args)}"
                        )
                    expansion = body
                    for p, a in zip(params, args):
                        # substitute OUTSIDE string literals only: a
                        # param named 's' must not rewrite the s in
                        # ' it''s' (DuckDB substitutes at the AST,
                        # never inside literals — round-11 catch,
                        # exposed by early expansion); "p" is the
                        # parameter too
                        expansion = self._sub_code_fn(
                            re.compile(rf'(?i)\b{re.escape(p)}\b|"{re.escape(p)}"'),
                            lambda _m, a=a: f"({a})",
                            expansion,
                        )
                    sql = sql[: m.start()] + f"({expansion})" + sql[close + 1 :]
                    changed = True
                    m = self._search_code(pat, sql)
            if not changed:
                return sql
        return sql

    def _substitute_prepared_params(self, text: str, args: list[str]) -> str:
        """$n / ? placeholder substitution OUTSIDE string literals,
        DuckDB-probed semantics: $1 repeats fine, arbitrary order,
        '$1' inside a literal is text; a `?` takes (highest parameter
        index seen so far) + 1 scanning left-to-right ($1 + ? binds ?
        to $2; ? + $1 binds ? to $1 — probed both); binding is
        positional, so the referenced index set must be exactly
        {1..len(args)} or DuckDB errors with a count mismatch."""
        max_seen, used = 0, set()

        def sub(m):
            nonlocal max_seen
            idx = int(m.group(1)) if m.group(1) else max_seen + 1
            if idx < 1 or idx > len(args):
                raise UQueryError.sql_error("Parameter argument/count mismatch")
            used.add(idx)
            max_seen = max(max_seen, idx)
            return f"({args[idx - 1]})"

        text = self._sub_code_fn(re.compile(r"\$(\d+)|\?"), sub, text)
        if used != set(range(1, len(args) + 1)):
            raise UQueryError.sql_error("Parameter argument/count mismatch")
        return text

    _REC_CTE_RE = re.compile(
        r"(?is)^\s*WITH\s+RECURSIVE\s+(\w+)\s*(?:\(([^)]*)\))?\s*AS\s*\("
    )

    def _rewrite_recursive_union(self, sql: str) -> str:
        """``WITH RECURSIVE t AS (seed UNION step)`` — the DISTINCT
        form, whose termination depends on each iteration contributing
        only UNSEEN rows (graph reachability, cycle-safe transitive
        closure). Spark's native recursive CTE rejects it outright
        (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE; the UNION ALL form
        stays native — r13 shape probe). Evaluated here by driver-side
        SEMI-NAIVE iteration, the standard datalog strategy: the step
        is applied to the previous DELTA only (bound as a temp view),
        new rows = step(delta) − total, stop when the delta is empty.
        Each iteration is one distributed Spark job over the delta —
        lineage is cut per round with localCheckpoint so deep
        recursions keep constant-size plans. Iteration cap 200
        (documented; DuckDB itself would run a non-terminating
        recursion forever). The materialized fixpoint replaces the
        CTE body; the rest of the statement is untouched."""
        m = self._REC_CTE_RE.match(sql)
        if not m:
            return sql
        close = self._find_close(sql, m.end() - 1)
        if close == -1:
            return sql
        body = sql[m.end() : close]
        parts = self._split_top(body, "union")
        if len(parts) != 2 or re.match(r"(?is)^\s*all\b", parts[1]):
            return sql  # UNION ALL (or no union): Spark-native path
        name = m.group(1)
        cols = [c.strip() for c in (m.group(2) or "").split(",") if c.strip()]
        seed_sql, step_sql = parts[0].strip(), parts[1].strip()
        # uuid, not an instance counter: the engine shares one rewriter
        # per session across FAIR-pool concurrent requests, and two
        # interleaved recursive queries must never collide on the
        # delta/fixpoint temp-view names
        import uuid

        uid = f"uq_rec_{uuid.uuid4().hex[:12]}"
        step_bound = self._sub_code_fn(
            re.compile(rf"(?i)(?<![\w.]){re.escape(name)}(?![\w.])"),
            lambda _m: f"{uid}_delta",
            step_sql,
        )
        seed_df = self.spark.sql(self.rewrite(seed_sql)).distinct()
        if cols:
            seed_df = seed_df.toDF(*cols)
        step_rewritten = self.rewrite(step_bound)
        total = seed_df.localCheckpoint(eager=True)
        delta = total
        try:
            for _ in range(200):
                if delta.limit(1).count() == 0:
                    break
                delta.createOrReplaceTempView(f"{uid}_delta")
                new = self.spark.sql(step_rewritten)
                if cols:
                    new = new.toDF(*cols)
                delta = new.distinct().subtract(total).localCheckpoint(eager=True)
                total = total.union(delta).localCheckpoint(eager=True)
            else:
                raise UQueryError.sql_error(
                    "recursive CTE (UNION form) exceeded 200 iterations"
                )
        finally:
            self.spark.catalog.dropTempView(f"{uid}_delta")
            _PROBE_TLS.memo.clear()  # views changed: memoized probes may not hold
        total.createOrReplaceTempView(uid)
        _PROBE_TLS.temp_views.append(uid)
        rest = sql[close + 1 :]
        return self.rewrite(f"WITH RECURSIVE {name} AS (SELECT * FROM {uid}){rest}")

    def rewrite(self, sql: str) -> str:
        # Lex first: comments become whitespace, so no later scan (the
        # configuration lock below included) ever sees one.
        sql = self._lex_head(sql)
        # Open the per-call state for the duration of this TOP-LEVEL
        # rewrite. It is thread-local because one rewriter serves every
        # handler thread; nested rewrite() calls (EXECUTE, macro/CTE
        # recursion) share the outer one:
        # - memo: probe results (sound while session views stay put;
        #   _rewrite_recursive_union clears it when it changes them);
        # - pivot_names: pivot-name token → column name
        #   (_pivot_name_token);
        # - execute_depth: EXECUTE nesting, bounded below;
        # - temp_views: views the rewritten text reads, kept after the
        #   call for temp_views().
        if getattr(_PROBE_TLS, "memo", None) is None:
            _PROBE_TLS.memo, _PROBE_TLS.pivot_names = {}, {}
            _PROBE_TLS.execute_depth = 0
            _PROBE_TLS.temp_views = []
            try:
                return self._rewrite_inner(sql)
            finally:
                _PROBE_TLS.memo = _PROBE_TLS.pivot_names = None
        return self._rewrite_inner(sql)

    def temp_views(self) -> list[str]:
        """The temp views that the last top-level rewrite() on this thread
        registered for its result text to read (a recursive CTE's
        fixpoint). Whoever runs that text drops them when it is done."""
        return list(getattr(_PROBE_TLS, "temp_views", ()))

    # -- pipeline steps of their own --------------------------------------

    _LITERAL_YEAR_RE = re.compile(r"(?i)\b(date|timestamp(?:_ntz)?|timestamptz)(\s*')(\d{1,3})-")

    def _pad_literal_years(self, sql: str) -> str:
        """Zero-pad a typed literal's year to 4 digits: Spark requires
        them, DuckDB accepts DATE '999-06-01'. BC years stay untouched
        (a loud error, not a silent one)."""
        return self._sub_code_fn(
            self._LITERAL_YEAR_RE,
            lambda m: f"{m.group(1)}{m.group(2)}{int(m.group(3)):04d}-",
            sql,
        )

    _ARRAY_TYPE_RE = re.compile(
        r"(?i)(\bas\s+|::\s*)"
        r"([a-z_]\w*(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)"
        r"((?:\s*\[\s*\d*\s*\])+)"
    )

    def _rewrite_array_types(self, sql: str) -> str:
        """DuckDB's array-type suffix, CAST(x AS DOUBLE[]) / x::FLOAT[2]
        → ARRAY<…>. Fixed sizes drop (Spark has no fixed-length arrays;
        the values are the same), and the element's DuckDB type name
        maps here, so the cast pass never descends into ARRAY<…>."""

        def array_type(m):
            ty = self._map_type(m.group(2).strip())
            for _ in range(m.group(3).count("[")):
                ty = f"ARRAY<{ty}>"
            return m.group(1) + ty

        return self._sub_code_fn(self._ARRAY_TYPE_RE, array_type, sql)

    def _rewrite_py_lambda(self, sql: str) -> str:
        """DuckDB ≥1.3's python-style ``lambda x, y: expr`` → the arrow
        form ``(x, y) -> expr`` that the later passes and Spark read."""
        return self._sub_code_fn(
            self._PY_LAMBDA_RE,
            lambda m: (
                m.group(1)
                if "," not in m.group(1)
                else "(" + ", ".join(p.strip() for p in m.group(1).split(",")) + ")"
            )
            + " -> ",
            sql,
        )

    _ELEMENT_AT_RE = re.compile(r"(?i)\belement_at\s*\(")

    def _translate_element_at(self, m, inner):
        """DuckDB's element_at is the MAP accessor (a one-element list,
        [] for a missing key): exactly Spark's map_extract."""
        return f"map_extract({inner})"

    _REVERSE_RE = re.compile(r"(?i)(?<![\w.])(uq_native_)?reverse\s*\(")

    def _translate_reverse(self, m, inner):
        """DuckDB's reverse() is string-only and grapheme-aware →
        uq_reverse_graphemes. The bracket pass's step slices reverse
        lists through the ``uq_native_reverse`` sentinel, which becomes
        Spark's own reverse here."""
        if m.group(1):
            return f"reverse({inner})"
        from .functions.parity_udfs import register_parity_udfs

        register_parity_udfs(self.spark)
        return f"uq_reverse_graphemes({inner})"

    _UNICODE_PARITY_RE = re.compile(
        r"(?i)(?<![\w.])(upper|ucase|lower|lcase|levenshtein|editdist3)\s*\("
    )
    # DuckDB name → (native Spark function, parity UDF, argument count)
    _UNICODE_PARITY = {
        "upper": ("upper", "uq_upper_simple", 1),
        "ucase": ("upper", "uq_upper_simple", 1),
        "lower": ("lower", "uq_lower_simple", 1),
        "lcase": ("lower", "uq_lower_simple", 1),
        "levenshtein": ("levenshtein", "uq_lev_bytes", 2),
        "editdist3": ("levenshtein", "uq_lev_bytes", 2),
    }

    def _translate_unicode_parity(self, m, args):
        """DuckDB cases through utf8proc's SIMPLE 1:1 mapping
        (upper('straße') = 'STRAẞE') and measures string distances on
        UTF-8 bytes. ASCII input (length = octet_length) keeps the native
        JVM function; only non-ASCII rows pay the parity UDF. Inside a
        higher-order lambda, where a Python UDF cannot run, the uq_poly
        probe falls back to the native form (a documented deviation)."""
        native, udf, nargs = self._UNICODE_PARITY[m.group(1).lower()]
        if len(args) != nargs:
            return None
        from .functions.parity_udfs import register_parity_udfs

        register_parity_udfs(self.spark)
        ascii_guard = " AND ".join(f"length(({a})) = octet_length(({a}))" for a in args)
        argtext = ", ".join(f"({a})" for a in args)
        hybrid = f"CASE WHEN {ascii_guard} THEN {native}({argtext}) ELSE {udf}({argtext}) END"
        return f"uq_poly({native}({argtext}), {hybrid})"

    _TZ_OFFSET_RE = re.compile(r"(?i)\b(timezone_hour|timezone_minute)\s*\(")

    def _translate_timezone_offset(self, m, args):
        """timezone_hour/timezone_minute are 0 for naive timestamps in a
        UTC session (as in DuckDB), and NULL for NULL."""
        if len(args) != 1:
            raise UQueryError.sql_error(f"{m.group(1).lower()} expects 1 arg")
        return (
            f"(CASE WHEN CAST(({args[0]}) AS TIMESTAMP) IS NULL "
            f"THEN CAST(NULL AS BIGINT) ELSE 0 END)"
        )

    _SPLIT_TO_TABLE_RE = re.compile(r"(?i)\bregexp_split_to_table\s*\(")

    def _translate_regexp_split_to_table(self, m, args):
        """regexp_split_to_table(s, re) is unnest over a regex split."""
        if len(args) != 2:
            raise UQueryError.sql_error("regexp_split_to_table expects (string, regex)")
        return f"unnest(split({args[0]}, {args[1]}, -1))"

    _CONSTANT_RE = re.compile(
        r"(?i)\b(current_database|version|count_star)\s*\(\s*\)|\b(current_user)\b(?!\s*\()"
    )
    # DuckDB's zero-argument constants; version() is read on use
    _CONSTANTS = {
        "current_database": "'memory'",
        "count_star": "count(*)",
        "current_user": "'duckdb'",
    }

    def _rewrite_constants(self, sql: str) -> str:
        """current_database(), version() (the oracle engine's 'vX.Y.Z'),
        count_star() and current_user → their values."""

        def constant(m):
            name = m.group(m.lastindex).lower()
            return self._CONSTANTS.get(name) or f"'v{_duckdb_version()}'"

        return self._sub_code_fn(self._CONSTANT_RE, constant, sql)

    def _reject_named_args(self, sql: str) -> str:
        """A ``:=`` that no pass consumed is a DuckDB named-argument
        call, which Spark's builtins do not accept: a clean 400."""
        if self._search_code(re.compile(r":="), sql):
            raise UQueryError.sql_error(
                "named function arguments (name := value) are not supported"
            )
        return sql

    def _restore_pivot_names(self, sql: str) -> str:
        """Pivot-name tokens back to their column names. getattr: pure
        rewrite property tests call passes without rewrite(). The map is
        dropped with the call state, so a token from another request can
        never be seen or cleared here."""
        names = getattr(_PROBE_TLS, "pivot_names", None)
        if names and "uq_pvn_" in sql:
            for tok in [t for t in names if f"`{t}`" in sql]:
                sql = sql.replace(f"`{tok}`", f"`{names[tok]}`")
        return sql

    def _rewrite_inner(self, sql: str) -> str:
        if _FORBIDDEN_RE.match(sql):
            raise UQueryError.sql_error(
                "session-mutating statements are disabled (configuration is locked)"
            )
        # PREPARE / EXECUTE / DEALLOCATE: DuckDB prepared statements. The
        # text is stored raw and the whole pipeline runs at EXECUTE, so it
        # sees the views and macros current then, as DuckDB's binder does.
        m = _PREPARE_RE.match(sql)
        if m:
            with self._state_lock:
                self._prepared[m.group(1).lower()] = m.group(2)
            return "SELECT 1 AS ok WHERE false"
        m = _EXECUTE_RE.match(sql)
        if m:
            with self._state_lock:
                text = self._prepared.get(m.group(1).lower())
            if text is None:
                raise UQueryError.sql_error(
                    f'Prepared statement "{m.group(1)}" does not exist'
                )
            args = self._arg_list(m.group(2) or "")
            # a self-referential statement (PREPARE a AS EXECUTE a($1))
            # would recurse without bound: raise a 400 instead
            depth = _PROBE_TLS.execute_depth
            if depth >= 16:
                raise UQueryError.sql_error(
                    f'EXECUTE recursion limit exceeded expanding "{m.group(1)}" '
                    "(self-referential prepared statement?)"
                )
            _PROBE_TLS.execute_depth = depth + 1
            try:
                return self.rewrite(self._substitute_prepared_params(text, args))
            finally:
                _PROBE_TLS.execute_depth = depth
        m = _DEALLOCATE_RE.match(sql)
        if m:
            with self._state_lock:
                self._prepared.pop(m.group(1).lower(), None)
            return "SELECT 1 AS ok WHERE false"
        # session DDL: CREATE VIEW/TABLE bodies recurse through rewrite(),
        # DML raises
        if re.match(r"(?is)^\s*(create|drop|insert|update|delete|merge|truncate)\b", sql):
            return self._rewrite_session_ddl(sql)
        # EXPLAIN ANALYZE profiles at run time in DuckDB; Spark's closest
        # is the plain plan. SHOW ALL TABLES lists the one schema.
        sql = re.sub(r"(?is)^\s*explain\s+analyze\b", "EXPLAIN", sql)
        sql = re.sub(r"(?is)^\s*show\s+all\s+tables\b", "SHOW TABLES", sql)
        for entry in self._PIPELINE:
            sql = self._run_entry(entry, sql)
        return sql

    def _run_entry(self, entry, sql: str) -> str:
        """One ``_PIPELINE`` entry over the statement text."""
        if isinstance(entry, str):
            return getattr(self, entry)(sql)
        regex, translate, raw = entry
        return self._map_calls(regex, getattr(self, translate), sql, raw)

    # The rewrite pipeline, in order. An entry is a text pass, named by its
    # method (statement text → statement text), or a call translation:
    # (call regex, translator method, raw flag), run through _map_calls.
    # An entry that must run before or after another says why beside it.
    _PIPELINE = (
        "_expand_macros",  # first: macros inline at bind time and shadow built-in names
        "_rewrite_summarize",
        "_rewrite_from_first",
        "_rewrite_recursive_union",
        "_rewrite_fetch_first",
        (_TVF_RE, "_translate_tvfs", True),
        (_GLOB_TVF_RE, "_translate_glob_tvf", False),
        "_rewrite_information_schema",
        "_rewrite_pivot_statement",
        "_rewrite_unpivot_statement",
        (_TRIM_STD_RE, "_translate_trim_std", True),  # before path tables take its FROM 'lit'
        "_rewrite_path_tables",
        "_normalize_literals",  # user literals are escape-free; entries below emit Spark escapes
        "_pad_literal_years",
        "_rewrite_array_types",  # before brackets, which read TYPE[] as a subscript
        "_raise_unsupported",
        "_rewrite_json_arrows",
        "_rewrite_py_lambda",
        (_MAP_LITERAL_RE, "_translate_map_literal", True),  # before brackets subscript its map(…)
        (_ELEMENT_AT_RE, "_translate_element_at", True),  # before brackets emit Spark's element_at
        (_STRUCT_LIT_RE, "_translate_struct_literal", True),  # after MAP {…} is consumed
        (_ARRAY_SLICE_RE, "_translate_array_slice_fn", False),  # before brackets: emits l[a:b:s]
        (_DATE_PART_LIST_RE, "_translate_date_part_list", False),  # before brackets take its [...]
        (_MAP_ENTRIES_RE, "_translate_map_entries", False),  # before brackets take its (…, …)
        "_rewrite_bracket_syntax",
        "_rewrite_dot_chain",  # after brackets (list literals are array() calls), before renames
        (_REVERSE_RE, "_translate_reverse", True),  # after brackets, which emit uq_native_reverse
        (_UNICODE_PARITY_RE, "_translate_unicode_parity", False),
        (_TZ_OFFSET_RE, "_translate_timezone_offset", False),
        "_rewrite_regr_avg_array_length",  # before renames: 2-arg array_length → 1-arg
        (_REGEXP_MATCHES_RE, "_translate_regexp_matches_flags", False),  # before the 2-arg rename
        (_FN_NAME_RE, "_translate_function_names", True),
        "_rewrite_parity_fns",  # after renames (not its names), before lambda/scalar entries
        (_ARRAY_AGG_RE, "_translate_array_agg_order", True),  # after the list → array_agg rename
        (_SPLIT_TO_TABLE_RE, "_translate_regexp_split_to_table", False),  # before unnest
        "_rewrite_unnest",
        "_rewrite_collate",
        (_LIST_DISTINCT_RE, "_translate_list_distinct", False),  # before array_distinct emitters
        (_MAP_CONCAT_RE, "_translate_map_concat", False),
        (_LIST_ZIP_RE, "_translate_list_zip", False),
        "_rewrite_sign_encode_make_timestamp",
        "_rewrite_list_family",  # before list_aggregate: list_sum/avg/count expand to it
        "_rewrite_lambda_index",
        "_rewrite_operator_symbols",  # before divide_xor, whose xor() emits a real ^
        "_rewrite_flatten_factorial_contains",  # after operator symbols: postfix ! must not see !~
        "_rewrite_printf_graphemes_at_time_zone",
        (_B23_FN_RE, "_translate_timezone_bar_date_trunc", False),
        "_rewrite_scalar_semantics",  # before list_nulls, whose array concat() stays unstringified
        "_rewrite_agg_semantics",
        # after agg_semantics (ORDER BY stripped, favg), before first_last (keeps NULLs)
        (_B28_AGG_RE, "_translate_arg_max_avg_corr", False),
        (_TOPN_MINMAX_RE, "_translate_topn_minmax", False),
        (_ARRAY_AGG_RE, "_translate_array_agg_nulls", True),  # after agg_semantics' FILTER WHERE
        "_rewrite_nested_aggs",
        "_rewrite_datetime_corners",  # before epoch/ISO: EXTRACT emits epoch()/isodow() calls
        "_rewrite_string_list_corners",
        (_LIST_AGG_ALIAS_RE, "_translate_list_agg_aliases", False),  # emits list_aggregate
        (_LIST_AGG_RE, "_translate_list_aggregate", False),
        (_LIST_REDUCE_RE, "_translate_list_reduce", False),
        (_LIST_SLICE_RE, "_translate_list_slice", False),
        (_RANGE_CALL_RE, "_translate_range_calls", False),
        (_FORMAT_RE, "_translate_format", False),
        (_DATE_DIFF3_RE, "_translate_date_diff", False),
        (_DAYNAME_RE, "_translate_dayname", False),
        (_EPOCH_RE, "_translate_epoch", False),
        "_rewrite_ordered_window_percentiles",  # before quantile: percentiles reject ORDER BY specs
        (_QUANTILE_RE, "_translate_quantile", False),
        (_PRODUCT_RE, "_translate_product", False),
        (_TIME_BUCKET_RE, "_translate_time_bucket", False),
        "_rewrite_similar_glob",
        "_strip_trailing_select_comma",
        (_JSON_EXTRACT_RE, "_translate_json_extract", False),
        (_JSON_ARR_LEN_RE, "_translate_json_array_length", False),
        (_JSON_VALID_RE, "_translate_json_valid", False),
        "_rewrite_json_functions",  # after scalar_semantics and json_extract
        (_FROM_JSON_RE, "_translate_from_json", False),
        (_ISO_DT_RE, "_translate_iso_datetime", False),
        (_TO_INTERVAL_RE, "_translate_to_interval", False),
        (_SHA256_RE, "_translate_sha256", False),
        (_TRIM2_RE, "_translate_trim_chars", False),
        (_QUANT_CMP_RE, "_translate_quantified_cmp", True),
        "_rewrite_in_select_sign",  # after quantified_cmp emits IN (subquery); before probes
        (_IGN_NULLS_FN_RE, "_translate_ignore_nulls_arg", False),  # before first_last reads args
        (_FIRST_LAST_RE, "_translate_first_last", True),
        (_STRUCT_EXTRACT_RE, "_translate_struct_extract", False),
        (_LIST_HAS_ALL_RE, "_translate_list_has_all", False),
        (_LIST_WHERE_RE, "_translate_list_where", False),
        "_rewrite_list_index",
        "_rewrite_list_nulls",
        "_rewrite_hamming_to_base",
        "_rewrite_divide_xor",
        (_REGEXP_REPLACE_RE, "_translate_regexp_replace", False),
        (_REGEXP_EXTRACT_RE, "_translate_regexp_extract", True),
        (_LIST_SORT_RE, "_translate_list_sort", False),
        (_ARRAY_TO_STRING_RE, "_translate_array_to_string", False),
        "_rewrite_colon_cast",
        (_TRY_RE, "_translate_try_expr", False),  # after ::, before the JSON/interval casts
        (_JSON_CAST_RE, "_translate_json_cast", True),
        (_JSON_CAST_RE, "_translate_interval_cast", True),
        "_rewrite_date_interval_widen",
        "_rewrite_mixed_interval_literal",  # after the widen, which reads the INTERVAL keyword
        "_rewrite_constants",
        (_STRUCT_PACK_RE, "_translate_struct_pack", False),
        "_rewrite_generate_series",
        (_STRING_AGG_RE, "_translate_string_agg_order", True),
        "_rewrite_limit_pct",  # before the window entries: its ORDER BY keys get NULLS LAST
        "_rewrite_named_window_ext",  # windows after every ORDER BY emitter; named specs first
        "_rewrite_order_nulls",  # after inlining: inlined specs get NULLS LAST too
        "_rewrite_window_exclude",  # after null placement: its spec copies carry it
        (_DISTINCT_AGG_RE, "_translate_distinct_over", True),
        "_rewrite_window_filter",
        (_STRF_RE, "_translate_strftime", False),
        "_rewrite_exclude",
        "_rewrite_using_sample",  # before ÷0, whose divisor scan would wrap its (method, seed)
        "_rewrite_div_by_zero",  # before int_div: user // divisors wrap here
        "_rewrite_int_div",
        "_rewrite_asof_join",  # after expression entries: its probes need Spark-valid relations
        "_rewrite_in_subquery_null",  # before qualify/distinct_on rewrite the clauses it reads
        "_rewrite_distinct_on",
        "_rewrite_qualify",
        "_rewrite_star_replace",
        "_rewrite_columns_expr",
        "_rewrite_union_by_name",
        "_rewrite_struct_insert",
        "_rewrite_struct_extract_at",
        (_TIME_CAST_RE, "_translate_time_cast", True),  # emits uq_poly markers for the resolver
        "_rewrite_poly_subscript",  # probes: text must be Spark-valid but for casts and len
        "_rewrite_time_interval_wrap",  # after the resolver: probes sites on marker-free text
        "_rewrite_cast",
        "_rewrite_len",  # last probe entries: cast and len compose in every probe
        "_rewrite_length_poly",
        "_reject_named_args",  # after every := consumer
        "_restore_pivot_names",
    )


# DuckDB read_csv option → Spark reader option
_OPTION_NAMES = {
    "delim": "sep",
    "sep": "sep",
    "header": "header",
    "quote": "quote",
    "escape": "escape",
    "nullstr": "nullValue",
    "sample_size": "samplingRatio",
    "compression": "compression",
}
