"""Rewrite corpus: what ``SqlRewriter`` makes of a fixed set of inputs.

Prints one JSON line per input: its name, then either the rewritten text
(``sql``) or the error (``error`` class and ``message``). The inputs are

- every registry entry's ``oracle`` text and ``sql=`` text, each through
  a fresh rewriter over the tables at ``sf_dir`` (the gates use sf0.001);
- every top-level statement ``tools/dialect_fuzz.py`` sends for
  ``all 30`` at seeds 42 and 7, recorded by the rewriter handed to
  ``run_axis`` (one rewriter per seed, as the fuzzer's ``main`` uses);
- a fixed list of extra statements (``EXTRAS``), each through a fresh
  rewriter, that reach pipeline entries the inputs above never change.

Temp-view and spill-path uuids are normalised, so two runs of the same
code print the same lines. The fuzzer's per-axis checked/mismatch counts
go to stderr, and a last stderr line sums the run up as JSON: inputs,
errors, seconds spent inside top-level ``rewrite`` calls (probes
included), LIMIT-0 analysis probes sent and ``hits``: for each entry of
``SqlRewriter._PIPELINE``, in order, how many times it changed its input
text or raised (empty on a rewriter without the table). A rewriter
change that should not alter behaviour diffs clean against its parent:

    python tools/rewrite_corpus.py SF_DIR > new.jsonl   # then the same on the parent
    diff old.jsonl new.jsonl

Usage:  python tools/rewrite_corpus.py sf_dir
"""

from __future__ import annotations

import json
import os
import random
import re
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))
os.chdir(ROOT)  # the rewriter's file sandbox defaults to the cwd

import duckdb  # noqa: E402

import dialect_fuzz  # noqa: E402
from uquery_rs_spark import queries as Q  # noqa: E402
from uquery_rs_spark.queries.registry import load_tables  # noqa: E402
from uquery_rs_spark.rewrite import SqlRewriter  # noqa: E402
from uquery_rs_spark.session import get_spark  # noqa: E402

FUZZ_SEEDS = (42, 7)
FUZZ_BATCHES = 30

# (name, statement): inputs that change or reject through pipeline
# entries no registry text or fuzz axis reaches.
EXTRAS = (
    ("ddl_view", "CREATE VIEW uq_corpus_v AS SELECT 1 AS a"),
    ("summarize", "SUMMARIZE (SELECT 1 AS a, 'x' AS b)"),
    ("read_csv", "SELECT count(*) FROM read_csv('tests/fixtures/test.csv', header=true)"),
    ("glob", "SELECT file FROM glob('tests/fixtures/*.csv')"),
    ("path_table", "SELECT count(*) FROM 'tests/fixtures/test.zstd.parquet'"),
    ("md5_number", "SELECT md5_number('abc')"),
    ("regr_avgx", "SELECT regr_avgx(y, x) FROM (VALUES (1, 2), (3, 5)) t(x, y)"),
    ("array_length_dim", "SELECT array_length([1, 2, 3], 1)"),
    ("trailing_comma", "SELECT 1 AS a, 2 AS b, FROM range(1)"),
    ("any_list", "SELECT 2 > ANY([1, 3]), 2 = ALL([2, 2])"),
    ("struct_extract", "SELECT struct_extract({'a': 1, 'b': 2}, 'b')"),
    ("list_has_all", "SELECT list_has_all([1, 2, 3], [1, 3])"),
    ("list_element", "SELECT list_element([10, 20], 2), list_extract('abc', 0)"),
    ("named_arg", "SELECT concat(a := 'x')"),
    ("in_select_sign", "SELECT x IN (SELECT -1) FROM (SELECT -1 AS x)"),
    ("lateral_unnest", "SELECT count(*) FROM (VALUES (3), (1)) t(n), unnest([n, 2])"),
)

_VOLATILE = [
    (re.compile(r"uq_rec_[0-9a-f]{12}"), "uq_rec_UUID"),
    (re.compile(r"__uq_stage_[0-9a-f]{8}"), "__uq_stage_UUID"),
    (re.compile(r"uq_cor_spill_[^/`'\s]+/(\w+?)_[0-9a-f]{8}"), r"uq_cor_spill_DIR/\1_UUID"),
]


def _norm(text: str) -> str:
    for pat, repl in _VOLATILE:
        text = pat.sub(repl, text)
    return text


def _error(name: str, e: Exception) -> dict:
    msg = str(e).strip().split("\n")[0]
    return {"name": name, "error": type(e).__name__, "message": _norm(msg)}


def _outcome(name: str, fn, summary: dict) -> dict:
    summary["inputs"] += 1
    t0 = time.perf_counter()
    try:
        return {"name": name, "sql": _norm(fn())}
    except Exception as e:  # noqa: BLE001 - the error is the outcome
        summary["errors"] += 1
        return _error(name, e)
    finally:
        summary["rewrite_s"] += time.perf_counter() - t0


def _entry_name(entry) -> str:
    """A pipeline entry's name: a text pass's method, or a call
    translation's translator."""
    return entry if isinstance(entry, str) else entry[1]


class CountingRewriter(SqlRewriter):
    """Counts the analysis probes it sends and its pipeline entries'
    hits in ``summary``."""

    def __init__(self, spark, summary: dict):
        super().__init__(spark)
        self.summary = summary

    def _probe_analyzes_uncached(self, probe_sql: str) -> bool:
        self.summary["probes"] += 1
        return super()._probe_analyzes_uncached(probe_sql)

    def _run_entry(self, entry, sql: str) -> str:
        hits = self.summary["hits"]
        try:
            out = super()._run_entry(entry, sql)
        except Exception:
            hits[_entry_name(entry)] += 1
            raise
        if out != sql:
            hits[_entry_name(entry)] += 1
        return out


class RecordingRewriter(CountingRewriter):
    """Records the outcome of each top-level ``rewrite`` it serves."""

    def __init__(self, spark, tag: str, summary: dict):
        super().__init__(spark, summary)
        self.tag, self.records, self._depth = tag, [], 0

    def rewrite(self, sql: str) -> str:
        if self._depth:
            return super().rewrite(sql)
        name = f"{self.tag}:{len(self.records)}"
        self._depth += 1
        self.summary["inputs"] += 1
        t0 = time.perf_counter()
        try:
            out = super().rewrite(sql)
        except Exception as e:
            self.summary["errors"] += 1
            self.records.append({**_error(name, e), "input": sql})
            raise
        finally:
            self._depth -= 1
            self.summary["rewrite_s"] += time.perf_counter() - t0
        self.records.append({"name": name, "sql": _norm(out), "input": sql})
        return out


def main() -> int:
    if len(sys.argv) != 2:
        raise SystemExit(__doc__)
    sf = sys.argv[1]
    os.environ.setdefault("UQ_DRIVER_MEMORY", "4g")
    spark = get_spark("rewrite-corpus", cpus=4)
    Q.load_all()
    load_tables(spark, sf)
    pipeline = getattr(SqlRewriter, "_PIPELINE", ())
    hits = {_entry_name(e): 0 for e in pipeline}
    summary = {"inputs": 0, "errors": 0, "rewrite_s": 0.0, "probes": 0, "hits": hits}
    for name in sorted(Q.REGISTRY):
        q = Q.REGISTRY[name]
        for kind, text in (("oracle", q.oracle), ("sql", q.sql)):
            if text is not None:
                rw = CountingRewriter(spark, summary)
                rec = _outcome(f"{name}:{kind}", lambda: rw.rewrite(text), summary)
                print(json.dumps(rec), flush=True)
    con = duckdb.connect()
    for seed in FUZZ_SEEDS:
        rw = RecordingRewriter(spark, f"fuzz{seed}", summary)
        for axis in dialect_fuzz.ALL_AXES:
            rw.tag, rw.records = f"fuzz{seed}:{axis}", []
            checked, mismatch, _fails = dialect_fuzz.run_axis(
                axis, FUZZ_BATCHES, random.Random(seed), spark, rw, con
            )
            print(f"seed {seed} {axis}: checked={checked} mismatch={mismatch}", file=sys.stderr)
            for rec in rw.records:
                print(json.dumps(rec), flush=True)
    for name, text in EXTRAS:
        rw = CountingRewriter(spark, summary)
        rec = _outcome(f"extra:{name}", lambda: rw.rewrite(text), summary)
        print(json.dumps(rec), flush=True)
    summary["rewrite_s"] = round(summary["rewrite_s"], 2)
    print(json.dumps(summary), file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
