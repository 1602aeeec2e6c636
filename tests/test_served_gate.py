"""Served-path gate: registry oracle texts through the gateway vs DuckDB.

A client sends DuckDB SQL text; the server runs it through
``load_tables`` → ``SqlRewriter`` → ``spark.sql`` (``gateway_sql``). This
gate sends each entry's oracle text down that path at sf0.001 and compares
the result with DuckDB running the same text, through ``compare_query``.

Every entry is gated here, whatever its ``spark_fn``:

- code entries: bench kernels, plan-pinned DataFrame queries, entries
  built on the operator library, entries that run more than one
  statement or post-process, and entries whose oracle text the gateway
  cannot serve yet (registry module docstring);
- ``sql=`` entries, whose served gateway text differs from their oracle;
- SQL-text entries without ``sql=``, whose case here runs the same query
  as their oracle-gate case (test_oracle_gate.py).

A code entry that passes here and has none of the other reasons to stay
code is a DataFrame copy of its oracle: it belongs in ``register_sql``.

An entry whose oracle text the gateway cannot serve yet is listed in
:data:`EXCLUDED` with the DuckDB feature or defect it needs. Those run as
strict xfails, so a fix fails the gate (XPASS) until its entry is removed.
"""

from __future__ import annotations

from functools import partial

import pytest

from uquery_rs_spark import queries as Q
from uquery_rs_spark.oracle import compare_query
from uquery_rs_spark.queries.registry import Query, gateway_sql

from .conftest import SF_SMALL

Q.load_all()

_HEX_CAST = "CAST('0x…' AS INT/BIGINT): DuckDB parses hex-string casts, Spark rejects them"
_RECURSIVE_UNION = "recursive CTE with UNION (distinct): Spark only runs UNION ALL recursion"
_CORRELATED = "correlated reference outside WHERE/HAVING: DuckDB decorrelates it, Spark refuses"

EXCLUDED: dict[str, str] = {
    "asof_direction_battery": (
        "ASOF JOIN against a derived relation: the rewrite cannot probe its schema"
    ),
    "asof_join_purchase_view": (
        "ASOF JOIN against a derived table: the rewritten text leaves `p`.`event_id` unresolved"
    ),
    "corpus_dsir_weights": _HEX_CAST,
    "corpus_leakage_safe_split": _RECURSIVE_UNION,
    "corpus_pack_emit": "len(string_split(…)) in a CTE: dispatched to length(), not size()",
    "corpus_quality_sample": _HEX_CAST,
    "corpus_token_budget_mix": _HEX_CAST,
    "dedup_cluster_canonical": _RECURSIVE_UNION,
    "dedup_exact_substring": "rewritten text leaves column `w` unresolved",
    "dedup_funnel": _RECURSIVE_UNION,
    "dedup_simhash": "rewritten text leaves column `text` unresolved",
    "dedup_winnowing": _HEX_CAST,
    "dialect_edge_cases": (
        "HUGEINT arithmetic: HUGEINT maps to BIGINT, whose multiply overflows under ANSI"
    ),
    "emb_diversity_sample": _CORRELATED,
    "multimodal_resize": _HEX_CAST,
    "positional_join_rank_zip": "POSITIONAL JOIN: the rewriter does not translate it (parse error)",
    "streaming_interval_join": "epoch(ts - ts): the rewrite casts the INTERVAL's text to TIMESTAMP",
    "text_bpe_apply_ids": "rewritten text leaves column `doc_id` unresolved",
    "unpivot_part_measures": "UNPIVOT statement in a FROM subquery: left unrewritten, parse error",
    "unpivot_statement_measures": (
        "UNPIVOT statement in a FROM subquery: left unrewritten, parse error"
    ),
}


GATED = sorted(n for n, q in Q.REGISTRY.items() if q.oracle is not None)


def _param(name: str):
    if name in EXCLUDED:
        return pytest.param(name, marks=pytest.mark.xfail(strict=True, reason=EXCLUDED[name]))
    return name


@pytest.mark.parametrize("name", [_param(n) for n in GATED])
def test_served_oracle_text_matches_duckdb(name, spark, oracle_con):
    oracle = Q.REGISTRY[name].oracle
    served = Query(name, partial(gateway_sql, sql=oracle), oracle)
    passed, detail = compare_query(spark, oracle_con, served, SF_SMALL)
    assert passed, f"{name}: {detail}"


def test_gate_covers_code_and_reshaped_entries():
    """Every entry's oracle text is served here, code and ``sql=``
    entries included."""
    assert GATED == sorted(Q.REGISTRY)
    assert set(EXCLUDED) <= set(GATED)
    # a SQL-text entry's doc is its own, never functools.partial's
    assert all(q.doc != partial.__doc__ for q in Q.REGISTRY.values())
