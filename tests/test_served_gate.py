"""Served-path gate: registry oracle texts through the gateway vs DuckDB.

A client sends DuckDB SQL text; the server runs it through
``load_tables`` → ``SqlRewriter`` → ``spark.sql`` (``gateway_sql``). This
gate sends each entry's oracle text down that path at sf0.001 and compares
the result with DuckDB running the same text, through ``compare_query``.

Every entry is gated here, whatever its ``spark_fn``:

- code entries: bench kernels, plan-pinned DataFrame queries, entries
  that run more than one statement or post-process, entries whose
  oracle hard-codes what the code computes, and entries whose oracle
  text the gateway cannot serve yet (registry module docstring);
- ``sql=`` entries, whose served gateway text differs from their oracle;
- SQL-text entries without ``sql=``, whose case here runs the same query
  as their oracle-gate case (test_oracle_gate.py).

A code entry that passes here and has none of the other reasons to stay
code is a DataFrame copy of its oracle: it belongs in ``register_sql``.
:data:`KEPT_AS_CODE` names the reason for every code entry that is not a
bench kernel, plan-pinned or excluded, and
``test_code_entries_have_a_reason`` keeps that list complete.

An entry whose oracle text the gateway cannot serve yet is listed in
:data:`EXCLUDED` with the DuckDB feature or defect it needs. Those run as
strict xfails, so a fix fails the gate (XPASS) until its entry is removed.
"""

from __future__ import annotations

from functools import partial
from pathlib import Path

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
    "corpus_quality_sample": _HEX_CAST,
    "corpus_token_budget_mix": _HEX_CAST,
    "dedup_cluster_canonical": _RECURSIVE_UNION,
    "dedup_funnel": _RECURSIVE_UNION,
    "dedup_simhash": _HEX_CAST,
    "dedup_winnowing": _HEX_CAST,
    "dialect_edge_cases": (
        "HUGEINT arithmetic: HUGEINT maps to BIGINT, whose multiply overflows under ANSI"
    ),
    "emb_diversity_sample": _CORRELATED,
    "multimodal_resize": _HEX_CAST,
    "positional_join_rank_zip": "POSITIONAL JOIN: the rewriter does not translate it (parse error)",
    "streaming_interval_join": "epoch(ts - ts): the rewrite casts the INTERVAL's text to TIMESTAMP",
    "unpivot_part_measures": "UNPIVOT statement in a FROM subquery: left unrewritten, parse error",
    "unpivot_statement_measures": (
        "UNPIVOT statement in a FROM subquery: left unrewritten, parse error"
    ),
}

_CONSTANT_CHECKS = (
    "the oracle asserts its check columns as constant TRUE; the code computes them"
)
_CLOSED_FORM = (
    "the code encodes and decodes a synthesized binary; the oracle only evaluates "
    "the synthesizer's doc_id formula"
)
_STREAMING = "runs a Structured Streaming query: start, drain, stop"

# Code entries that are neither bench kernels, EXCLUDED, nor read by
# tests/test_plans.py, each with the reason its oracle text cannot stand
# in for it (registry module docstring).
KEPT_AS_CODE: dict[str, str] = {
    "ann_cosine_topk_int8": _CONSTANT_CHECKS,
    "ann_cosine_topk_pq": _CONSTANT_CHECKS,
    "ann_ivf_persistent": _CONSTANT_CHECKS,
    "dedup_bloom_membership": _CONSTANT_CHECKS,
    "dedup_semantic": _CONSTANT_CHECKS,
    "emb_pca_project": _CONSTANT_CHECKS,
    "events_qsummary_sliding_quantiles": _CONSTANT_CHECKS,
    "text_bpe_tokenize": _CONSTANT_CHECKS,
    "text_bpe_apply_ids": (
        "the code runs the BPE apply kernel over a synthesized corpus; the oracle "
        "evaluates the closed form of its token stream"
    ),
    "corpus_pack_emit": (
        "its kernel (operators/corpus.py::pack_sequences_emit) is reached only from "
        "here and the property tests; retiring both to SQL text is still open"
    ),
    "dedup_exact_substring": (
        "its kernel (operators/text.py::exact_substring_dedup) is reached only from "
        "here and tests/test_operators.py; retiring both to SQL text is still open"
    ),
    "text_compression_ratio": _CONSTANT_CHECKS,
    "multimodal_audio_rms": _CLOSED_FORM,
    "multimodal_audio_stats": _CLOSED_FORM,
    "multimodal_decode_stats": _CLOSED_FORM,
    "multimodal_frame_sample": _CLOSED_FORM,
    "multimodal_gif_decode": _CLOSED_FORM,
    "multimodal_jpeg_decode": _CLOSED_FORM,
    "multimodal_jpeg_progressive": _CLOSED_FORM,
    "multimodal_pixel_dedup": _CLOSED_FORM,
    "planned_join_segment_revenue": (
        "runs a key-sampling job before the join (operators/skew.py::plan_join); "
        "the oracle runs the plain join"
    ),
    "prepared_statement_roundtrip": "runs PREPARE, EXECUTE and DEALLOCATE as separate statements",
    "streaming_dedup": _STREAMING,
    "streaming_enrich_join": _STREAMING,
    "streaming_rollup_parquet": _STREAMING,
    "streaming_sliding_window": _STREAMING,
    "streaming_stateful_counter": _STREAMING,
    "streaming_tumbling_window": _STREAMING,
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


def test_code_entries_have_a_reason():
    """A code entry is a bench kernel, in EXCLUDED, read by
    tests/test_plans.py, or named in KEPT_AS_CODE with its reason.
    Anything else is a DataFrame copy of a query the gateway serves and
    belongs in ``register_sql``; a KEPT_AS_CODE name that is SQL text
    (or gone) is stale."""
    plans = (Path(__file__).parent / "test_plans.py").read_text()
    code = {n for n, q in Q.REGISTRY.items() if getattr(q.spark_fn, "func", None) is not gateway_sql}
    unexplained = {
        n
        for n in code
        if not Q.REGISTRY[n].bench
        and n not in EXCLUDED
        and f'"{n}"' not in plans
        and n not in KEPT_AS_CODE
    }
    assert not unexplained, sorted(unexplained)
    assert set(KEPT_AS_CODE) <= code, sorted(set(KEPT_AS_CODE) - code)
    assert all(KEPT_AS_CODE.values())
