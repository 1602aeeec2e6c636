"""Every registry query vs its DuckDB oracle at sf0.001 (fast mirror of
the driver's t2 gate; SURVEY.md §5 rebuild test plan)."""

from __future__ import annotations

import pytest

from uquery_rs_spark import queries as Q
from uquery_rs_spark.oracle import compare_query

from .conftest import SF_SMALL

Q.load_all()


@pytest.mark.parametrize("name", sorted(Q.REGISTRY))
def test_query_matches_oracle(name, spark, oracle_con):
    q = Q.REGISTRY[name]
    passed, detail = compare_query(spark, oracle_con, q, SF_SMALL)
    assert passed, f"{name}: {detail}"


def test_gate_rejects_non_scalar_result_columns(spark, oracle_con):
    """Registry schema lint (round-4 lesson): an oracle-backed entry whose
    result schema carries a top-level array/map/struct column must FAIL
    the gate — the driver's pandas canonicalizer raises ``unhashable
    type: 'list'`` on such cells, so the entry could never go
    driver-green even though values match. compare_query lints every
    entry before hashing; this test pins the rejection with a synthetic
    offender (the full-registry gate above proves the registry is
    clean)."""
    from uquery_rs_spark.queries.registry import Query
    from pyspark.sql import functions as F

    def bad(sp, sf):
        return sp.range(3).select("id", F.array(F.col("id"), F.col("id") + 1).alias("pair"))

    q = Query("synthetic_array_entry", bad, oracle="SELECT 1 AS x")
    passed, detail = compare_query(spark, oracle_con, q, SF_SMALL)
    assert not passed and "non-scalar" in detail, detail
