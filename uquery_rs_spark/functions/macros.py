"""The reference's macro catalog (tests/test.db) on the served path.

DuckDB macros are textual SQL expansions. Here ``fmod`` and ``fdiv``
register as session SQL functions; ``geomean`` (an aggregate) and the
dialect's list helpers expand in the rewrite layer, and ``count_if`` is
a Spark built-in (SURVEY.md §2.B.4/§2.B.7).
"""

from __future__ import annotations

from pyspark.sql import SparkSession


# SQL-text expansions for the rewrite layer (service path). Spark 4 also
# supports `CREATE TEMPORARY FUNCTION name(args) RETURNS t RETURN body`;
# these CREATE statements register the same macros session-wide so raw SQL
# arriving over HTTP can call them like the reference's attached-db macros.
MACRO_SQL: tuple[str, ...] = (
    "CREATE OR REPLACE TEMPORARY FUNCTION fmod(x DOUBLE, y DOUBLE) RETURNS DOUBLE "
    "RETURN x - y * cast(cast(x / y AS BIGINT) AS DOUBLE)",
    "CREATE OR REPLACE TEMPORARY FUNCTION fdiv(x DOUBLE, y DOUBLE) RETURNS BIGINT "
    "RETURN floor(x / y)",
)


def register_sql_macros(spark: SparkSession) -> list[str]:
    """Register the SQL-function macros; returns names that registered.

    Aggregate macros (geomean) can't be SQL scalar functions — the rewrite
    layer expands those textually instead.
    """
    registered = []
    for ddl in MACRO_SQL:
        try:
            spark.sql(ddl)
            registered.append(ddl.split("FUNCTION ", 1)[1].split("(", 1)[0])
        except Exception:
            pass  # older Spark without SQL UDF support — rewrite layer covers it
    return registered
