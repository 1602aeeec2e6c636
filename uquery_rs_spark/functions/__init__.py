"""Scalar-function surface + the reference's macro catalog re-expressed.

The reference ships no function implementations of its own — the whole
scalar surface is DuckDB's dialect (reference: src/core/duckdb.rs:87-88)
plus a macro catalog inside the attached test database (reference:
tests/test.db, surveyed via duckdb_functions(); listed in SURVEY.md §2.B.7).
Here ``register_sql_macros`` registers the scalar macros for SQL texts;
the rewrite layer expands the rest.
"""

from .macros import MACRO_SQL, register_sql_macros  # noqa: F401
