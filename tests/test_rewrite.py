"""SQL-rewrite layer unit tests (path tables, TVFs, sandbox, dialect)."""

from __future__ import annotations

import os
import re
import threading

import pytest

from uquery_rs_spark.errors import UQueryError
from uquery_rs_spark.rewrite import SqlRewriter

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


@pytest.fixture
def rw(spark):
    return SqlRewriter(spark, allowed_dirs=[FIXTURES])


def test_path_table_registers_view(spark, rw):
    sql = rw.rewrite(f"SELECT count(*) AS n FROM '{FIXTURES}/test.csv'")
    assert "uq_file_" in sql and ".csv" not in sql
    assert spark.sql(sql).collect()[0].n == 2


def test_same_path_reuses_view(rw):
    a = rw.rewrite(f"SELECT * FROM '{FIXTURES}/test.csv'")
    b = rw.rewrite(f"SELECT * FROM '{FIXTURES}/test.csv'")
    assert a == b


def test_join_of_two_path_tables(spark, rw):
    sql = rw.rewrite(
        f"SELECT count(*) AS n FROM '{FIXTURES}/test.csv' a "
        f"JOIN '{FIXTURES}/test.jsonl' b ON a.f_int = b.f_int"
    )
    assert spark.sql(sql).collect()[0].n == 2


def test_read_csv_tvf_with_options(spark, rw):
    sql = rw.rewrite(f"SELECT * FROM read_csv('{FIXTURES}/test.csv', header=true, delim=',')")
    assert spark.sql(sql).count() == 2


def test_string_literal_not_rewritten(rw):
    sql = rw.rewrite("SELECT 'x.parquet' AS name")
    assert sql == "SELECT 'x.parquet' AS name"


def test_sandbox_denies_outside_path(rw):
    with pytest.raises(UQueryError) as ei:
        rw.rewrite("SELECT * FROM '/etc/shadow.csv'")
    assert ei.value.status == 400


def test_forbidden_statements(rw):
    for sql in ["SET x=1", "INSTALL httpfs", "LOAD httpfs", "ATTACH 'f.db'", "CREATE SECRET s"]:
        with pytest.raises(UQueryError):
            rw.rewrite(sql)


def test_json_arrow_operator(spark, rw):
    spark.createDataFrame([('{"k": 7}',)], "props string").createOrReplaceTempView("t_arrow")
    sql = rw.rewrite("SELECT props->>'k' AS v FROM t_arrow")
    assert "get_json_object" in sql
    assert spark.sql(sql).collect()[0].v == "7"


def test_geomean_macro_expansion(spark, rw):
    # batch-9: geomean is handled by _rewrite_agg_semantics (DOUBLE
    # cast matches DuckDB's double result for decimal inputs)
    sql = rw.rewrite("SELECT geomean(x) AS g FROM (VALUES (1.0), (4.0)) t(x)")
    # (exact text untested since batch 28 — the avg pass adds its own
    # DOUBLE cast on top of the macro's; round 7's poly-probed avg may
    # parenthesize the resolved aggregate)
    assert re.search(r"exp\(+avg\(", sql) and "ln(CAST((x) AS DOUBLE))" in sql
    assert abs(spark.sql(sql).collect()[0].g - 2.0) < 1e-9


def test_nested_geomean_parens(spark, rw):
    sql = rw.rewrite("SELECT geomean(abs(x) + (1 - 1)) AS g FROM (VALUES (2.0), (8.0)) t(x)")
    assert abs(spark.sql(sql).collect()[0].g - 4.0) < 1e-9


def test_qualify_rewrite(spark, rw):
    sql = rw.rewrite(
        "SELECT x, g FROM (VALUES (1,'a'),(2,'a'),(3,'b')) t(x, g) "
        "QUALIFY row_number() OVER (PARTITION BY g ORDER BY x DESC) = 1 "
        "ORDER BY g"
    )
    assert "qualify" not in sql.lower().replace("uq_qualify", "")
    rows = spark.sql(sql).collect()
    assert [(r.x, r.g) for r in rows] == [(2, "a"), (3, "b")]


def test_qualify_with_cte_prefix(spark, rw):
    sql = rw.rewrite(
        "WITH t AS (SELECT * FROM (VALUES (1,'a'),(2,'a')) v(x, g)) "
        "SELECT x FROM t QUALIFY rank() OVER (ORDER BY x) = 1"
    )
    assert spark.sql(sql).collect()[0].x == 1


def test_qualify_inside_string_untouched(rw):
    sql = "SELECT 'no QUALIFY here' AS s"
    assert rw.rewrite(sql) == sql


def test_summarize_path_table(spark, rw):
    sql = rw.rewrite(f"SUMMARIZE '{FIXTURES}/test.zstd.parquet'")
    rows = {r.column_name: r for r in spark.sql(sql).collect()}
    assert set(rows) == {"f_str", "f_int", "f_float"}
    fi = rows["f_int"]
    assert fi.column_type == "bigint" and float(fi.null_percentage) == 0.0
    assert fi.min == "123" and fi.max == "789" and fi["count"] == 2
    assert fi.avg == 456.0  # bigint gets numeric stats
    assert rows["f_str"].avg is None  # non-numeric: numeric stats NULL


def test_summarize_subquery(spark, rw):
    sql = rw.rewrite("SUMMARIZE (SELECT 1 AS a UNION ALL SELECT NULL)")
    r = spark.sql(sql).collect()[0]
    assert r.column_name == "a" and r["count"] == 2 and float(r.null_percentage) == 50.0


def test_path_table_inside_subquery(spark, rw):
    sql = rw.rewrite(f"SELECT * FROM (SELECT * FROM '{FIXTURES}/test.csv') t")
    assert spark.sql(sql).count() == 2


def test_excel_path_table_scans_natively(spark, rw, tmp_path):
    # round 3: .xlsx parses natively (sources/excel.py); round 4 adds
    # legacy .xls (sources/xls.py) — both as plain path tables
    sql = rw.rewrite(f"SELECT * FROM '{FIXTURES}/book.xlsx'")
    assert spark.sql(sql).count() == 3

    from uquery_rs_spark.rewrite import SqlRewriter

    from .xls_fixture import build_xls

    p = tmp_path / "legacy.xls"
    p.write_bytes(build_xls({"s": [["v"], [1], [2]]}))
    rw2 = SqlRewriter(spark, allowed_dirs=[str(tmp_path)])
    assert spark.sql(rw2.rewrite(f"SELECT * FROM '{p}'")).count() == 2


def test_int_div_rewrite(spark, rw):
    import duckdb

    assert spark.sql(rw.rewrite("SELECT 7 // 2 AS q, -7 // 2 AS nq")).collect()[0][:] == (3, -3)
    # a divisor the ÷0 pass cannot scan as an atom (unary minus then a
    # space, bitwise NOT) reaches the int_div pass: a plain Spark `div`
    for sql in ["SELECT 7 // - 2 AS v", "SELECT -7 // ~2 AS v"]:
        out = rw.rewrite(sql)
        assert " div " in out and "nullif" not in out, out
        assert spark.sql(out).collect()[0].v == duckdb.sql(sql).fetchall()[0][0], sql


def test_int_div_skips_string_literals(rw):
    out = rw.rewrite("SELECT 'https://x//y' AS u, 9 // 4 AS q")
    assert "'https://x//y'" in out and " div " in out


def test_distinct_on_rewrite(spark, rw):
    rows = spark.sql(
        rw.rewrite(
            "SELECT DISTINCT ON (seg) seg, name FROM (VALUES ('a', 'x1'), ('a', 'x2'), "
            "('b', 'y2'), ('b', 'y1')) t(seg, name) ORDER BY seg, name"
        )
    ).collect()
    assert [(r.seg, r.name) for r in rows] == [("a", "x1"), ("b", "y1")]


def test_distinct_on_with_limit(spark, rw):
    rows = spark.sql(
        rw.rewrite(
            "SELECT DISTINCT ON (seg) seg, name FROM (VALUES ('a', 'x1'), ('a', 'x2'), "
            "('b', 'y1')) t(seg, name) ORDER BY seg DESC, name LIMIT 1"
        )
    ).collect()
    assert [(r.seg, r.name) for r in rows] == [("b", "y1")]


def test_using_sample_rows(spark, rw):
    spark.range(1000).createOrReplaceTempView("uq_sample_src")
    n = spark.sql(
        rw.rewrite("SELECT count(*) AS n FROM (SELECT * FROM uq_sample_src USING SAMPLE 50 ROWS) t")
    ).collect()[0].n
    assert n == 50


def test_using_sample_percent_with_seed(rw):
    out = rw.rewrite("SELECT * FROM t USING SAMPLE 10% (bernoulli, 42)")
    assert "t TABLESAMPLE (10 PERCENT) REPEATABLE (42)" in out


def test_using_sample_alias_hoisted(rw):
    out = rw.rewrite("SELECT o.x FROM orders o USING SAMPLE 100 ROWS")
    assert "orders TABLESAMPLE (100 ROWS) o" in out


def test_using_sample_bare_number_is_rows(rw):
    assert "TABLESAMPLE (25 ROWS)" in rw.rewrite("SELECT * FROM t USING SAMPLE 25")


def test_exclude_rewrite(spark, rw):
    rows = spark.sql(
        rw.rewrite("SELECT * EXCLUDE (b) FROM (SELECT 1 AS a, 2 AS b, 3 AS c)")
    ).collect()
    assert rows[0].asDict() == {"a": 1, "c": 3}


def test_exclude_single_no_parens(spark, rw):
    rows = spark.sql(
        rw.rewrite("SELECT * EXCLUDE b FROM (SELECT 1 AS a, 2 AS b)")
    ).collect()
    assert rows[0].asDict() == {"a": 1}


def test_bracket_list_literal_and_index(spark, rw):
    row = spark.sql(
        rw.rewrite("SELECT [10, 20, 30][2] AS v, [1, 2][-1] AS w, [5][0] AS z")
    ).collect()[0]
    assert (row.v, row.w, row.z) == (20, 2, None)


def test_bracket_slice_forms(spark, rw):
    row = spark.sql(
        rw.rewrite(
            "SELECT l[2:4] AS mid, l[:3] AS head, l[3:] AS tail, l[-2:] AS last2 "
            "FROM (SELECT [10, 20, 30, 40, 50] AS l)"
        )
    ).collect()[0]
    assert row.mid == [20, 30, 40] and row.head == [10, 20, 30]
    assert row.tail == [30, 40, 50] and row.last2 == [40, 50]


def test_bracket_comprehension(spark, rw):
    row = spark.sql(
        rw.rewrite("SELECT [x * 2 FOR x IN [1, 2, 3, 4] IF x > 2] AS d")
    ).collect()[0]
    assert row.d == [6, 8]


def test_bracket_negative_slice_ends(spark, rw):
    row = spark.sql(
        rw.rewrite(
            "SELECT l[2:-1] AS a, l[-3:-1] AS b, l[:-2] AS c, l[4:2] AS d "
            "FROM (SELECT [10, 20, 30, 40, 50] AS l)"
        )
    ).collect()[0]
    assert row.a == [20, 30, 40, 50] and row.b == [30, 40, 50]
    assert row.c == [10, 20, 30, 40] and row.d == []


def test_len_polymorphic(spark, rw):
    row = spark.sql(
        rw.rewrite("SELECT len('héllo') AS s, len([1, 2, 3]) AS l, len(s || 'x') AS c "
                   "FROM (SELECT 'ab' AS s)")
    ).collect()[0]
    assert (row.s, row.l, row.c) == (5, 3, 3)


def test_map_literal_computed_key_subscript(spark, rw):
    row = spark.sql(
        rw.rewrite("SELECT MAP {1 + 1: 'a', 5: 'b'}[2] AS hit, MAP {1 + 1: 'a'}[9] AS miss")
    ).collect()[0]
    # DuckDB map[k] yields a single-element LIST, [] on a missing key
    assert row.hit == ["a"] and row.miss == []


def test_bracket_map_string_key(spark, rw):
    # batch 25: map subscripts return DuckDB's single-element LIST
    # (the uq_polymap probe dispatch — the old scalar was a deviation)
    row = spark.sql(
        rw.rewrite("SELECT m['k'] AS v FROM (SELECT map('k', 7) AS m)")
    ).collect()[0]
    assert list(row.v) == [7]
    row = spark.sql(
        rw.rewrite("SELECT m['k'][1] AS v FROM (SELECT map('k', 7) AS m)")
    ).collect()[0]
    assert row.v == 7


def test_function_renames(spark, rw):
    row = spark.sql(
        rw.rewrite(
            "SELECT list_distinct(string_split('a.b.a', '.')) AS u, "
            "regexp_matches('xredy', 'red') AS m, "
            "array_to_string([1, 2], '-') AS j"
        )
    ).collect()[0]
    assert sorted(row.u) == ["a", "b"] and row.m is True and row.j == "1-2"


def test_function_rename_skips_string_literals(rw):
    out = rw.rewrite("SELECT 'call list_sort(x) here' AS s, list_sort(l) AS t FROM v")
    assert "'call list_sort(x) here'" in out and "array_sort(l)" in out


def test_literal_escape_space(spark, rw):
    # DuckDB literals are escape-free: '\w' must reach the regex engine
    # as backslash-w, not be eaten by Spark's parser
    row = spark.sql(rw.rewrite(r"SELECT '\w' AS a, E'a\tb' AS b")).collect()[0]
    assert row.a == "\\w" and row.b == "a\tb"


def test_regexp_replace_first_match_and_flags(spark, rw):
    row = spark.sql(
        rw.rewrite(
            r"SELECT regexp_replace('aaa', 'a', 'b') AS first_only, "
            r"regexp_replace('aaa', 'a', 'b', 'g') AS global, "
            r"regexp_replace('AaA', 'a', 'b', 'i') AS ci_first, "
            r"regexp_replace('one two', '(\w+) (\w+)', '\2 \1') AS backrefs, "
            r"regexp_replace('price', 'p', '$') AS dollar_lit, "
            r"regexp_replace('one', '(\w+)', '[\0]') AS whole_ref"
        )
    ).collect()[0]
    assert (row[0], row[1], row[2], row[3], row[4], row[5]) == (
        "baa", "bbb", "baA", "two one", "$rice", "[one]"
    )


def test_regexp_extract_whole_match_default(spark, rw):
    row = spark.sql(
        rw.rewrite(
            r"SELECT regexp_extract('FOO bar', '[A-Z]+ \w+') AS whole, "
            r"regexp_extract('FOO bar', '([A-Z])([A-Z]+)', 2) AS grp"
        )
    ).collect()[0]
    assert row.whole == "FOO bar" and row.grp == "OO"


def test_list_sort_null_placement(spark, rw):
    row = spark.sql(
        rw.rewrite(
            "SELECT list_sort([3, NULL, 1]) AS asc, "
            "list_sort([3, NULL, 1], 'DESC') AS desc, "
            "list_sort([3, NULL, 1], 'ASC', 'NULLS FIRST') AS asc_nf, "
            "list_sort([3, NULL, 1], 'DESC', 'NULLS FIRST') AS desc_nf, "
            "list_reverse_sort([3, NULL, 1]) AS rev"
        )
    ).collect()[0]
    # verified against DuckDB: NULLs last in every default ordering
    assert row[0] == [1, 3, None] and row[1] == [3, 1, None]
    assert row[2] == [None, 1, 3] and row[3] == [None, 3, 1]
    assert row[4] == [3, 1, None]


def test_cast_fractional_rounds_like_duckdb(spark, rw):
    # DuckDB rounds half away from zero on fractional→integral casts;
    # Spark truncates — the rewrite wraps round() exactly when the
    # operand probes fractional
    row = spark.sql(
        rw.rewrite(
            "SELECT CAST(2.5 AS BIGINT) AS a, CAST(-2.5 AS BIGINT) AS b, "
            "TRY_CAST(7.5 AS TINYINT) AS c, CAST('12' AS BIGINT) AS s, "
            "CAST(true AS BIGINT) AS bl"
        )
    ).collect()[0]
    assert (row.a, row.b, row.c, row.s, row.bl) == (3, -3, 8, 12, 1)


def test_colon_cast_and_type_renames(spark, rw):
    row = spark.sql(
        rw.rewrite(
            "SELECT 2.5::BIGINT AS a, '2026-01-01'::DATE AS d, "
            "'x'::TEXT AS t, CAST(9 AS HUGEINT) AS h, 300::INT4 AS i"
        )
    ).collect()[0]
    import datetime

    assert (row.a, row.d, row.t, row.h, row.i) == (3, datetime.date(2026, 1, 1), "x", 9, 300)


def test_array_to_string_empty_is_null(spark, rw):
    row = spark.sql(
        rw.rewrite(
            "SELECT array_to_string([], ',') AS empty, "
            "array_to_string(['a', NULL, 'b'], '-') AS skips_nulls"
        )
    ).collect()[0]
    assert row.empty is None and row.skips_nulls == "a-b"


def test_struct_pack_rewrite(spark, rw):
    row = spark.sql(
        rw.rewrite("SELECT struct_pack(a := 1, b := struct_pack(c := 'x')) AS s")
    ).collect()[0]
    assert row.s.a == 1 and row.s.b.c == "x"


def test_generate_series_scalar(spark, rw):
    assert spark.sql(rw.rewrite("SELECT generate_series(1, 4) AS g")).collect()[0].g == [1, 2, 3, 4]


def test_generate_series_from_position(spark, rw):
    rows = spark.sql(
        rw.rewrite("SELECT generate_series * 2 AS v FROM generate_series(2, 6, 2)")
    ).collect()
    assert [r.v for r in rows] == [4, 8, 12]


def test_map_literal_rewrite(spark, rw):
    row = spark.sql(
        rw.rewrite("SELECT MAP {'a': 1, 'b': 2}['b'] AS v, MAP {'a': 1, 'b': 2}['b'][1] AS u")
    ).collect()[0]
    # matches DuckDB: the map lookup is a one-element list, [1] unwraps
    assert row.v == [2] and row.u == 2


def test_string_agg_order_by(spark, rw):
    row = spark.sql(
        rw.rewrite(
            "SELECT string_agg(x, '-' ORDER BY x DESC) AS s "
            "FROM (SELECT 'a' AS x UNION ALL SELECT 'c' UNION ALL SELECT 'b')"
        )
    ).collect()[0]
    assert row.s == "c-b-a"


def test_plain_string_agg_untouched(rw):
    out = rw.rewrite("SELECT string_agg(x, ',') FROM t")
    assert "string_agg(x, ',')" in out


def test_star_replace(spark, rw):
    row = spark.sql(
        rw.rewrite("SELECT * REPLACE (a * 10 AS a) FROM (SELECT 1 AS a, 2 AS b)")
    ).collect()[0]
    assert row.asDict() == {"a": 10, "b": 2}


def test_star_replace_multi(spark, rw):
    row = spark.sql(
        rw.rewrite(
            "SELECT * REPLACE (upper(s) AS s, n + 1 AS n) FROM (SELECT 'x' AS s, 1 AS n, 9 AS k)"
        )
    ).collect()[0]
    assert row.asDict() == {"s": "X", "n": 2, "k": 9}


def test_strftime_rewrite(spark, rw):
    row = spark.sql(
        rw.rewrite("SELECT strftime(CAST('2026-08-13 07:05:00' AS TIMESTAMP_NTZ), '%Y/%m/%d %H:%M') AS f")
    ).collect()[0]
    assert row.f == "2026/08/13 07:05"


def test_strptime_rewrite(spark, rw):
    row = spark.sql(
        rw.rewrite("SELECT strptime('13-08-2026', '%d-%m-%Y') AS t")
    ).collect()[0]
    assert (row.t.year, row.t.month, row.t.day) == (2026, 8, 13)


def test_pivot_statement(spark, rw):
    spark.sql(
        "SELECT * FROM (VALUES ('a', 'x', 1), ('a', 'y', 2), ('b', 'x', 3)) v(g, p, n)"
    ).createOrReplaceTempView("uq_pivot_src")
    rows = spark.sql(
        rw.rewrite("PIVOT uq_pivot_src ON p USING sum(n) GROUP BY g ORDER BY g")
    ).collect()
    assert [tuple(r) for r in rows] == [("a", 1, 2), ("b", 3, None)]
    assert rows[0].__fields__ == ["g", "x", "y"]


def test_pivot_statement_over_quoted_path(spark, rw):
    """Statement-form PIVOT accepts a quoted PATH as its table (the
    bare-identifier charset used to cut the path at '/' and resolve an
    empty string)."""
    from .conftest import SF_SMALL
    from uquery_rs_spark.rewrite import SqlRewriter

    rw_td = SqlRewriter(spark, allowed_dirs=[SF_SMALL])
    rows = spark.sql(
        rw_td.rewrite(f"PIVOT '{SF_SMALL}/region.parquet' ON r_name USING count(*)")
    ).collect()
    # round 9: implicit grouping by the remaining column (r_regionkey)
    # — 5 rows with count 0/1 fills, exactly DuckDB's shape
    assert len(rows) == 5 and sorted(rows[0].__fields__) == [
        "AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST", "r_regionkey",
    ]
    assert {tuple(sorted((k, v) for k, v in r.asDict().items())) for r in rows} == {
        tuple(sorted([("r_regionkey", k), ("AFRICA", int(n == "AFRICA")),
                      ("AMERICA", int(n == "AMERICA")), ("ASIA", int(n == "ASIA")),
                      ("EUROPE", int(n == "EUROPE")),
                      ("MIDDLE EAST", int(n == "MIDDLE EAST"))]))
        for k, n in [(0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"),
                     (3, "EUROPE"), (4, "MIDDLE EAST")]
    }


def test_pivot_probe_cached_per_source(spark, rw):
    """The PIVOT value-discovery probe (a real Spark job at rewrite time)
    runs once per (table, col) per rewriter session; repeated pivots of
    the same source reuse the cached value list."""
    spark.sql(
        "SELECT * FROM (VALUES ('a', 'x', 1), ('a', 'y', 2)) v(g, p, n)"
    ).createOrReplaceTempView("uq_pivot_cache_src")
    stmt = "PIVOT uq_pivot_cache_src ON p USING sum(n) GROUP BY g"
    first = rw.rewrite(stmt)
    key = next(k for k in rw._pivot_vals if k[1] == "p" and "cache" in k[0])
    rw._pivot_vals[key] = list(rw._pivot_vals[key])  # sentinel identity
    sentinel = rw._pivot_vals[key]
    assert rw.rewrite(stmt) == first
    assert rw._pivot_vals[key] is sentinel  # not re-probed/replaced


def test_pivot_statement_aliased_agg(spark, rw):
    spark.sql(
        "SELECT * FROM (VALUES ('a', 'x', 1), ('b', 'y', 2)) v(g, p, n)"
    ).createOrReplaceTempView("uq_pivot_src2")
    rows = spark.sql(
        rw.rewrite("PIVOT uq_pivot_src2 ON p USING sum(n) AS total GROUP BY g ORDER BY g")
    ).collect()
    assert rows[0].__fields__ == ["g", "x_total", "y_total"]


def test_pivot_statement_count_star(spark, rw):
    spark.sql(
        "SELECT * FROM (VALUES ('a', 'x'), ('a', 'x'), ('a', 'y')) v(g, p)"
    ).createOrReplaceTempView("uq_pivot_src3")
    rows = spark.sql(
        rw.rewrite("PIVOT uq_pivot_src3 ON p USING count(*) GROUP BY g")
    ).collect()
    assert [tuple(r) for r in rows] == [("a", 2, 1)]


def test_unpivot_statement(spark, rw):
    spark.sql(
        "SELECT * FROM (VALUES (1, 10.0, 20.0)) v(id, m1, m2)"
    ).createOrReplaceTempView("uq_unpivot_src")
    rows = spark.sql(
        rw.rewrite("UNPIVOT uq_unpivot_src ON m1, m2 INTO NAME metric VALUE val ORDER BY metric")
    ).collect()
    assert [(r.id, r.metric, r.val) for r in rows] == [(1, "m1", 10.0), (1, "m2", 20.0)]


def test_union_by_name(spark, rw):
    rows = spark.sql(
        rw.rewrite(
            "SELECT 1 AS a, 2 AS b UNION ALL BY NAME SELECT 30 AS c, 10 AS a ORDER BY a"
        )
    ).collect()
    assert rows[0].__fields__ == ["a", "b", "c"]
    assert [tuple(r) for r in rows] == [(1, 2, None), (10, None, 30)]


def test_union_by_name_distinct_chain(spark, rw):
    rows = spark.sql(
        rw.rewrite(
            "SELECT 1 AS a UNION BY NAME SELECT 1 AS a UNION BY NAME SELECT 2 AS b ORDER BY a NULLS FIRST"
        )
    ).collect()
    assert [tuple(r) for r in rows] == [(None, 2), (1, None)]


def test_from_first_bare(spark, rw):
    rows = spark.sql(rw.rewrite("FROM (SELECT 1 AS a, 2 AS b)")).collect()
    assert rows[0].asDict() == {"a": 1, "b": 2}


def test_from_first_with_select(spark, rw):
    rows = spark.sql(
        rw.rewrite("FROM (SELECT 1 AS a, 2 AS b) SELECT b * 10 AS bb")
    ).collect()
    assert rows[0].bb == 20


def test_from_first_where_and_order(spark, rw):
    spark.range(5).createOrReplaceTempView("uq_ff_src")
    rows = spark.sql(
        rw.rewrite("FROM uq_ff_src WHERE id >= 2 SELECT id * 2 AS d ORDER BY d DESC")
    ).collect()
    assert [r.d for r in rows] == [8, 6, 4]


def test_from_first_path_table(spark, rw):
    out = rw.rewrite("FROM 'tests/fixtures/test.csv' SELECT f_int")
    assert out.lower().startswith("select f_int from uq_file_")


def test_from_first_group_by_after_select(spark, rw):
    spark.sql("SELECT * FROM (VALUES ('a'), ('a'), ('b')) v(g)").createOrReplaceTempView("uq_ff2")
    rows = spark.sql(
        rw.rewrite("FROM uq_ff2 SELECT g, count(*) AS n GROUP BY g ORDER BY g")
    ).collect()
    assert [(r.g, r.n) for r in rows] == [("a", 2), ("b", 1)]


def test_columns_regex(spark, rw):
    rows = spark.sql(
        rw.rewrite("SELECT COLUMNS('^f_') FROM (SELECT 1 AS f_a, 2 AS f_b, 3 AS g)")
    ).collect()
    assert rows[0].asDict() == {"f_a": 1, "f_b": 2}


def test_columns_regex_wrapped_agg(spark, rw):
    rows = spark.sql(
        rw.rewrite(
            "SELECT max(COLUMNS('^v')) FROM (SELECT 1 AS v1, 9 AS v2 UNION ALL SELECT 5, 2)"
        )
    ).collect()
    assert rows[0].asDict() == {"v1": 5, "v2": 9}


def test_e_literal_decode_matches_duckdb(spark, rw):
    import duckdb

    cases = [r"E'\x41\x42'", r"E'\101\102'", r"E'a''b'", r"E'\w\8'", r"E'\x4'",
             r"E'tab\there'", r"E'\\d+'",
             # backslash-escaped quote: the literal scanner must not
             # terminate at \' (PostgreSQL/DuckDB E-string lexing)
             r"E'it\'s ok'", r"E'a\'b\'c'"]
    con = duckdb.connect()
    exprs = ", ".join(f"{c} AS c{i}" for i, c in enumerate(cases))
    duck = con.sql(f"SELECT {exprs}").fetchall()[0]
    got = spark.sql(rw.rewrite(f"SELECT {exprs}")).collect()[0]
    assert tuple(got) == duck


def test_orc_path_as_table(spark, tmp_path):
    orc = str(tmp_path / "t.orc")
    spark.range(5).selectExpr("id AS k", "id * 2 AS v").write.orc(orc)
    rw2 = SqlRewriter(spark, allowed_dirs=[str(tmp_path)])
    rows = spark.sql(rw2.rewrite(f"SELECT sum(v) AS s FROM '{orc}'")).collect()
    assert rows[0].s == 20


def test_gap_hunt_rewrites(spark, rw):
    """Round-5 dialect gap closures: each idiom translates and evaluates
    to DuckDB's documented result."""
    cases = {
        "SELECT list_aggregate([1,2,3], 'sum') AS v": 6,
        "SELECT list_aggregate([1,NULL,3], 'count') AS v": 2,
        "SELECT list_reduce([1,2,3,4], (a,b) -> a + b) AS v": 10,
        "SELECT list_slice([1,2,3,4,5], 2, 4)[1] AS v": 2,
        "SELECT size(range(5, 2)) AS v": 0,       # exclusive stop, empty
        "SELECT range(5, 0, -2)[2] AS v": 3,      # negative step
        "SELECT format('{1}-{0}', 'x', 'y') AS v": "y-x",
        "SELECT date_diff('month', DATE '2024-01-31', DATE '2024-02-01') AS v": 1,
        "SELECT date_diff('hour', TIMESTAMP '2024-01-01 10:59:00', "
        "TIMESTAMP '2024-01-01 11:01:00') AS v": 1,  # boundary, not elapsed
        "SELECT {'p': {'q': 7}}.p.q AS v": 7,
    }
    for sql, want in cases.items():
        got = spark.sql(rw.rewrite(sql)).collect()[0].v
        assert got == want, f"{sql}: {got!r} != {want!r}"


def test_gap_hunt_unsupported_raise(rw):
    """Untranslatable forms raise instead of mistranslating."""
    import pytest as _pytest
    from uquery_rs_spark.errors import UQueryError

    # (format('{:.2f}') graduated to a supported translation in the
    # batch-28 format-spec sweep; the fmt/Java disagreements still raise)
    for sql in (
        "SELECT list_aggregate([1], 'histogram')",
        "SELECT format('{:^8}', 1.0)",
        "SELECT format('{:g}', 1.0)",
        "SELECT date_diff('era', DATE '2024-01-01', DATE '2024-01-02')",
    ):
        with _pytest.raises(UQueryError):
            rw.rewrite(sql)


def test_gap_hunt_batch2(spark, rw):
    cases = {
        "SELECT arg_max(x, y) AS v FROM (VALUES ('a', 1), ('b', 2)) t(x, y)": "b",
        "SELECT quantile_disc(x, 0.5) AS v FROM (VALUES (1.0), (2.0), (10.0)) t(x)": 2.0,
        "SELECT round(product(x), 2) AS v FROM (VALUES (-2.0), (3.0), (-4.0)) t(x)": 24.0,
        "SELECT round(product(x), 2) AS v FROM (VALUES (0.0), (3.0)) t(x)": 0.0,
        "SELECT epoch(TIMESTAMP '2024-01-01 00:00:00.5') AS v": 1704067200.5,
        "SELECT dayname(DATE '2024-01-01') AS v": "Monday",
        "SELECT 42::VARCHAR AS v": "42",
        "SELECT unicode('A') AS v": 65,
    }
    for sql, want in cases.items():
        got = spark.sql(rw.rewrite(sql)).collect()[0].v
        assert got == want, f"{sql}: {got!r} != {want!r}"
    # time_bucket floors to the bucket start (15-min bucket of 10:38)
    b = spark.sql(
        rw.rewrite(
            "SELECT time_bucket(INTERVAL 15 MINUTE, TIMESTAMP '2024-01-01 10:38:00') AS v"
        )
    ).collect()[0].v
    assert (b.hour, b.minute) == (10, 30)
    # week+ buckets raise (DuckDB aligns them to 2000-01-03, we don't)
    import pytest as _pytest
    from uquery_rs_spark.errors import UQueryError

    with _pytest.raises(UQueryError):
        rw.rewrite("SELECT time_bucket(INTERVAL 1 WEEK, ts) FROM t")


def test_similar_to_glob_trailing_comma(spark, rw):
    """Sweep batch 3: SIMILAR TO / GLOB operators and DuckDB's tolerated
    trailing SELECT comma, end-to-end through the rewriter."""
    spark.sql("SELECT * FROM (VALUES ('ASIA'), ('EUROPE')) v(n)").createOrReplaceTempView(
        "uq_sim_src"
    )
    cases = {
        "SELECT count(*) AS v FROM uq_sim_src WHERE n SIMILAR TO 'A.*'": 1,
        "SELECT count(*) AS v FROM uq_sim_src WHERE n NOT SIMILAR TO '.*A.*'": 1,
        "SELECT count(*) AS v FROM uq_sim_src WHERE n GLOB '?SIA'": 1,
        "SELECT count(*) AS v FROM uq_sim_src WHERE n GLOB 'E*'": 1,
        "SELECT n, FROM uq_sim_src WHERE n = 'ASIA'": "ASIA",  # trailing comma
    }
    for sql, want in cases.items():
        got = spark.sql(rw.rewrite(sql)).collect()[0][0]
        assert got == want, f"{sql}: {got!r} != {want!r}"
    # literals are never touched
    s = "SELECT 'x similar to y, from z' AS s"
    assert rw.rewrite(s) == s
    # GLOB bracket classes graduated to a regex translation in round 6
    # (commit 8f69c2b); assert the translated semantics, not a raise.
    bracket_cases = {
        "SELECT count(*) AS v FROM uq_sim_src WHERE n GLOB '[AE]*'": 2,
        "SELECT count(*) AS v FROM uq_sim_src WHERE n GLOB '[A]SIA'": 1,
        "SELECT count(*) AS v FROM uq_sim_src WHERE n GLOB '[!AE]*'": 0,
    }
    for sql, want in bracket_cases.items():
        got = spark.sql(rw.rewrite(sql)).collect()[0][0]
        assert got == want, f"{sql}: {got!r} != {want!r}"


def test_round5_passes_ignore_string_literals(rw):
    """Every round-5 pass must skip trigger words inside string literals
    (the _search_code contract), including the trailing-comma stripper."""
    s = ("SELECT 'product(x) range(1,2) epoch(t) time_bucket(i, t) x similar to y "
         "glob z date_diff(''day'', a, b) quantile(x, 0.5) list_reduce(l, f) "
         "arg_max(a, b) dayname(d), from t' AS s")
    assert rw.rewrite(s) == s


def test_gap_hunt_batch4_json_isoweek(spark, rw):
    cases = {
        """SELECT json_extract('{"a": {"b": 7}}', '$.a.b') AS v""": "7",
        """SELECT json_extract('{"a": "x"}', '$.a') AS v""": '"x"',  # JSON quoting kept
        """SELECT json_extract('{"a": {"b": 7}}', '/a/b') AS v""": "7",  # JSONPointer
        """SELECT json_extract_string('{"a": "x"}', '$.a') AS v""": "x",
        """SELECT '{"a": 5}'->>'a' AS v""": "5",  # literal left operand
        """SELECT json_valid('nope{') AS v""": False,
        """SELECT json_keys('{"a":1,"b":2}')[1] AS v""": "a",
        "SELECT isodow(DATE '2024-01-07') AS v": 7,  # Sunday, ISO
        "SELECT isodow(DATE '2024-01-01') AS v": 1,  # Monday
        "SELECT yearweek(DATE '2024-01-01') AS v": 202401,
        "SELECT century(DATE '2024-06-01') AS v": 21,
        "SELECT string_to_array('a,b', ',')[1] AS v": "a",
    }
    for sql, want in cases.items():
        got = spark.sql(rw.rewrite(sql)).collect()[0].v
        assert got == want, f"{sql}: {got!r} != {want!r}"
    # interval constructors compose with date arithmetic
    t = spark.sql(
        rw.rewrite("SELECT TIMESTAMP '2024-01-01 00:00:00' + to_hours(3) AS v")
    ).collect()[0].v
    assert (t.day, t.hour) == (1, 3)


def test_gap_hunt_batch5_strings(spark, rw):
    cases = {
        "SELECT sha256('abc') AS v": (
            "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad"
        ),
        "SELECT CAST(from_base64('YWI=') AS VARCHAR) AS v": "ab",
        "SELECT regexp_split_to_array('a1b22c', '[0-9]+')[2] AS v": "b",
        "SELECT string_split_regex('a b  c', ' +')[3] AS v": "c",
        "SELECT starts_with('abc', 'ab') AS v": True,
        "SELECT suffix('abc', 'bc') AS v": True,
        "SELECT ltrim('xxay', 'x') AS v": "ay",  # Spark's own 2-arg swaps args
        "SELECT rtrim('axyy', 'y') AS v": "ax",
        "SELECT ltrim('  a ') AS v": "a ",  # 1-arg untouched
        "SELECT ord('A') AS v": 65,
    }
    for sql, want in cases.items():
        got = spark.sql(rw.rewrite(sql)).collect()[0].v
        assert got == want, f"{sql}: {got!r} != {want!r}"


def test_gap_hunt_batch6_quantified_and_structs(spark, rw):
    cases = {
        "SELECT array_to_string(list_sort(list(x)), ',') AS v FROM (VALUES ('b'),('a')) t(x)": "a,b",
        "SELECT count(*) AS v FROM (VALUES (1),(2),(4)) t(x) WHERE x = ANY([1, 4])": 2,
        "SELECT count(*) AS v FROM (VALUES (1),(2),(4)) t(x) WHERE x < ALL([5, 9])": 3,
        "SELECT count(*) AS v FROM (VALUES (1),(2)) t(x) WHERE x = ANY(SELECT 2)": 1,
        "SELECT count(*) AS v FROM (VALUES (1),(2)) t(x) WHERE x <> ALL(SELECT 9)": 2,
        "SELECT struct_extract({'a': 7}, 'a') AS v": 7,
        "SELECT first(x ORDER BY y) AS v FROM (VALUES ('lo', 1), ('hi', 9)) t(x, y)": "lo",
        "SELECT last(x ORDER BY y) AS v FROM (VALUES ('lo', 1), ('hi', 9)) t(x, y)": "hi",
        "SELECT first(x ORDER BY y DESC) AS v FROM (VALUES ('lo', 1), ('hi', 9)) t(x, y)": "hi",
        "SELECT list_has_all([1,2,3], [2,3]) AS v": True,
        "SELECT list_has_any([1,2], [5]) AS v": False,
        "SELECT divide(7, 2) AS v": 3,
        "SELECT xor(5, 3) AS v": 6,
        "SELECT list_element([10,20], 2) AS v": 20,
    }
    for sql, want in cases.items():
        got = spark.sql(rw.rewrite(sql)).collect()[0].v
        assert got == want, f"{sql}: {got!r} != {want!r}"
    # unsupported op+subquery combination raises, never mistranslates
    import pytest as _pytest
    from uquery_rs_spark.errors import UQueryError

    with _pytest.raises(UQueryError):
        rw.rewrite("SELECT 1 FROM t WHERE x > ALL(SELECT y FROM u)")


def test_gap_hunt_batch7_windows_and_functions(spark, rw):
    """Sweep batch 7 (round-6): frame EXCLUDE, named-window extension,
    ORDER BY null placement, 1-based lambda index args, hamming,
    to_base, list-typed date_part, map_from_entries tuples, COLUMNS
    lambdas. Expected values DuckDB-1.0.0-verified."""
    cases = {
        "SELECT array_to_string(list_transform([10,20,30], (x, i) -> x + i), ',') AS v": "11,22,33",
        "SELECT array_to_string(list_filter([10,20,30], (x, i) -> i % 2 = 1), ',') AS v": "10,30",
        "SELECT hamming('abcd','abxd') AS v": 1,
        "SELECT mismatches('aa','ab') AS v": 1,
        "SELECT to_base(255, 16) AS v": "FF",
        "SELECT to_base(255, 2, 12) AS v": "000011111111",
        "SELECT date_part(['year','month'], DATE '2024-03-15').month AS v": 3,
        "SELECT cardinality(map_from_entries([('a', 1), ('b', 2)])) AS v": 2,
        # EXCLUDE CURRENT ROW: sum of the 1-each-side frame minus self;
        # single-row exclusion frame → NULL (DuckDB-verified)
        "SELECT sum(x) OVER (ORDER BY x ROWS BETWEEN CURRENT ROW AND "
        "CURRENT ROW EXCLUDE CURRENT ROW) AS v FROM (VALUES (7)) t(x)": None,
        "SELECT max(s) AS v FROM (SELECT sum(x) OVER (ORDER BY x ROWS BETWEEN "
        "1 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW) AS s "
        "FROM (VALUES (1),(2),(3)) t(x))": 4,
        # EXCLUDE NO OTHERS is a stripped no-op
        "SELECT max(s) AS v FROM (SELECT sum(x) OVER (ORDER BY x ROWS BETWEEN "
        "1 PRECEDING AND 1 FOLLOWING EXCLUDE NO OTHERS) AS s "
        "FROM (VALUES (1),(2),(3)) t(x))": 6,
        # NULLS LAST is DuckDB's ASC default — Spark's is NULLS FIRST
        "SELECT first_value(x) OVER (ORDER BY x) AS v FROM "
        "(VALUES (3),(NULL),(4)) t(x) LIMIT 1": 3,
        # named-window EXTENSION form (OVER (w ORDER BY …))
        "SELECT max(s) AS v FROM (SELECT sum(x) OVER (w ORDER BY x) AS s "
        "FROM (VALUES (1),(2),(4)) t(x) WINDOW w AS (PARTITION BY x % 2))": 6,
    }
    for sql, want in cases.items():
        got = spark.sql(rw.rewrite(sql)).collect()[0].v
        assert got == want, f"{sql}: {got!r} != {want!r}"
    # columns lambda forms expand through the COLUMNS machinery
    row = spark.sql(rw.rewrite(
        "SELECT min(COLUMNS(c -> c LIKE 'x%')) FROM (SELECT 1 AS xa, 2 AS xb, 3 AS yc)"
    )).collect()[0]
    assert row.asDict() == {"xa": 1, "xb": 2}
    # translate-or-raise: untranslatable forms raise, never mistranslate
    import pytest as _pytest
    from uquery_rs_spark.errors import UQueryError

    for bad in [
        "SELECT sum(x) OVER (ORDER BY x ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE TIES) FROM t",
        "SELECT sum(x) OVER (ORDER BY x ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE GROUP) FROM t",
        "SELECT min(x) OVER (ORDER BY x ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW) FROM t",
        "SELECT sum(x) OVER (ORDER BY x ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING EXCLUDE CURRENT ROW) FROM t",
        # batch 15 closed struct_insert/mad/LIMIT n%/jaro*/strip_accents
        # (see test_gap_hunt_batch15) — these variants still raise:
        # (mad(x) OVER graduated to a translation in round 7 —
        # asserted in test_nested_aggs_over_window)
        # (mad FILTER graduated to a CASE-fold translation in round 8 —
        # asserted in test_round8_nested_agg_filter)
        "SELECT x FROM t LIMIT 50%",  # orderless: arbitrary subset
        "SELECT struct_insert(x) FROM t",
        "SELECT '101'::BITSTRING",
        "SELECT CAST('a' AS ENUM('a','b'))",
        "SELECT md5_number('x')",
    ]:
        with _pytest.raises(UQueryError):
            rw.rewrite(bad)


def test_gap_hunt_batch8_scalar_semantics(spark, rw):
    """Sweep batch 8: concat NULL-skip + stringify-everything, one-arg
    log = log10, substring character-window rule, even/fdiv/fmod
    (floored), isfinite/isinf, list_unique, format_bytes, strpos,
    array_to_string element cast, current_schema. DuckDB-verified."""
    cases = {
        "SELECT concat('a', NULL, 'b') AS v": "ab",
        "SELECT concat('x', 1, DATE '2024-01-01') AS v": "x12024-01-01",
        "SELECT concat(concat('a', NULL), 'b') AS v": "ab",
        "SELECT log(100) AS v": 2.0,
        "SELECT log(2, 8) AS v": 3.0,
        "SELECT substring('abcdef', 0, 3) AS v": "ab",
        "SELECT substring('abcdef', -10, 8) AS v": "abcd",
        "SELECT substring('abcdef', 2, -1) AS v": "a",
        "SELECT substring('abcdef', 2, 3) AS v": "bcd",  # native fast path
        "SELECT substring(NULL, 1, 2) AS v": None,
        "SELECT even(2.5) AS v": 4.0,
        "SELECT even(-2.5) AS v": -4.0,
        "SELECT fdiv(-7, 2) AS v": -4.0,
        "SELECT fmod(-7.5, 2) AS v": 0.5,
        "SELECT fmod(7.5, -2) AS v": -0.5,
        "SELECT isfinite(1.0) AS v": True,
        "SELECT isinf(CAST('inf' AS DOUBLE)) AS v": True,
        # DuckDB ≥1.1 counts NULL as one distinct element (docs
        # example list_unique([1,1,NULL,-3,-3,-3]) = 3); the local
        # 1.0.0 binary returns 2 — we pin the reference's 1.5.2.
        "SELECT list_unique([1,2,2,NULL]) AS v": 3,
        "SELECT list_unique([1,1,NULL,-3,-3,-3]) AS v": 3,
        "SELECT array_unique([NULL, NULL]) AS v": 1,
        "SELECT list_unique([1,2,3]) AS v": 3,
        "SELECT format_bytes(1536) AS v": "1.5 KiB",
        "SELECT format_bytes(999) AS v": "999 bytes",
        "SELECT strpos('hello', 'll') AS v": 3,
        "SELECT array_to_string([1, NULL, 2], '-') AS v": "1-2",
        "SELECT current_schema() AS v": "main",
    }
    for sql, want in cases.items():
        got = spark.sql(rw.rewrite(sql)).collect()[0].v
        assert got == want, f"{sql}: {got!r} != {want!r}"
    import pytest as _pytest
    from uquery_rs_spark.errors import UQueryError

    # (age() graduated to the batch-28 calendar-decomposition string;
    # make_time to the round-8 TIME graduation — test_round8_time_type)
    for bad in ["SELECT age(x, y, z) FROM t", "SELECT '1'::TIMETZ"]:
        with _pytest.raises(UQueryError):
            rw.rewrite(bad)


def test_gap_hunt_batch9_aggregates(spark, rw):
    """Sweep batch 9: aggregate semantics. skewness/kurtosis sample-
    estimator correction (incl. NULL at n<=2 / n<=3 via try_divide),
    any_value NULL-skip, arbitrary → first row, favg/fsum, geomean,
    no-op ORDER BY stripping in order-insensitive aggregates, FILTER
    without WHERE. Expected values DuckDB-1.0.0-verified."""
    cases = {
        # DuckDB sample estimators on (1,2,4,8): G1=1.137624, G2=0.757656
        "SELECT round(skewness(x), 6) AS v FROM (VALUES (CAST(1 AS DOUBLE)),(2),(4),(8)) t(x)": 1.137624,
        "SELECT round(kurtosis(x), 6) AS v FROM (VALUES (CAST(1 AS DOUBLE)),(2),(4),(8)) t(x)": 0.757656,
        "SELECT skewness(x) AS v FROM (VALUES (CAST(1 AS DOUBLE)),(2)) t(x)": None,
        "SELECT kurtosis(x) AS v FROM (VALUES (CAST(1 AS DOUBLE)),(2),(3)) t(x)": None,
        "SELECT any_value(x) AS v FROM (VALUES (NULL),(7)) t(x)": 7,
        "SELECT arbitrary(x) AS v FROM (VALUES (NULL),(7)) t(x)": None,
        "SELECT favg(x) AS v FROM (VALUES (1.5),(2.5)) t(x)": 2.0,
        "SELECT fsum(x) AS v FROM (VALUES (1.5),(2.5)) t(x)": 4.0,
        "SELECT round(geomean(x), 6) AS v FROM (VALUES (1.0),(4.0)) t(x)": 2.0,
        "SELECT sum(x ORDER BY x) AS v FROM (VALUES (1),(2)) t(x)": 3,
        "SELECT count(DISTINCT x ORDER BY x) AS v FROM (VALUES (1),(1),(2)) t(x)": 2,
        "SELECT count(x) FILTER (x > 1) AS v FROM (VALUES (1),(2),(3)) t(x)": 2,
        "SELECT approx_quantile(x, 0.5) AS v FROM (VALUES (1),(2),(4)) t(x)": 2,
    }
    for sql, want in cases.items():
        got = spark.sql(rw.rewrite(sql)).collect()[0].v
        assert got == want, f"{sql}: {got!r} != {want!r}"
    import pytest as _pytest
    from uquery_rs_spark.errors import UQueryError

    for bad in [
        # entropy/histogram translate since batch 15; their OVER forms
        # since round 7 (test_nested_aggs_over_window); FILTER and
        # DISTINCT forms since round 8 (test_round8_nested_agg_filter,
        # test_round8_nested_agg_distinct); mad(DISTINCT) OVER since
        # round 9 (test_round9_mad_distinct_over)
        "SELECT skewness(x) OVER (PARTITION BY y) FROM t",
        "SELECT skewness(DISTINCT x) FROM t",
    ]:
        with _pytest.raises(UQueryError):
            rw.rewrite(bad)


def test_gap_hunt_batch10_datetime(spark, rw):
    """Sweep batch 10: datetime numbering and diff corners. EXTRACT of
    DuckDB-specific fields, Sunday-0 dow family, sub-second extracts
    include the seconds component, julian civil-midnight convention,
    epoch_ns, date_sub complete-unit diffs (truncated toward zero,
    month-end clamped). DuckDB-1.0.0-verified."""
    cases = {
        "SELECT EXTRACT(dow FROM DATE '2024-03-17') AS v": 0,       # Sunday
        "SELECT dayofweek(DATE '2024-03-17') AS v": 0,
        "SELECT weekday(DATE '2024-03-16') AS v": 6,                # Saturday
        "SELECT EXTRACT(epoch FROM TIMESTAMP '2024-01-01 00:00:00') AS v": 1704067200.0,
        "SELECT EXTRACT(microseconds FROM TIMESTAMP '2024-01-01 00:00:01.5') AS v": 1500000,
        "SELECT EXTRACT(milliseconds FROM TIMESTAMP '2024-01-01 00:00:01.5') AS v": 1500,
        "SELECT julian(DATE '2024-01-01') AS v": 2460311.0,
        "SELECT julian(TIMESTAMP '2024-01-01 12:00:00') AS v": 2460311.5,
        "SELECT epoch_ns(TIMESTAMP '2024-01-01 00:00:00') AS v": 1704067200000000000,
        # complete-unit diffs: month-end clamp (Jan 31 → Feb 29 IS one
        # month), truncation toward zero on negatives
        "SELECT date_sub('month', DATE '2024-01-31', DATE '2024-02-29') AS v": 1,
        "SELECT date_sub('month', DATE '2024-01-15', DATE '2024-03-14') AS v": 1,
        "SELECT date_sub('month', DATE '2024-03-14', DATE '2024-01-15') AS v": -1,
        "SELECT date_sub('year', DATE '2020-02-29', DATE '2024-02-28') AS v": 3,
        "SELECT datesub('day', DATE '2024-01-01', DATE '2024-01-05') AS v": 4,
        "SELECT date_sub('hour', TIMESTAMP '2024-01-01 00:00:00', TIMESTAMP '2024-01-01 05:30:00') AS v": 5,
    }
    for sql, want in cases.items():
        got = spark.sql(rw.rewrite(sql)).collect()[0].v
        assert got == want, f"{sql}: {got!r} != {want!r}"
    # Spark's own 2-arg date_sub stays native
    assert str(spark.sql(rw.rewrite("SELECT date_sub(DATE '2024-01-10', 3) AS v")).collect()[0].v) == "2024-01-07"
    import pytest as _pytest
    from uquery_rs_spark.errors import UQueryError

    # (2-arg timezone() became a supported AT-TIME-ZONE mirror in the
    # batch-23 sweep; only the 1-arg form still raises)
    for bad in ["SELECT timezone('UTC')",
                "SELECT get_current_time()"]:
        with _pytest.raises(UQueryError):
            rw.rewrite(bad)


def test_gap_hunt_batch11_string_list(spark, rw):
    """Sweep batch 11: left/right negative n, 1-arg string_agg default
    separator, chr beyond 255 (Spark char is mod-256 — UTF-8 encoded
    by hand), parse_filename, list metric functions, jaccard,
    regexp_full_match, like_escape. DuckDB-1.0.0-verified."""
    cases = {
        "SELECT left('abcde', -2) AS v": "abc",
        "SELECT right('abcde', -2) AS v": "cde",
        "SELECT right('abc', -9) AS v": "",
        "SELECT string_agg(x) AS v FROM (VALUES ('a'),('b')) t(x)": "a,b",
        "SELECT string_agg(x ORDER BY x DESC) AS v FROM (VALUES ('a'),('b')) t(x)": "b,a",
        "SELECT group_concat(x, '|') AS v FROM (VALUES ('a'),('b')) t(x)": "a|b",
        "SELECT chr(8364) AS v": "€",
        "SELECT chr(128512) AS v": "\U0001f600",
        "SELECT chr(200) AS v": "È",
        "SELECT parse_filename('/x/y/z.txt') AS v": "z.txt",
        "SELECT list_inner_product([1.0,2.0],[3.0,4.0]) AS v": 11.0,
        "SELECT list_distance([0.0,0.0],[3.0,4.0]) AS v": 5.0,
        "SELECT round(list_cosine_similarity([1.0,0.0],[1.0,0.0]), 6) AS v": 1.0,
        "SELECT jaccard('abc','bcd') AS v": 0.5,
        "SELECT regexp_full_match('abcd', 'a.c') AS v": False,
        "SELECT like_escape('a%c', 'a$%c', '$') AS v": True,
        # ANSI follow-up: out-of-bounds / zero indices are NULL in DuckDB
        # (ANSI element_at ERRORS) — try_element_at + zero guard
        "SELECT [1,2][5] AS v": None,
        "SELECT [1,2][-5] AS v": None,
        "SELECT [1,2][0] AS v": None,
        "SELECT list_extract([1,2], 5) AS v": None,
        "SELECT list_extract([1,2], -1) AS v": 2,
        "SELECT list_element([10,20], 2) AS v": 20,
    }
    for sql, want in cases.items():
        got = spark.sql(rw.rewrite(sql)).collect()[0].v
        assert got == want, f"{sql}: {got!r} != {want!r}"
    import pytest as _pytest
    from uquery_rs_spark.errors import UQueryError

    # (bar() became a supported exact-rendering UDF in the batch-23
    # sweep — left_grapheme/right_grapheme still raise)
    for bad in ["SELECT bar(3)", "SELECT left_grapheme('ab', 1)"]:
        with _pytest.raises(UQueryError):
            rw.rewrite(bad)


def test_gap_hunt_batch12_operators(spark, rw):
    """Sweep batch 12: operator symbols. ^ and ** are POWER in DuckDB
    (Spark ^ is XOR — 2^3 is 8 vs 1, silent), ~ family is regexp/LIKE,
    <-> / <=> are array euclidean distance / cosine similarity; plus
    map_extract and the remaining list functions.
    DuckDB-1.0.0-verified."""
    cases = {
        "SELECT 2 ^ 3 AS v": 8.0,
        "SELECT 2 ** 3 AS v": 8.0,
        "SELECT 1 + 2 ^ 2 AS v": 5.0,
        "SELECT 2 ^ 3 ^ 2 AS v": 64.0,
        "SELECT xor(5, 3) AS v": 6,    # the xor() FUNCTION stays bitwise
        "SELECT 'abc' ~ 'a.c' AS v": True,
        "SELECT 'abc' !~ 'a.c' AS v": False,
        "SELECT 'ABC' ~~* 'a%' AS v": True,
        "SELECT 'abc' !~~ 'b%' AS v": True,
        "SELECT [1.0,2.0] <-> [3.0,4.0] AS v": 2.8284271247461903,
        "SELECT round([1.0,0.0] <=> [1.0,0.0], 6) AS v": 1.0,
        "SELECT map_extract(MAP {'a': 1}, 'a')[1] AS v": 1,
        "SELECT len(map_extract(MAP {'a': 1}, 'x')) AS v": 0,
        "SELECT array_to_string(list_reverse([1,2,3]), ',') AS v": "3,2,1",
        "SELECT array_to_string(list_reverse_sort([3,1,2]), ',') AS v": "3,2,1",
        "SELECT array_to_string(list_select([10,20,30], [1,3]), ',') AS v": "10,30",
        "SELECT array_to_string(list_grade_up([30,10,20]), ',') AS v": "2,3,1",
    }
    for sql, want in cases.items():
        got = spark.sql(rw.rewrite(sql)).collect()[0].v
        assert got == want, f"{sql}: {got!r} != {want!r}"


def test_gap_hunt_batch13_window_filter(spark, rw):
    """Sweep batch 13: aggregate FILTER over a WINDOW (Spark rejects
    it) folds into the argument as CASE; DISTINCT window aggregates
    translate since batch 15 (unsupported ones still raise).
    Verified-identical natively (no action): lag/lead negative
    offsets and defaults, ntile/percent_rank/cume_dist/nth_value,
    RANGE numeric and INTERVAL frames, mean alias."""
    rows = spark.sql(rw.rewrite(
        "SELECT x, count(*) FILTER (x > 1) OVER (ORDER BY x) AS c, "
        "sum(x) FILTER (WHERE x <> 2) OVER (ORDER BY x "
        "ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s "
        "FROM (VALUES (1),(2),(2),(5)) t(x)"
    )).collect()
    assert [(r.x, r.c, r.s) for r in rows] == [
        (1, 0, 1), (2, 2, 1), (2, 2, None), (5, 3, 5)
    ]
    # plain aggregate FILTER stays native
    assert spark.sql(rw.rewrite(
        "SELECT count(*) FILTER (x > 1) AS c FROM (VALUES (1),(2)) t(x)"
    )).collect()[0].c == 1
    import pytest as _pytest
    from uquery_rs_spark.errors import UQueryError

    # running DISTINCT count now translates (batch 15, collect_set);
    # aggregates outside count/sum/avg/min/max still raise
    rows = spark.sql(rw.rewrite(
        "SELECT x, count(DISTINCT x) OVER (ORDER BY x) AS rc "
        "FROM (VALUES (1),(2),(2),(5)) t(x)"
    )).collect()
    assert [(r.x, r.rc) for r in rows] == [(1, 1), (2, 2), (2, 2), (5, 3)]
    with _pytest.raises(UQueryError):
        rw.rewrite("SELECT median(DISTINCT x) OVER (ORDER BY x) FROM t")
    # temporal range(): exclusive stop, TIMESTAMP result (DuckDB-matched)
    rows = spark.sql(rw.rewrite(
        "SELECT * FROM range(DATE '2024-01-01', DATE '2024-01-04', INTERVAL 1 DAY)"
    )).collect()
    assert len(rows) == 3 and str(rows[0].range) == "2024-01-01 00:00:00"
    # statement-form PIVOT with several aggregates graduated in round 9
    # (test_round9_pivot_statement_multi_agg)


def test_polymorphic_string_subscripts(spark, rw):
    """DuckDB subscripts apply to STRINGS with the same 1-based window
    arithmetic as lists ('abcdef'[2:4] = 'bcd'; [i] = one char, OOB/0
    = ''). The bracket pass emits BOTH translations in a uq_poly
    marker resolved by a LIMIT-0 type probe at the end of the pipeline
    (_rewrite_poly_subscript) — list behavior is unchanged.
    DuckDB-1.0.0-verified."""
    cases = {
        "SELECT 'abcdef'[2] AS v": "b",
        "SELECT 'abcdef'[0] AS v": "",
        "SELECT 'abcdef'[9] AS v": "",
        "SELECT 'abcdef'[-1] AS v": "f",
        "SELECT 'abcdef'[2:4] AS v": "bcd",
        "SELECT 'abcdef'[2:-2] AS v": "bcde",
        "SELECT 'abcdef'[:3] AS v": "abc",
        "SELECT 'abcdef'[-3:] AS v": "def",
        "SELECT 'abcdef'[4:2] AS v": "",
        "SELECT 'abcdef'[0:2] AS v": "ab",
        # column operand, dynamic index, mixed with list subscripts
        "SELECT x[2] AS v FROM (VALUES ('hello')) t(x)": "e",
        "SELECT x[n] AS v FROM (VALUES ('hello', 9)) t(x, n)": "",
        "SELECT [1,2,3][5] AS v": None,  # lists unchanged
        "SELECT [['a','bc'],['d']][1][2] AS v": "bc",  # nested resolves
        # subscripted text inside * REPLACE / COLUMNS probes analyzes
        "SELECT * REPLACE (t[1:2] AS t) FROM (SELECT 'xyz' AS t)": None,
    }
    for sql, want in cases.items():
        row = spark.sql(rw.rewrite(sql)).collect()[0]
        if want is not None or "REPLACE" not in sql:
            assert row.v == want, f"{sql}: {row.v!r} != {want!r}"
        else:
            assert row.t == "xy"


def test_list_null_semantics(spark, rw):
    """ADVICE r5: list_concat treats a NULL input as empty (NULL only
    when both are); list_has_any is false — not NULL — when non-NULL
    inputs share only a NULL element. All DuckDB-1.0.0-verified."""
    cases = {
        "SELECT list_concat(NULL, [1,2]) AS v": [1, 2],
        "SELECT list_concat([1,2], NULL) AS v": [1, 2],
        "SELECT list_concat([1], [2,3]) AS v": [1, 2, 3],
        "SELECT list_concat(NULL, NULL) AS v": None,
        "SELECT list_concat(list_concat([1],[2]), [3]) AS v": [1, 2, 3],
        "SELECT list_has_any([NULL], [1,NULL]) AS v": False,
        "SELECT list_has_any(NULL, [1]) AS v": None,
        "SELECT list_has_any([1,NULL], [1]) AS v": True,
    }
    for sql, want in cases.items():
        got = spark.sql(rw.rewrite(sql)).collect()[0].v
        assert got == want, f"{sql}: {got!r} != {want!r}"
    # unbalanced format brace raises UQueryError, not bare ValueError
    import pytest as _pytest
    from uquery_rs_spark.errors import UQueryError

    with _pytest.raises(UQueryError):
        rw.rewrite("SELECT format('x{y', 1)")
    with _pytest.raises(UQueryError):
        rw.rewrite("SELECT list_concat([1])")


def test_asof_join_sql_form(spark, rw):
    """SQL ASOF JOIN through the rewriter equals DuckDB semantics on a
    fixture with ties, NULL payloads, and unmatched rows — all four
    inequality directions + LEFT + flipped operand order (differential
    results hand-checked against DuckDB ASOF JOIN)."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW uq_asof_trades AS SELECT * FROM VALUES "
        "(1, 1, CAST(10.0 AS DOUBLE)), (1, 5, 11.0), (1, 8, 12.0), (2, 3, 20.0), "
        "(3, 4, 30.0) AS t(sym, t, px)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW uq_asof_quotes AS SELECT * FROM VALUES "
        "(1, 1, CAST(100.0 AS DOUBLE)), (1, 5, CAST(NULL AS DOUBLE)), (1, 7, 102.0), "
        "(2, 9, 200.0) AS q(sym, qt, bid)"
    )

    def run(q):
        return sorted(tuple(map(str, r)) for r in spark.sql(rw.rewrite(q)).collect())

    base = "FROM uq_asof_trades tr ASOF {j} uq_asof_quotes qo ON tr.sym = qo.sym AND {c}"
    # backward inclusive: t=5 matches the NULL-bid quote AT 5 (not 1)
    assert run(f"SELECT t, qt, bid {base.format(j='JOIN', c='tr.t >= qo.qt')}") == [
        ("1", "1", "100.0"), ("5", "5", "None"), ("8", "7", "102.0")
    ]
    # LEFT keeps unmatched left rows
    assert ("3", "None", "None") in run(
        f"SELECT t, qt, bid {base.format(j='LEFT JOIN', c='tr.t >= qo.qt')}"
    )
    # strict backward: the coincident quote is invisible
    assert run(f"SELECT t, qt {base.format(j='JOIN', c='tr.t > qo.qt')}") == [
        ("5", "1"), ("8", "7")
    ]
    # forward and flipped-operand forms
    assert run(f"SELECT t, qt {base.format(j='JOIN', c='tr.t <= qo.qt')}") == [
        ("1", "1"), ("3", "9"), ("5", "5")  # t=8 has no later quote → dropped
    ]
    assert run(f"SELECT t, qt {base.format(j='JOIN', c='qo.qt <= tr.t')}") == [
        ("1", "1"), ("5", "5"), ("8", "7")
    ]
    # unsupported shapes raise, never mistranslate
    import pytest as _pytest
    from uquery_rs_spark.errors import UQueryError

    with _pytest.raises(UQueryError):
        rw.rewrite(
            "SELECT 1 FROM uq_asof_trades tr ASOF JOIN uq_asof_quotes qo "
            "ON tr.sym = qo.sym"  # no inequality
        )


def test_asof_join_sql_extended_forms(spark, rw):
    """Round-6 extensions (r5 verdict item #3 + ADVICE): USING clause,
    subquery relations, NULL ordering/equality keys never match, and
    same-named right columns get the _1 suffix (referenceable by bare
    name downstream). Expected rows hand-checked against DuckDB 1.0.0."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW uq_asof_tr2 AS SELECT * FROM VALUES "
        "(1, 1, 10.0), (1, 5, 11.0), (2, 3, 20.0), (3, 4, 30.0) AS t(sym, t, px)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW uq_asof_qo2 AS SELECT * FROM VALUES "
        "(1, 1, 100.0), (1, CAST(NULL AS INT), 101.0), (1, 7, 102.0), "
        "(CAST(NULL AS INT), 2, 150.0), (2, 9, 200.0) AS q(sym, t, bid)"
    )

    def run(q):
        return sorted(tuple(map(str, r)) for r in spark.sql(rw.rewrite(q)).collect())

    # USING: last column is the >= ordering key; join cols emitted once
    # (left copy); NULL right keys (the t=NULL and sym=NULL quotes) never
    # match — DuckDB-verified
    assert run(
        "SELECT sym, t, px, bid FROM uq_asof_tr2 "
        "ASOF LEFT JOIN uq_asof_qo2 USING (sym, t) ORDER BY px"
    ) == [
        ("1", "1", "10.0", "100.0"),
        ("1", "5", "11.0", "100.0"),
        ("2", "3", "20.0", "None"),
        ("3", "4", "30.0", "None"),
    ]
    # subquery relations on both sides + ON form; right dup columns get _1
    rows = run(
        "SELECT sym, t, px, sym_1, t_1, bid "
        "FROM (SELECT * FROM uq_asof_tr2 WHERE px < 25) tt "
        "ASOF JOIN (SELECT sym, t, bid FROM uq_asof_qo2) qq "
        "ON tt.sym = qq.sym AND tt.t >= qq.t ORDER BY px"
    )
    assert rows == [
        ("1", "1", "10.0", "1", "1", "100.0"),
        ("1", "5", "11.0", "1", "1", "100.0"),
    ]
    # USING with a non-shared column raises
    import pytest as _pytest
    from uquery_rs_spark.errors import UQueryError

    with _pytest.raises(UQueryError):
        rw.rewrite(
            "SELECT 1 FROM uq_asof_tr2 ASOF JOIN uq_asof_qo2 USING (sym, px)"
        )


def test_session_statements_blocked(rw):
    """Session/transaction statements are blocked at the gate with the
    configuration-locked error — not a confusing parse error (batch-13
    error-quality sweep). PREPARE/EXECUTE/DEALLOCATE graduated OUT of
    this list in round 11 (supported prepared statements — see
    test_prepare_execute_deallocate); EXECUTE of an unknown name still
    raises, with DuckDB's own does-not-exist wording."""
    import pytest as _pytest
    from uquery_rs_spark.errors import UQueryError

    for stmt in [
        "BEGIN TRANSACTION", "COMMIT", "ROLLBACK",
        "CHECKPOINT", "VACUUM", "PRAGMA database_list",
        "COPY t TO 'x.csv'",
    ]:
        with _pytest.raises(UQueryError):
            rw.rewrite(stmt)
    with _pytest.raises(UQueryError, match="does not exist"):
        rw.rewrite("EXECUTE uq_unknown_stmt(1)")


def test_gap_hunt_batch15_closures(spark, rw):
    """Sweep batch 15: the former raise-only corners, now translated.
    mad/entropy/histogram as collect_list expression trees, era,
    DISTINCT aggregates over windows via collect_set, md5_number
    halves (little-endian byte order, DECIMAL(20,0) width),
    struct_insert via the FIELD_NOT_FOUND schema probe, top-level
    ORDER BY … LIMIT n% (floor semantics). Expected values
    DuckDB-1.0.0-verified (see the batch-15 probe transcripts in
    NOTES.md)."""
    cases = {
        "SELECT mad(x) AS v FROM (VALUES (1.0),(2.0),(4.0),(10.0)) t(x)": 1.5,
        "SELECT mad(x) AS v FROM (VALUES (1),(2),(4)) t(x)": 1.0,
        "SELECT mad(x) AS v FROM (VALUES (CAST(NULL AS DOUBLE))) t(x)": None,
        "SELECT entropy(x) AS v FROM (VALUES ('a'),('a'),('b'),('c')) t(x)": 1.5,
        "SELECT entropy(x) AS v FROM (VALUES (1),(1),(1)) t(x)": 0.0,
        "SELECT entropy(x) AS v FROM (VALUES (CAST(NULL AS INT))) t(x)": 0.0,
        "SELECT map_keys(histogram(x))[2] AS v FROM (VALUES ('b'),('a'),('a')) t(x)": "b",
        "SELECT map_values(histogram(x))[1] AS v FROM (VALUES ('b'),('a'),('a')) t(x)": 2,
        "SELECT histogram(x) AS v FROM (VALUES (CAST(NULL AS INT))) t(x)": None,
        "SELECT extract(era FROM DATE '2020-05-05') AS v": 1,
        "SELECT era(DATE '0001-01-01') AS v": 1,
        # md5_number halves: DuckDB-verified values for 'abc'
        "SELECT CAST(md5_number_lower('abc') AS STRING) AS v": "8250560606382298838",
        "SELECT CAST(md5_number_upper('abc') AS STRING) AS v": "12704604231530709392",
        "SELECT struct_insert({'a': 1, 'b': 'x'}, c := 5).c AS v": 5,
        "SELECT struct_insert(named_struct('a', 1), b := 2, d := 3).d AS v": 3,
    }
    for sql, want in cases.items():
        got = spark.sql(rw.rewrite(sql)).collect()[0].v
        assert got == want, f"{sql}: {got!r} != {want!r}"
    # DISTINCT over windows (collect_set translation)
    rows = spark.sql(rw.rewrite(
        "SELECT g, count(DISTINCT s) OVER (PARTITION BY g) AS cd, "
        "sum(DISTINCT x) OVER (PARTITION BY g) AS sd "
        "FROM (VALUES (1, 'a', 10), (1, 'a', 10), (1, 'b', 20), (2, NULL, 5)) "
        "t(g, s, x) ORDER BY g, x"
    )).collect()
    assert [(r.g, r.cd, r.sd) for r in rows] == [(1, 2, 30), (1, 2, 30), (1, 2, 30), (2, 0, 5)]
    # LIMIT n%: floor(p*count/100) rows of the ordered result
    rows = spark.sql(rw.rewrite(
        "SELECT x FROM (VALUES (5),(1),(4),(2),(3),(6),(7),(8),(9),(10)) t(x) "
        "ORDER BY x LIMIT 25%"
    )).collect()
    assert [r.x for r in rows] == [1, 2]
    assert [r.asDict() for r in rows][0].keys() == {"x"}  # helpers dropped
    # duplicate struct entry raises like DuckDB; non-struct base raises
    for bad in [
        "SELECT struct_insert({'a': 1}, a := 2)",
        "SELECT struct_insert(5, a := 2)",
        "SELECT median(DISTINCT x) OVER (PARTITION BY g) FROM t",
        "SELECT x FROM t ORDER BY 1 LIMIT 10%",  # ordinal key in OVER
    ]:
        with pytest.raises(UQueryError):
            rw.rewrite(bad)


def test_gap_hunt_batch16(spark, rw):
    """Sweep batch 16: unnest in SELECT/FROM position → explode,
    ordered array_agg via comparator-lambda struct sort, COLLATE
    NOCASE → UTF8_LCASE, to_hex → hex, 3-arg list_reduce (1-based
    iteration counter), named-argument calls raise cleanly. Verified
    natively identical (no action): flatten, list_sort direction
    strings, grouping(), bit_count, <<//>>, IS [NOT] DISTINCT FROM,
    array/struct/row comparisons, regexp_extract group index,
    negative-step range/generate_series, interval multiplication.
    DuckDB-1.0.0-verified."""
    cases = {
        "SELECT array_to_string(array_agg(x ORDER BY x DESC), ',') AS v "
        "FROM (VALUES (1),(3),(2)) t(x)": "3,2,1",
        # NULL keys last in BOTH directions (DuckDB default)
        "SELECT array_to_string(array_agg(x ORDER BY k), ',') AS v "
        "FROM (VALUES (1,3),(2,NULL),(3,1)) t(x,k)": "3,1,2",
        "SELECT array_to_string(array_agg(x ORDER BY k DESC NULLS FIRST), ',') AS v "
        "FROM (VALUES (1,3),(2,NULL),(3,1)) t(x,k)": "2,1,3",
        "SELECT 'a' COLLATE NOCASE = 'A' AS v": True,
        "SELECT to_hex(255) AS v": "FF",
        "SELECT list_reduce([1,2,3], (a,b,i) -> a+b*i) AS v": 9,
        "SELECT list_reduce([5], (a,b,i) -> a+b*i) AS v": 5,
    }
    for sql, want in cases.items():
        got = spark.sql(rw.rewrite(sql)).collect()[0].v
        assert got == want, f"{sql}: {got!r} != {want!r}"
    # unnest: one row per element, both positions
    assert [r.v for r in spark.sql(rw.rewrite(
        "SELECT unnest([10,20]) AS v")).collect()] == [10, 20]
    assert [r.v for r in spark.sql(rw.rewrite(
        "SELECT x * 2 AS v FROM unnest([1,2]) t(x)")).collect()] == [2, 4]
    for bad in [
        "SELECT round(x := 2.5, d := 1)",
        "SELECT 'a' COLLATE NOACCENT = 'b'",
        "SELECT unnest([1], recursive := true)",
        # (DISTINCT + ORDER BY same-expr graduated in round 8 —
        # test_round8_array_agg_distinct_ordered; other keys still raise)
        "SELECT array_agg(DISTINCT x ORDER BY y) FROM t",
        "SELECT array_agg(x ORDER BY x) OVER (PARTITION BY g) FROM t",
    ]:
        with pytest.raises(UQueryError):
            rw.rewrite(bad)


def test_gap_hunt_batch17(spark, rw):
    """Sweep batch 17: decade/millennium extracts (millennium counts
    like century: 2000→2, 2001→3), POLYMORPHIC epoch_ms (BIGINT arg
    CONSTRUCTS a timestamp — the old reading silently returned a
    number; uq_poly probe dispatch), 1-arg make_timestamp(µs),
    gcd/lcm (UDF-backed, DuckDB sign semantics), list_pack/list_apply
    renames, signbit → sign test (DuckDB's own signbit(-0.0) is
    false), 1-arg encode → UTF-8 binary. DuckDB-1.0.0-verified."""
    cases = {
        "SELECT extract(decade from DATE '1994-07-02') AS v": 199,
        "SELECT extract(millennium from DATE '2000-12-31') AS v": 2,
        "SELECT extract(millennium from DATE '2001-01-01') AS v": 3,
        "SELECT CAST(epoch_ms(1704067200123) AS STRING) AS v":
            "2024-01-01 00:00:00.123",
        "SELECT epoch_ms(TIMESTAMP '2024-01-01 00:00:00.5') AS v":
            1704067200500,
        "SELECT CAST(make_timestamp(1704067200000000) AS STRING) AS v":
            "2024-01-01 00:00:00",
        "SELECT gcd(12, 18) AS v": 6,
        "SELECT lcm(-4, 6) AS v": 12,
        "SELECT gcd(0, 0) AS v": 0,
        "SELECT array_to_string(list_pack(1,2,3), ',') AS v": "1,2,3",
        "SELECT array_to_string(list_apply([1,2], x -> x*2), ',') AS v": "2,4",
        "SELECT signbit(-3.0) AS v": True,
        "SELECT signbit(-0.0) AS v": False,
        "SELECT octet_length(encode('é')) AS v": 2,
    }
    for sql, want in cases.items():
        got = spark.sql(rw.rewrite(sql)).collect()[0].v
        assert got == want, f"{sql}: {got!r} != {want!r}"


def test_sign_returns_tinyint_like_duckdb(spark, rw):
    """DuckDB's sign() is TINYINT for every numeric input (DOUBLE,
    INTEGER, DECIMAL, BIGINT); Spark's is DOUBLE. A column or alias
    named ``sign`` is not a call and stays as written."""
    import duckdb

    sql = (
        "SELECT sign(x - 2.5) AS a, sign(CAST(i AS INTEGER)) AS b, "
        "sign(CAST(x AS DECIMAL(9, 2))) AS c, sign(-i) AS d, "
        "sign(sign(x) - 2) AS e, i AS sign "
        "FROM (SELECT 1.5 AS x, CAST(3 AS BIGINT) AS i) t ORDER BY sign"
    )
    out = rw.rewrite(sql)
    assert out.count("AS TINYINT") == 6, out
    assert "i AS sign FROM (SELECT 1.5 AS x, CAST(3 AS BIGINT) AS i) t ORDER BY sign" in out
    df = spark.sql(out)
    assert {f.dataType.simpleString() for f in df.schema.fields[:5]} == {"tinyint"}
    want = duckdb.sql(sql).fetchall()
    assert [tuple(r) for r in df.collect()] == want
    assert {str(t) for t in duckdb.sql(sql).types[:5]} == {"TINYINT"}


def test_read_text_blob_tvfs(spark, tmp_path):
    """read_text / read_blob TVFs (DuckDB schema: filename, content,
    size, last_modified) via Spark's binaryFile source — distributed
    whole-file reads, glob support, sandboxed like every other path."""
    (tmp_path / "a.txt").write_text("alpha beta")
    (tmp_path / "b.txt").write_text("gamma")
    rw2 = SqlRewriter(spark, allowed_dirs=[str(tmp_path)])
    rows = spark.sql(rw2.rewrite(
        f"SELECT filename, content, size FROM read_text('{tmp_path}/*.txt') "
        "ORDER BY filename"
    )).collect()
    assert [(r.filename.rsplit("/", 1)[1], r.content, r.size) for r in rows] == [
        ("a.txt", "alpha beta", 10), ("b.txt", "gamma", 5)
    ]
    blob = spark.sql(rw2.rewrite(
        f"SELECT content, size FROM read_blob('{tmp_path}/a.txt')"
    )).collect()[0]
    assert bytes(blob.content) == b"alpha beta" and blob.size == 10
    with pytest.raises(UQueryError):
        rw2.rewrite("SELECT * FROM read_text('/etc/passwd')")


def test_gap_hunt_batch18(spark, rw):
    """Sweep batch 18: standard TRIM(BOTH/LEADING/TRAILING … FROM …)
    — previously the quoted operand after FROM was eaten by the
    path-as-table regex (misparse class) — plus bare 2-arg trim()
    joining the batch-5 charset-order fix, today(), any_value(x ORDER
    BY k) → NULL-guarded min_by/max_by (first NON-null in order),
    try_strptime → try_to_timestamp, polymorphic length() on lists
    (native-first shortcut: all-string queries pay one probe),
    list_where mask selection, list_value → array. Verified natively
    identical: position(IN), substring(FROM FOR incl. negative),
    grouping_id, strftime/strptime (already mapped), map_entries
    key/value names, date_part over intervals. DuckDB-1.0.0-verified."""
    cases = {
        "SELECT trim(BOTH 'x' FROM 'xxaxx') AS v": "a",
        "SELECT trim('xxaxx', 'x') AS v": "a",
        "SELECT trim(LEADING 'x' FROM 'xxaxx') AS v": "axx",
        "SELECT trim(TRAILING FROM 'a  ') AS v": "a",
        "SELECT trim(TRAILING 'yx' FROM 'axyxy') AS v": "a",
        "SELECT today() = current_date AS v": True,
        "SELECT any_value(x ORDER BY x DESC) AS v FROM (VALUES (1),(3),(2)) t(x)": 3,
        # first row in k-order has NULL x — any_value skips to 'b'
        "SELECT any_value(x ORDER BY k) AS v "
        "FROM (VALUES (NULL, 1),('b', 2),('c', 3)) t(x, k)": "b",
        "SELECT try_strptime('bogus', '%Y-%m-%d') AS v": None,
        "SELECT length([1,2,3]) AS v": 3,
        "SELECT length('abc') AS v": 3,
        "SELECT array_to_string(list_where([1,2,3], [true,false,true]), ',') AS v": "1,3",
        "SELECT array_to_string(list_value(1,2,3), ',') AS v": "1,2,3",
        "SELECT position('ll' IN 'hello') AS v": 3,
        "SELECT substring('abcdef' FROM -2) AS v": "ef",
    }
    for sql, want in cases.items():
        got = spark.sql(rw.rewrite(sql)).collect()[0].v
        assert got == want, f"{sql}: {got!r} != {want!r}"


def test_gap_hunt_batch19(spark, rw):
    """Sweep batch 19: STEP slices l[a:b:s] — the 2-part parse silently
    DROPPED the step (sweep find); negative steps walk reversed;
    stride via an index sequence (a 2-arg filter lambda would get the
    batch-7 1-based shift). Plus the list-function family:
    list_sum/avg/count (list_aggregate folds), list_first/last
    (INCLUDING NULLs — DuckDB-verified), list_any_value (first
    non-null), list_resize (truncate + pad), list_median
    (interpolated; decimal-literal lists keep the documented
    decimal-median deviation), list_mode (tie → smallest, tie order
    engine-unspecified), array_pop_back/front, array_reduce alias,
    generate_subscripts dim-1, regexp_escape (exact RE2 QuoteMeta —
    re.escape skips '/' and ','), date_add(x, INTERVAL)."""
    cases = {
        "SELECT array_to_string([1,2,3,4,5][1:5:2], ',') AS v": "1,3,5",
        "SELECT array_to_string([10,20,30,40][2:4:2], ',') AS v": "20,40",
        "SELECT array_to_string([1,2,3,4,5][5:1:-2], ',') AS v": "5,3,1",
        "SELECT array_to_string([1,2,3,4][:4:2], ',') AS v": "1,3",
        "SELECT generate_subscripts([10,20,30], 1) AS v": 1,
        "SELECT array_to_string(list_resize([1,2], 4, 0), ',') AS v": "1,2,0,0",
        "SELECT array_to_string(list_resize([1,2,3], 2), ',') AS v": "1,2",
        "SELECT list_any_value([NULL, 7, 3]) AS v": 7,
        "SELECT list_first([NULL, 2]) AS v": None,
        "SELECT list_last([1, NULL]) AS v": None,
        "SELECT list_sum([1,2,NULL]) AS v": 3,
        "SELECT list_count([1,NULL,2]) AS v": 2,
        "SELECT list_median([3, 1, 2, 8]) AS v": 2.5,
        "SELECT list_mode(['b','a','a']) AS v": "a",
        "SELECT array_to_string(array_pop_back([1,2,3]), ',') AS v": "1,2",
        "SELECT array_to_string(array_pop_front([1,2,3]), ',') AS v": "2,3",
        "SELECT array_reduce([1,2,3], (a,b) -> a+b) AS v": 6,
        "SELECT regexp_escape('a.b/c,d') AS v": "a\\.b\\/c\\,d",
        "SELECT CAST(date_add(DATE '2024-01-31', INTERVAL 1 MONTH) AS STRING) AS v":
            "2024-02-29 00:00:00",
        "SELECT CAST(date_add(DATE '2024-01-01', 5) AS STRING) AS v": "2024-01-06",
    }
    for sql, want in cases.items():
        got = spark.sql(rw.rewrite(sql)).collect()[0].v
        assert got == want, f"{sql}: {got!r} != {want!r}"
    for bad in [
        "SELECT [1,2][1:2:0]",              # zero step errors in DuckDB too
        "SELECT generate_subscripts([1], 2)",
    ]:
        with pytest.raises(UQueryError):
            rw.rewrite(bad)


def test_gap_hunt_batch20(spark, rw):
    """Sweep batch 20: bare split() is LITERAL-separator in DuckDB while
    Spark's split is regex ('.' exploded per char — the silent-wrong
    find); flatten skips NULL sublists; factorial/postfix ! beyond
    BIGINT via DECIMAL(38,0) (DuckDB HUGEINT range -1..33, n<=1 → 1,
    34 raises); 1-arg numeric trunc (toward zero — Spark trunc is
    date-only); list_contains returns FALSE on null-bearing misses
    (Spark 3VL NULL) and NULL for NULL needle/list; list_indexof /
    from_hex renames; setseed typed-NULL no-op."""
    cases = {
        "SELECT array_to_string(split('a.b.c', '.'), '|') AS v": "a|b|c",
        "SELECT split('x1y2z', '1y') AS v": ["x", "2z"],
        "SELECT split('a.b.c', '.')[2] AS v": "b",
        "SELECT array_to_string(flatten([[1],NULL,[2]]), ',') AS v": "1,2",
        "SELECT 5! AS v": 120,
        "SELECT (2+3)! AS v": 120,
        "SELECT factorial(-1) AS v": 1,
        "SELECT factorial(0) AS v": 1,
        "SELECT CAST(factorial(21) AS STRING) AS v": "51090942171709440000",
        "SELECT CAST(factorial(33) AS STRING) AS v":
            "8683317618811886495518194401280000000",
        "SELECT 3 != 4 AS v": True,
        "SELECT CAST(trunc(-2.7) AS INT) AS v": -2,
        "SELECT CAST(trunc(2.789) AS INT) AS v": 2,
        "SELECT list_contains([1,NULL], 2) AS v": False,
        "SELECT list_contains([1,NULL], 1) AS v": True,
        "SELECT list_contains(NULL, 1) AS v": None,
        "SELECT list_contains([1,2], NULL) AS v": None,
        "SELECT list_indexof([1,2,3], 5) AS v": 0,
        "SELECT octet_length(from_hex('0a0b')) AS v": 2,
        "SELECT setseed(0.5) AS v": None,
    }
    for sql, want in cases.items():
        got = spark.sql(rw.rewrite(sql)).collect()[0].v
        if isinstance(got, list):
            got = list(got)
        assert got == want, f"{sql}: {got!r} != {want!r}"
    for bad in [
        "SELECT 3.5! AS v",                  # DuckDB: integer operand only
        "SELECT current_setting('threads')",  # engine-specific
    ]:
        with pytest.raises(UQueryError):
            rw.rewrite(bad)
    # factorial(34) raises at RUNTIME like DuckDB's Out of Range
    with pytest.raises(Exception):
        spark.sql(rw.rewrite("SELECT factorial(34) AS v")).collect()


def test_gap_hunt_batch21_json(spark, rw):
    """Sweep batch 21 — the DuckDB json-extension tail. Constructors
    (json_object pairwise with NULL-key drop + dup keys kept,
    json_array positional with 'null' elements, json_quote with the
    SQL-NULL→NULL asymmetry, row_to_json), minify json(), RFC-7386
    json_merge_patch n-ary fold, json_structure (UBIGINT/BIGINT/DOUBLE
    widening, NULL wildcard, object key union, conflict→JSON),
    json_type 1/2-arg (JSONPath subset + JSON Pointer + bare key),
    json_contains (recursive containment, STRICT scalar classes:
    [1.0] does not contain 1), aggregates json_group_array/object
    (empty group → NULL). Nested producers splice raw JSON, not
    re-quoted strings. All values DuckDB-1.0-verified."""
    cases = {
        "SELECT json_object('a', 1, 'a', 2) AS v": '{"a":1,"a":2}',
        "SELECT json_object(NULL, 1) AS v": "{}",
        "SELECT json_object('k', NULL) AS v": '{"k":null}',
        "SELECT json_object(s, n) AS v FROM (VALUES ('x', 3)) t(s,n)": '{"x":3}',
        "SELECT json_object() AS v": "{}",
        "SELECT json_array(1, 'a', true, 1.5, DATE '2024-01-02') AS v":
            '[1,"a",true,1.5,"2024-01-02"]',
        "SELECT json_array(NULL) AS v": "[null]",
        "SELECT json_array() AS v": "[]",
        "SELECT json_array([1,2], {'a': 1}) AS v": '[[1,2],{"a":1}]',
        "SELECT json_quote('a\"b') AS v": '"a\\"b"',
        "SELECT json_quote(NULL) AS v": None,
        "SELECT row_to_json({'b': 2}) AS v": '{"b":2}',
        "SELECT json(' [1, 2,  {\"a\": 3}] ') AS v": '[1,2,{"a":3}]',
        "SELECT json_merge_patch('{\"a\":1}','{\"b\":2}','{\"c\":3}') AS v":
            '{"a":1,"b":2,"c":3}',
        "SELECT json_merge_patch('{\"a\":{\"x\":1}}','{\"a\":{\"y\":2}}') AS v":
            '{"a":{"x":1,"y":2}}',
        "SELECT json_merge_patch('{\"a\":1}','{\"a\":null}') AS v": "{}",
        "SELECT json_merge_patch('[1,2]', '{\"a\":1}') AS v": '{"a":1}',
        "SELECT json_merge_patch('{\"a\":1}', NULL) AS v": None,
        "SELECT json_structure('[1,-1]') AS v": '["BIGINT"]',
        "SELECT json_structure('[1,1.5]') AS v": '["DOUBLE"]',
        "SELECT json_structure('[1,true]') AS v": '["JSON"]',
        "SELECT json_structure('[null,1]') AS v": '["UBIGINT"]',
        "SELECT json_structure('[{\"b\":1},{\"a\":2}]') AS v":
            '[{"b":"UBIGINT","a":"UBIGINT"}]',
        "SELECT json_structure('[{\"a\":1},{\"a\":\"x\"}]') AS v":
            '[{"a":"JSON"}]',
        "SELECT json_structure('18446744073709551616') AS v": '"DOUBLE"',
        "SELECT json_type('1') AS v": "UBIGINT",
        "SELECT json_type('-1') AS v": "BIGINT",
        "SELECT json_type('1.0') AS v": "DOUBLE",
        "SELECT json_type('null') AS v": "NULL",
        "SELECT json_type('{\"a\":{\"b\":[5]}}', '$.a.b[0]') AS v": "UBIGINT",
        "SELECT json_type('{\"a\":{\"b\":[5]}}', '/a/b/0') AS v": "UBIGINT",
        "SELECT json_type('{\"a\":1}', 'a') AS v": "UBIGINT",
        "SELECT json_type('{\"a\":1}', 'missing') AS v": None,
        "SELECT json_contains('{\"a\":{\"b\":1}}', '{\"b\":1}') AS v": True,
        "SELECT json_contains('{\"a\":1}', '{\"a\":2}') AS v": False,
        "SELECT json_contains('[[1,2]]', '[2]') AS v": True,
        "SELECT json_contains('[1,2]', '[2,1]') AS v": True,
        "SELECT json_contains('[1.0]', '1') AS v": False,
        "SELECT json_contains('[1.0]', '1.0') AS v": True,
        "SELECT json_group_array(x) AS v FROM (VALUES (1),(2),(NULL)) t(x)":
            "[1,2,null]",
        "SELECT json_group_array(x) AS v FROM (VALUES ('a')) t(x) WHERE x='z'":
            None,
        "SELECT json_group_object(k, x) AS v FROM (VALUES ('a',1),('b',NULL)) t(k,x)":
            '{"a":1,"b":null}',
        "SELECT json_group_object(k, x) AS v FROM (VALUES (1,'x')) t(k,x)":
            '{"1":"x"}',
        "SELECT json_object('a', json_array(1, json_quote('q'))) AS v":
            '{"a":[1,"q"]}',
        "SELECT json_array(json_object('k', 5), 7) AS v": '[{"k":5},7]',
        "SELECT json_array(json_quote(NULL)) AS v": "[null]",
        "SELECT json_group_array(json_object(k, x)) AS v FROM (VALUES ('a',1)) t(k,x)":
            '[{"a":1}]',
        "SELECT json_array_length('[1,2,3]') AS v": 3,
    }
    for sql, want in cases.items():
        got = spark.sql(rw.rewrite(sql)).collect()[0].v
        assert got == want, f"{sql}: {got!r} != {want!r}"
    with pytest.raises(UQueryError):
        rw.rewrite("SELECT json_object('a')")  # odd arg count
    # malformed JSON raises at runtime, like DuckDB's json()
    with pytest.raises(Exception):
        spark.sql(rw.rewrite("SELECT json('[1,2')")).collect()


def test_gap_hunt_batch22(spark, rw):
    """Sweep batch 22: printf → format_string with spec-driven casts
    (%i→%d, DOUBLE for %e/%f, INT for %c, %g raises — C/Java trailing
    zeros disagree); grapheme family (UAX-29 clusters: flags pair,
    ZWJ emoji are one cluster, skin modifiers join) with DuckDB's
    substring window rules; split_part literal-0 → ''; strptime with a
    format LIST (strict unless try_, NULL in → NULL out); AT TIME ZONE
    single (naive→instant) and chained (wall-time conversion);
    generate_series with INTERVAL step yields TIMESTAMPs even for DATE
    bounds. All DuckDB-verified."""
    cases = {
        "SELECT printf('%s|%d|%5.2f|%x|%o|%%', 'a', 42, 1.5, 255, 8) AS v":
            "a|42| 1.50|ff|10|%",
        "SELECT printf('%i', 42) AS v": "42",
        "SELECT printf('%c', 65) AS v": "A",
        "SELECT substring_grapheme('🇩🇪🇫🇷x', 2, 2) AS v": "🇫🇷x",
        "SELECT length_grapheme('🤦🏼‍♂️a') AS v": 2,
        "SELECT length_grapheme('a👍🏽b') AS v": 3,
        "SELECT substring_grapheme('abcdef', 0, 3) AS v": "ab",
        "SELECT substring_grapheme('abcdef', 2, -1) AS v": "a",
        "SELECT substring_grapheme('abc', -1, 2) AS v": "c",
        "SELECT split_part('a.b.c', '.', 0) AS v": "",
        "SELECT split_part('a.b.c', '.', -1) AS v": "c",
        "SELECT CAST(strptime('05/03/2024', ['%Y-%m-%d', '%d/%m/%Y']) AS TIMESTAMP) AS v":
            __import__("datetime").datetime(2024, 3, 5),
        "SELECT CAST(try_strptime('nope', ['%Y-%m-%d']) AS TIMESTAMP) AS v": None,
        "SELECT epoch(TIMESTAMP '2024-01-01 12:00:00' AT TIME ZONE 'America/New_York') AS v":
            1704128400.0,
        "SELECT CAST(((TIMESTAMP '2024-01-01 12:00:00' AT TIME ZONE 'UTC') "
        "AT TIME ZONE 'America/New_York') AS VARCHAR) AS v":
            "2024-01-01 07:00:00",
        "SELECT CAST(generate_series(DATE '2024-01-01', DATE '2024-01-02', "
        "INTERVAL 1 DAY) AS VARCHAR) AS v":
            "[2024-01-01 00:00:00, 2024-01-02 00:00:00]",
    }
    for sql, want in cases.items():
        got = spark.sql(rw.rewrite(sql)).collect()[0].v
        assert got == want, f"{sql}: {got!r} != {want!r}"
    # printf %g graduated to a translation in round 7 (uq_fmt_g —
    # Python %-format is C printf for %g; Java keeps trailing zeros)
    g_cases = {
        "SELECT printf('%g', 1.5) AS v": "1.5",
        "SELECT printf('%g', 1234567.0) AS v": "1.23457e+06",
        "SELECT printf('%.3g', 1234.5) AS v": "1.23e+03",
        "SELECT printf('%10.3g|', 1234.5) AS v": "  1.23e+03|",
        "SELECT printf('%G', 0.00001) AS v": "1E-05",
        "SELECT printf('%g and %d', 1.0, 42) AS v": "1 and 42",
    }
    for sql, want in g_cases.items():
        got = spark.sql(rw.rewrite(sql)).collect()[0].v
        assert got == want, f"{sql}: {got!r} != {want!r}"
    for bad in [
        "SELECT printf('%d %d', 1)",
        "SELECT printf(fmt, 1) FROM t",  # non-literal format
    ]:
        with pytest.raises(UQueryError):
            rw.rewrite(bad)
    # strict strptime raises at runtime when no format matches
    with pytest.raises(Exception):
        spark.sql(rw.rewrite("SELECT strptime('x', ['%Y']) AS v")).collect()


def test_gap_hunt_batch23(spark, rw):
    """Sweep batch 23: dollar-quoted strings ($$…$$ / $tag$…$tag$ →
    Spark-space literals); element_at is DuckDB's MAP accessor returning
    a single-element LIST ([] when missing — the Spark-native scalar
    was a silent shape divergence); timezone(zone, ts) = AT TIME ZONE;
    bar() exact rendering (eighth blocks + byte-width space padding);
    bitstring zero-pad with the runtime length check; date_trunc
    returns DATE for day-and-coarser units (decade/isoyear raise);
    literal lhs quantified subqueries raise explicitly."""
    cases = {
        "SELECT $$dollar 'quoted'$$ AS v": "dollar 'quoted'",
        "SELECT $tag$nested $$ text$tag$ AS v": "nested $$ text",
        "SELECT $$back\\slash$$ AS v": "back\\slash",
        "SELECT element_at(MAP {'a': 1}, 'a') AS v": [1],
        "SELECT element_at(MAP {'a': 1}, 'zz') AS v": [],
        "SELECT bar(2, 0, 10, 10) AS v": "██    ",
        "SELECT bar(2.5, 0, 10, 10) AS v": "██▌ ",
        "SELECT bar(0.2, 0, 10, 10) AS v": "▏       ",
        "SELECT bar(0, 0, 10, 10) AS v": "          ",
        "SELECT bar(11, 0, 10, 10) AS v": "██████████",
        "SELECT bar(5, 10, 0, 10) AS v": "          ",
        "SELECT bitstring('1010', 8) AS v": "00001010",
        # round 7: 1-arg timezone(ts) = session-zone UTC offset seconds
        # (0 in the pinned UTC session; NULL-propagating)
        "SELECT timezone(TIMESTAMP '2024-01-01 10:00:00') AS v": 0,
        "SELECT timezone(CAST(NULL AS TIMESTAMP)) AS v": None,
        "SELECT CAST(date_trunc('week', DATE '2024-03-07') AS VARCHAR) AS v":
            "2024-03-04",
        "SELECT CAST(date_trunc('quarter', TIMESTAMP '2024-05-07 10:00:00') "
        "AS VARCHAR) AS v": "2024-04-01",
        "SELECT CAST(date_trunc('hour', TIMESTAMP '2024-05-07 10:20:30') "
        "AS VARCHAR) AS v": "2024-05-07 10:00:00",
        "SELECT CAST(datetrunc('month', DATE '2024-05-07') AS VARCHAR) AS v":
            "2024-05-01",
        "SELECT CAST(timezone('America/New_York', "
        "TIMESTAMP '2024-01-01 12:00:00') AS VARCHAR) AS v":
            "2024-01-01 17:00:00",
    }
    for sql, want in cases.items():
        got = spark.sql(rw.rewrite(sql)).collect()[0].v
        if isinstance(got, list):
            got = list(got)
        assert got == want, f"{sql}: {got!r} != {want!r}"
    for bad in [
        "SELECT 1 = ALL (SELECT 1)",
        "SELECT timezone('UTC')",
        "SELECT date_trunc('decade', DATE '2024-01-01')",
        "SELECT bar(3)",
    ]:
        with pytest.raises(UQueryError):
            rw.rewrite(bad)
    # bitstring length check raises at runtime like DuckDB
    with pytest.raises(Exception):
        spark.sql(rw.rewrite("SELECT bitstring('1010', 3) AS v")).collect()


def test_gap_hunt_batch24(spark, rw):
    """Sweep batch 24: SQL-standard FETCH FIRST/NEXT + OFFSET n ROWS
    (combined form swaps into Spark's LIMIT-before-OFFSET order);
    typeof renders DuckDB typenames recursively (INTEGER[], STRUCT(a
    INTEGER), MAP(VARCHAR, INTEGER), NULL → '"NULL"'); from_json /
    json_transform translate the structure literal to a Spark DDL
    schema (json-null and SQL NULL → NULL; malformed docs are a
    documented PERMISSIVE laxness); array_slice rides the bracket
    machinery (negatives, steps, string polymorphism)."""
    cases = {
        "SELECT x FROM (VALUES (1),(2),(3)) t(x) ORDER BY x "
        "OFFSET 1 ROWS FETCH NEXT 1 ROWS ONLY": 2,
        "SELECT x FROM (VALUES (1),(2)) t(x) ORDER BY x FETCH FIRST ROW ONLY": 1,
        "SELECT typeof(1) AS v": "INTEGER",
        "SELECT typeof([['a']]) AS v": "VARCHAR[][]",
        "SELECT typeof({'a': 1}) AS v": "STRUCT(a INTEGER)",
        "SELECT typeof(MAP {'a': 1}) AS v": "MAP(VARCHAR, INTEGER)",
        "SELECT typeof(NULL) AS v": '"NULL"',
        "SELECT from_json('{\"a\":1}', '{\"a\":\"BIGINT\"}').a AS v": 1,
        "SELECT json_transform('{\"a\":1}', '{\"a\":\"VARCHAR\"}').a AS v": "1",
        "SELECT from_json('null', '{\"a\":\"BIGINT\"}') IS NULL AS v": True,
        "SELECT from_json('[1,2]', '[\"BIGINT\"]')[2] AS v": 2,
        "SELECT array_to_string(array_slice([1,2,3,4,5], 5, 1, -2), ',') AS v":
            "5,3,1",
        "SELECT array_to_string(array_slice([1,2,3,4,5], -3, -1), ',') AS v":
            "3,4,5",
        "SELECT array_slice('abcdef', 2, 4) AS v": "bcd",
    }
    for sql, want in cases.items():
        row = spark.sql(rw.rewrite(sql)).collect()[0]
        got = row[0]
        assert got == want, f"{sql}: {got!r} != {want!r}"
    for bad in [
        "SELECT from_json('{}', structure) FROM t",   # non-literal structure
        "SELECT from_json('{}', '{\"a\":\"NOPE\"}')",  # unknown type
        "SELECT array_slice([1,2], 1)",                # missing end
    ]:
        with pytest.raises(UQueryError):
            rw.rewrite(bad)


def test_gap_hunt_batch25(spark, rw):
    """Sweep batch 25: dot-chaining method calls (x.f(a) → f(x, a),
    chains and bracket operands included); map-vs-struct string-key
    subscripts resolve by probe (uq_polymap): MAP subscripts return
    DuckDB's single-element LIST ([] on miss), STRUCT subscripts the
    field, chained [1] unwraps; CAST(x AS JSON) validates-and-preserves
    VARCHAR text and encodes other types (typeof-dispatched);
    current_database()/current_user session literals. glob() TVF is
    covered in test_sources (sandboxed paths)."""
    cases = {
        "SELECT [1,2,3].list_sum() AS v": 6,
        "SELECT ('x').len() AS v": 1,
        "SELECT x.upper().lower() AS v FROM (SELECT 'Ab' AS x)": "ab",
        "SELECT [1,2].list_append(3)[3] AS v": 3,
        "SELECT x.round(1) AS v FROM (SELECT CAST(2.34 AS DOUBLE) AS x)": 2.3,
        "SELECT map_from_entries([('a', 1)])['a'] AS v": [1],
        "SELECT map_from_entries([('a', 1)])['b'] AS v": [],
        "SELECT map_from_entries([('a', 1)])['a'][1] AS v": 1,
        "SELECT s['b'][1] AS v FROM (SELECT {'b': 'txt'} AS s)": "t",
        "SELECT upper(s['b']) AS v FROM (SELECT {'b': 'txt'} AS s)": "TXT",
        "SELECT CAST('{\"a\":  1}' AS JSON) AS v": '{"a":  1}',
        "SELECT CAST(5 AS JSON) AS v": "5",
        "SELECT CAST(MAP {'a': 1} AS JSON) AS v": '{"a":1}',
        "SELECT CAST(NULL AS JSON) AS v": None,
        "SELECT current_database() AS v": "memory",
        "SELECT current_user AS v": "duckdb",
    }
    for sql, want in cases.items():
        got = spark.sql(rw.rewrite(sql)).collect()[0].v
        if isinstance(got, list):
            got = list(got)
        assert got == want, f"{sql}: {got!r} != {want!r}"
    # malformed CAST AS JSON raises at runtime (DuckDB Conversion Error)
    with pytest.raises(Exception):
        spark.sql(rw.rewrite("SELECT CAST('nope' AS JSON) AS v")).collect()


def test_glob_tvf(spark, tmp_path):
    """glob('pattern') TVF (batch 25): one `file` column, sorted paths,
    empty pattern → zero rows, sandboxed like every read_* path."""
    (tmp_path / "x1.csv").write_text("a")
    (tmp_path / "x2.csv").write_text("b")
    rw2 = SqlRewriter(spark, allowed_dirs=[str(tmp_path)])
    rows = spark.sql(
        rw2.rewrite(f"SELECT file FROM glob('{tmp_path}/*.csv') ORDER BY file")
    ).collect()
    assert [r.file.rsplit("/", 1)[1] for r in rows] == ["x1.csv", "x2.csv"]
    assert (
        spark.sql(
            rw2.rewrite(f"SELECT count(*) AS n FROM glob('{tmp_path}/z*.csv')")
        ).collect()[0].n
        == 0
    )
    with pytest.raises(UQueryError):
        rw2.rewrite("SELECT * FROM glob('/etc/*')")


def test_session_ddl_batch26(spark, rw):
    """Batch 26: CREATE [OR REPLACE] [TEMP] VIEW/TABLE AS are
    session-scoped TEMPORARY views (CTAS caches — Spark's closest
    shape to DuckDB materialization; never the persistent metastore),
    with bodies run through the FULL dialect pipeline; DROP maps to
    DROP VIEW; DML raises (immutable views — documented deviation)."""
    spark.sql(rw.rewrite("CREATE VIEW uq_t26v AS SELECT list_sum([1,2,3]) AS s"))
    assert spark.sql(rw.rewrite("SELECT s FROM uq_t26v")).collect()[0].s == 6
    spark.sql(rw.rewrite("CREATE OR REPLACE VIEW uq_t26v AS SELECT 9 AS s"))
    assert spark.sql("SELECT s FROM uq_t26v").collect()[0].s == 9
    spark.sql(rw.rewrite("CREATE TABLE uq_t26t AS SELECT 5! AS f"))
    assert int(spark.sql("SELECT f FROM uq_t26t").collect()[0].f) == 120
    # both are session-temporary — nothing reached the persistent catalog
    for t in spark.catalog.listTables("default"):
        if t.name in ("uq_t26v", "uq_t26t"):
            assert t.isTemporary
    spark.sql(rw.rewrite("DROP TABLE uq_t26t"))
    spark.sql(rw.rewrite("DROP VIEW IF EXISTS uq_t26v"))
    spark.sql(rw.rewrite("DROP VIEW IF EXISTS uq_t26_never"))
    for bad in [
        "INSERT INTO x VALUES (1)",
        "UPDATE x SET a = 1",
        "DELETE FROM x",
        "TRUNCATE TABLE x",
        "CREATE TABLE x (a INT)",
    ]:
        with pytest.raises(UQueryError):
            rw.rewrite(bad)


def test_information_schema_batch27(spark, rw):
    """Batch 27: information_schema.tables/columns are derived tables
    built from the Spark catalog (DuckDB's 13/45-column standard
    shapes, 'memory'/'main' identity, DuckDB typenames, uq_* plumbing
    views filtered); user aliases and bare-name qualified references
    both work."""
    spark.createDataFrame([(1, "x")], "a int, b string").createOrReplaceTempView(
        "uq27_demo"
    )
    spark.createDataFrame([(1,)], "z int").createOrReplaceTempView("uq_internal27")
    rows = spark.sql(
        rw.rewrite(
            "SELECT table_catalog, table_schema, table_name, table_type "
            "FROM information_schema.tables WHERE table_name LIKE 'uq%27%'"
        )
    ).collect()
    assert [tuple(r) for r in rows] == [("memory", "main", "uq27_demo", "VIEW")]
    cols = spark.sql(
        rw.rewrite(
            "SELECT column_name, ordinal_position, data_type, is_nullable "
            "FROM information_schema.columns WHERE table_name = 'uq27_demo' "
            "ORDER BY ordinal_position"
        )
    ).collect()
    assert [tuple(r) for r in cols] == [
        ("a", 1, "INTEGER", "YES"),
        ("b", 2, "VARCHAR", "YES"),
    ]
    n = spark.sql(
        rw.rewrite(
            "SELECT count(*) AS n FROM information_schema.columns c "
            "JOIN information_schema.tables t ON c.table_name = t.table_name "
            "WHERE t.table_name = 'uq27_demo'"
        )
    ).collect()[0].n
    assert n == 2
    spark.catalog.dropTempView("uq27_demo")
    spark.catalog.dropTempView("uq_internal27")


def test_gap_hunt_batch28(spark, rw):
    """Sweep batch 28: reverse() is GRAPHEME-aware in DuckDB (combining
    accents and ZWJ emoji stay clustered — Spark's codepoint reverse
    was a silent-wrong; lists still reverse natively via list_reverse
    and the step-slice sentinel); the format() spec mini-language
    ({:.2f}, {:>6}, {:06.1f}, {:x}, {:,}, {:o}, {:e}, {:b}/{:08b} via
    conv; center-align/%g raise); integer-keyed MAP subscripts return
    DuckDB's single-element LIST (uq_polymapi probe with the map_keys
    discriminator — lists/strings fall back to the uq_poly pair);
    regexp_extract named-group lists → STRUCT; literal ::INTERVAL →
    Spark INTERVAL literals (comparable ANSI classes);
    timezone_hour/minute → 0; transaction_timestamp → now."""
    cases = {
        "SELECT reverse('éx') AS v": "xé",
        "SELECT reverse('🤦🏼‍♂️ab') AS v": "ba🤦🏼‍♂️",
        "SELECT array_to_string(list_reverse([1,2,3]), ',') AS v": "3,2,1",
        "SELECT array_to_string([1,2,3,4,5][5:1:-2], ',') AS v": "5,3,1",
        "SELECT (MAP {1: 'a'})[1] AS v": ["a"],
        "SELECT m[2][1] AS v FROM (SELECT MAP {2: 'b'} AS m)": "b",
        "SELECT [10,20][2] AS v": 20,
        "SELECT [10,20][-1] AS v": 20,
        "SELECT 'abc'[2] AS v": "b",
        "SELECT format('{:.2f}|{:>6}|{:06.1f}', 3.14159, 'ab', 2.5) AS v":
            "3.14|    ab|0002.5",
        "SELECT format('{:x}', 255) AS v": "ff",
        "SELECT format('{:,}', 1234567) AS v": "1,234,567",
        "SELECT format('{:08b}', 5) AS v": "00000101",
        "SELECT regexp_extract('2024-03-05', '(\\d+)-(\\d+)', ['y', 'm']).y AS v":
            "2024",
        "SELECT '2 days'::INTERVAL > '1 day'::INTERVAL AS v": True,
        "SELECT '1 day 2 hours'::INTERVAL = INTERVAL '26 hours' AS v": True,
        "SELECT timezone_hour(TIMESTAMP '2024-01-01 00:00:00') AS v": 0,
        "SELECT transaction_timestamp() IS NOT NULL AS v": True,
    }
    for sql, want in cases.items():
        got = spark.sql(rw.rewrite(sql)).collect()[0].v
        if isinstance(got, list):
            got = list(got)
        assert got == want, f"{sql}: {got!r} != {want!r}"
    for bad in ["SELECT format('{:^8}', 1)", "SELECT format('{:g}', 1.0)"]:
        with pytest.raises(UQueryError):
            rw.rewrite(bad)


def test_fuzzer_catches_batch28(spark, rw):
    """Regression pins for the three differential-fuzzer catches:
    (1) nested left/right/substr with negative/zero args inside a
    NATIVE outer call were skipped untranslated (silent wrong);
    (2) list_sum over DECIMAL elements hit Spark's fold-stable-type
    rule (uq_poly DOUBLE fallback, width deviation documented);
    (3) list_position is width-strict in Spark where DuckDB coerces
    numerics (both-sides-DOUBLE fallback)."""
    cases = {
        "SELECT right(right('abc', -1), 1) AS v": "c",
        "SELECT left(right('1234', -3), 1) AS v": "4",
        "SELECT right(left('abcd', -1), -1) AS v": "bc",
        "SELECT substr(substr('x y', 0, 2), 2, 2) AS v": "",
        "SELECT substr(substr('abcdef', 0, 4), -2, 2) AS v": "bc",
        "SELECT list_sum([1, floor(3 / 2.0)]) AS v": 2.0,
        "SELECT CAST(list_sum([1.5, 2.25]) AS DOUBLE) AS v": 3.75,
        "SELECT list_sum([1, 2, NULL]) AS v": 3,
        "SELECT list_position([floor(4 / 2.0), 1.0], 2) AS v": 1,
        "SELECT list_position([1, 2], 2.0) AS v": 2,
        "SELECT list_position(['a','b'], 'b') AS v": 2,
        "SELECT list_position([1, 2, 3], 5) AS v": 0,
    }
    for sql, want in cases.items():
        got = spark.sql(rw.rewrite(sql)).collect()[0].v
        assert got == want, f"{sql}: {got!r} != {want!r}"


def test_statement_normalizations_batch28(spark, rw):
    """EXPLAIN ANALYZE → EXPLAIN (no runtime profile — documented) and
    SHOW ALL TABLES → SHOW TABLES."""
    spark.createDataFrame([(1,)], "a int").createOrReplaceTempView("uq28s")
    assert spark.sql(rw.rewrite("EXPLAIN ANALYZE SELECT 1")).collect()
    names = [
        r.tableName
        for r in spark.sql(rw.rewrite("SHOW ALL TABLES")).collect()
    ]
    assert "uq28s" in names
    spark.catalog.dropTempView("uq28s")


def test_agg_fuzzer_catches_batch28(spark, rw):
    """Regression pins for the aggregate-fuzzer catches: arg_max/
    arg_min/max_by/min_by skip NULL-VALUE rows like DuckDB; first/last
    with in-args ORDER BY KEEP null keys at the ordering's end
    (composite null-rank struct key); avg over DECIMAL returns DOUBLE;
    corr over zero variance is NULL (not an ANSI error), pairwise-
    complete."""
    cases = {
        "SELECT min_by(s, i) AS v FROM (VALUES (12, 'a'), (1, NULL)) t(i, s)": "a",
        "SELECT arg_max(s, i) AS v FROM (VALUES (1, NULL), (7, 'a'), (2, 'b')) "
        "t(i, s)": "a",
        "SELECT last(i ORDER BY i) AS v FROM (VALUES (2), (12), (NULL)) t(i)": None,
        "SELECT first(i ORDER BY i) AS v FROM (VALUES (2), (NULL), (-3)) t(i)": -3,
        "SELECT last(i ORDER BY i DESC) AS v FROM (VALUES (2), (NULL), (-3)) t(i)":
            None,
        "SELECT first(i ORDER BY i NULLS FIRST) AS v FROM (VALUES (2), (NULL)) "
        "t(i)": None,
        "SELECT avg(d) AS v FROM (VALUES (1.5), (3.0), (-0.5), (12.0), (1.5), "
        "(1.5), (-0.5)) t(d)": 2.642857142857143,
        "SELECT corr(i, d) AS v FROM (VALUES (0, 1.5), (3, 1.5)) t(i, d)": None,
        "SELECT round(corr(i, d), 6) AS v FROM (VALUES (1, 1.0), (2, 3.0), "
        "(3, 2.0)) t(i, d)": 0.5,
    }
    for sql, want in cases.items():
        got = spark.sql(rw.rewrite(sql)).collect()[0].v
        assert got == want, f"{sql}: {got!r} != {want!r}"


def test_unicode_case_distance_batch28(spark, rw):
    """Unicode edge matrix (batch 28): DuckDB cases via utf8proc's
    SIMPLE 1:1 codepoint mapping — upper('straße') = 'STRAẞE' (not
    SS), ligatures/ŉ unchanged, no final-sigma context, lower('İ') =
    'i', µ → Μ; its levenshtein and hamming/mismatches run on UTF-8
    BYTES (hamming errors on unequal byte lengths). ASCII inputs keep
    the native JVM fast path (length = octet_length guard)."""
    cases = {
        "SELECT upper('straße') AS v": "STRAẞE",
        "SELECT lower('İ') AS v": "i",
        "SELECT upper('ﬁn') AS v": "ﬁN",
        "SELECT lower('ΣΙΓΜΑΣ') AS v": "σιγμασ",
        "SELECT upper('µ') AS v": "Μ",
        "SELECT upper('plain ascii') AS v": "PLAIN ASCII",
        "SELECT levenshtein('héllo', 'hello') AS v": 2,
        "SELECT levenshtein('🤦', 'a') AS v": 4,
        "SELECT levenshtein('abc', 'axc') AS v": 1,
        "SELECT hamming('ab', 'ba') AS v": 2,
        "SELECT mismatches('éé', 'éé') AS v": 0,
        "SELECT upper(NULL) AS v": None,
    }
    for sql, want in cases.items():
        got = spark.sql(rw.rewrite(sql)).collect()[0].v
        assert got == want, f"{sql}: {got!r} != {want!r}"
    with pytest.raises(Exception):
        spark.sql(rw.rewrite("SELECT hamming('aa', 'aé') AS v")).collect()


def test_create_macro_session(spark, rw):
    """In-session CREATE [OR REPLACE] MACRO / DROP MACRO (batch 28) —
    the same inline-at-bind machinery as --db-file attached macros;
    table macros become temp views; duplicate names raise like
    DuckDB's catalog."""
    assert spark.sql(rw.rewrite("CREATE MACRO uq_addx(a, b) AS a + b")).collect() == []
    assert spark.sql(rw.rewrite("SELECT uq_addx(1, 2) AS v")).collect()[0].v == 3
    with pytest.raises(UQueryError):
        rw.rewrite("CREATE MACRO uq_addx(a) AS a")
    spark.sql(rw.rewrite("CREATE OR REPLACE MACRO uq_addx(a, b) AS a * b"))
    assert spark.sql(rw.rewrite("SELECT uq_addx(3, 2) AS v")).collect()[0].v == 6
    spark.sql(rw.rewrite("CREATE MACRO uq_t26m() AS TABLE SELECT 42 AS x"))
    assert spark.sql(rw.rewrite("SELECT * FROM uq_t26m()")).collect()[0].x == 42
    spark.sql(rw.rewrite("DROP MACRO uq_addx"))
    with pytest.raises(UQueryError):
        rw.rewrite("SELECT uq_addx(1, 2)") and rw.rewrite("DROP MACRO uq_addx")
    spark.sql(rw.rewrite("DROP MACRO IF EXISTS uq_never"))
    spark.sql(rw.rewrite("DROP MACRO uq_t26m"))


def test_macro_shadows_builtin_names(spark, rw):
    """Round-11 regression (r10 VERDICT #2): user macros SHADOW built-in
    function names — DuckDB-probed: CREATE MACRO mod(a, b) AS a*100+b;
    SELECT mod(3, 4) → 304 (not 3). The round-10 operator-alias pass
    (mod/add/divide/xor/…) fired before macro expansion and silently
    emitted `3 % nullif(4, 0)` = 3. Macros now expand at the pipeline
    HEAD. Sweep covers the alias maps added rounds 8-10."""
    cases = {
        "mod": ("SELECT mod(3, 4) AS v", 304),
        "add": ("SELECT add(3, 4) AS v", 304),
        "divide": ("SELECT divide(3, 4) AS v", 304),
        "xor": ("SELECT xor(3, 4) AS v", 304),
        "kahan_sum": ("SELECT kahan_sum(3, 4) AS v", 304),
        "sem": ("SELECT sem(3, 4) AS v", 304),
        "fdiv": ("SELECT fdiv(3, 4) AS v", 304),
        "fmod": ("SELECT fmod(3, 4) AS v", 304),
        "even": ("SELECT even(3, 4) AS v", 304),
        "list_unique": ("SELECT list_unique(3, 4) AS v", 304),
        "jaccard": ("SELECT jaccard(3, 4) AS v", 304),
        "strftime": ("SELECT strftime(3, 4) AS v", 304),
    }
    for name, (sql, want) in cases.items():
        spark.sql(rw.rewrite(f"CREATE MACRO {name}(a, b) AS a * 100 + b"))
        try:
            got = spark.sql(rw.rewrite(sql)).collect()[0].v
            assert got == want, f"macro {name} shadow: got {got}"
        finally:
            spark.sql(rw.rewrite(f"DROP MACRO {name}"))
    # and the built-in meaning is restored after DROP
    assert spark.sql(rw.rewrite("SELECT mod(7, 4) AS v")).collect()[0].v == 3


def test_temporal_fuzzer_catches_batch28(spark, rw):
    """Temporal-fuzzer pins: DATE ± INTERVAL widens to TIMESTAMP
    (DuckDB's type — the string forms silently diverged; INTERVAL ±
    INTERVAL and ts-ts chains stay native via the probe); age() as
    DuckDB's calendar decomposition string (borrow rules
    differential-pinned; the INTERVAL-vs-STRING type is the documented
    width deviation); datepart('dow'/…) routes through the
    engine-numbered conversions (Sunday-0)."""
    cases = {
        "SELECT CAST((DATE '2024-03-01' - INTERVAL 3 MONTH) AS VARCHAR) AS v":
            "2023-12-01 00:00:00",
        "SELECT CAST((DATE '2024-01-01' + 5 - INTERVAL 1 DAY) AS VARCHAR) AS v":
            "2024-01-05 00:00:00",
        "SELECT CAST((INTERVAL 1 DAY + INTERVAL 2 DAY) = INTERVAL 3 DAY "
        "AS VARCHAR) AS v": "true",
        "SELECT age(TIMESTAMP '2024-03-15 10:30:00', "
        "TIMESTAMP '2024-01-31 23:59:59.5') AS v": "1 month 14 days 10:30:00.5",
        "SELECT age(TIMESTAMP '2024-01-31 23:59:59.5', "
        "TIMESTAMP '2024-03-15 10:30:00') AS v": "-1 month -14 days -10:30:00.5",
        "SELECT age(TIMESTAMP '2024-03-01 00:00:00', "
        "TIMESTAMP '2024-02-29 00:00:01') AS v": "23:59:59",
        "SELECT age(TIMESTAMP '2024-02-29 00:00:00', "
        "TIMESTAMP '2023-02-28 00:00:00') AS v": "1 year 1 day",
        "SELECT age(TIMESTAMP '2024-01-01 00:00:00', "
        "TIMESTAMP '2024-01-01 00:00:00') AS v": "00:00:00",
        "SELECT age(TIMESTAMP '2024-12-31 23:00:00', "
        "TIMESTAMP '2020-01-01 01:30:00') AS v": "4 years 11 months 30 days 21:30:00",
        "SELECT datepart('dow', DATE '2024-03-01') AS v": 5,
        "SELECT date_part('dow', TIMESTAMP '2024-01-31 23:59:59.5') AS v": 3,
        "SELECT datepart('isodow', DATE '2024-03-01') AS v": 5,
    }
    for sql, want in cases.items():
        got = spark.sql(rw.rewrite(sql)).collect()[0].v
        assert got == want, f"{sql}: {got!r} != {want!r}"


def test_nested_fuzzer_catches_batch28(spark, rw):
    """Nested-type fuzzer pin: list_append/list_prepend coerce numeric
    widths like DuckDB (Spark's array functions are type-strict —
    native probes first, mixed widths fall back to both-sides-DOUBLE)."""
    cases = {
        "SELECT array_to_string(list_append([1.5, 2.5], 9), '|') AS v":
            "1.5|2.5|9.0",
        "SELECT array_to_string(list_append([1, 2], 3), '|') AS v": "1|2|3",
        "SELECT array_to_string(list_prepend(0, [1.5]), '|') AS v": "0.0|1.5",
        "SELECT array_to_string(list_prepend('z', ['a']), '|') AS v": "z|a",
        "SELECT list_append([1,2], NULL)[3] IS NULL AS v": True,
    }
    for sql, want in cases.items():
        got = spark.sql(rw.rewrite(sql)).collect()[0].v
        assert got == want, f"{sql}: {got!r} != {want!r}"


def test_glob_brackets_batch28(spark, rw):
    """Pattern-fuzzer close: GLOB bracket classes translate to anchored
    regex (only '!' negates — '^' is a literal member; ']' first is
    literal; ranges case-sensitive; an UNCLOSED '[' matches NOTHING —
    all DuckDB-probed); bracket-free patterns keep the LIKE fast
    path."""
    cases = {
        "SELECT 'b' GLOB '[!a]' AS v": True,
        "SELECT 'a' GLOB '[^a]' AS v": True,
        "SELECT ']' GLOB '[]]' AS v": True,
        "SELECT 'a' GLOB '[!]a]' AS v": False,
        "SELECT 'd' GLOB '[a-c]' AS v": False,
        "SELECT 'C' GLOB '[a-z]' AS v": False,
        "SELECT '[' GLOB '[' AS v": False,
        "SELECT 'aXc' GLOB 'a[A-Z]c' AS v": True,
        "SELECT 'abc' GLOB 'a*[bc]' AS v": True,
        "SELECT 'abc' GLOB 'a*c' AS v": True,
    }
    for sql, want in cases.items():
        got = spark.sql(rw.rewrite(sql)).collect()[0].v
        assert got == want, f"{sql}: {got!r} != {want!r}"
    with pytest.raises(UQueryError):
        rw.rewrite("SELECT 'a' GLOB '[a-]'")  # DuckDB's never-match edge


def test_round7_advice_fixes(spark, rw, tmp_path):
    """Round-7 advisor fixes (ADVICE.md r6):

    - CREATE OR REPLACE TABLE actually replaces (the DML error message
      documents it as THE rebuild path — it must work twice);
    - avg() over INTERVAL stays native (the DECIMAL→DOUBLE cast is
      poly-probed, not unconditional);
    - glob('p') accepts a user alias (`g` / `g(file)`) without a
      double-alias parse error;
    - bar() with non-positive width raises like DuckDB instead of
      fabricating a partial block;
    - format('{:>6}', numeric) raises (Java %s stringifies '1.0' where
      fmt prints '1'); a string argument still passes.
    """
    # CREATE OR REPLACE TABLE — twice-run (advice: medium)
    spark.sql(rw.rewrite("CREATE OR REPLACE TABLE uq_r7t AS SELECT 1 AS a"))
    assert spark.sql("SELECT a FROM uq_r7t").collect()[0].a == 1
    spark.sql(rw.rewrite("CREATE OR REPLACE TABLE uq_r7t AS SELECT 2 AS a"))
    assert spark.sql("SELECT a FROM uq_r7t").collect()[0].a == 2
    spark.sql(rw.rewrite("DROP TABLE uq_r7t"))

    # avg over INTERVAL — native in both engines, cast must not fire
    got = spark.sql(
        rw.rewrite(
            "SELECT avg(i) AS v FROM "
            "(VALUES (INTERVAL '1' DAY), (INTERVAL '3' DAY)) t(i)"
        )
    ).collect()[0].v
    import datetime

    assert got == datetime.timedelta(days=2)
    # ... while the DECIMAL-width fix still applies to numerics
    typ = (
        spark.sql(
            rw.rewrite("SELECT avg(CAST(1.5 AS DECIMAL(10,2))) AS v")
        )
        .schema["v"]
        .dataType.simpleString()
    )
    assert typ == "double"

    # glob TVF user alias — bare and with column list
    (tmp_path / "r7a.csv").write_text("x")
    rw2 = type(rw)(spark, allowed_dirs=[str(tmp_path)])
    rows = spark.sql(
        rw2.rewrite(f"SELECT g.file FROM glob('{tmp_path}/*.csv') g")
    ).collect()
    assert rows[0].file.endswith("r7a.csv")
    rows = spark.sql(
        rw2.rewrite(f"SELECT h.f FROM glob('{tmp_path}/*.csv') AS h(f)")
    ).collect()
    assert rows[0].f.endswith("r7a.csv")

    # bar() width validation
    from uquery_rs_spark.functions.parity_udfs import _bar

    assert _bar(2, 0, 10, 10).rstrip() == "██"
    with pytest.raises(ValueError):
        _bar(5, 0, 10, -1)
    with pytest.raises(ValueError):
        _bar(5, 0, 10, 0)

    # format aligned no-type placeholders
    with pytest.raises(UQueryError):
        rw.rewrite("SELECT format('{:>6}', 1.5)")
    got = spark.sql(rw.rewrite("SELECT format('{:>6}', 'ab') AS v")).collect()[0].v
    assert got == "    ab"
    got = spark.sql(
        rw.rewrite("SELECT format('{:<4}', upper('ab')) AS v")
    ).collect()[0].v
    assert got == "AB  "


def test_div_by_zero_parity(spark, rw):
    """Round-7 ÷0 parity (VERDICT r6 #2): DuckDB returns NULL for x/0,
    x%0, x//0 in EVERY numeric type (DOUBLE included — NOT Infinity);
    Spark's ANSI mode raises. The nullif-divisor wrap must agree, keep
    non-zero results identical (precedence, left-associativity,
    windowed and CASE divisors), return DOUBLE for '/' like DuckDB
    (decimal operands included), and skip string literals. Fuzz
    companion: `div` axis, 1440 cases, two seeds, clean; DuckDB
    differential matrix 178/178."""
    cases = {
        "SELECT 1/0 AS v": None,
        "SELECT 1.0/0.0 AS v": None,
        "SELECT 1 % 0 AS v": None,
        "SELECT 7 // 0 AS v": None,
        "SELECT 7 // 2 AS v": 3,
        "SELECT 6 * 4 / 8 AS v": 3.0,
        "SELECT 2 + 6 / 3 * 4 AS v": 10.0,
        "SELECT -7 % 2 AS v": -1,
        "SELECT 10 / (SELECT 0) AS v": None,
        "SELECT 4 / CASE WHEN 1=1 THEN 0 ELSE 2 END AS v": None,
        "SELECT 10 / (2 / 0) AS v": None,  # nested-divisor rescan
        "SELECT 'a/b' AS v": "a/b",
        "SELECT 1 / 2.5 AS v": 0.4,  # decimal operand → DOUBLE
        "SELECT CAST(-2.50 AS DECIMAL(10,2)) / -7 AS v": 0.35714285714285715,
    }
    for sql, want in cases.items():
        got = spark.sql(rw.rewrite(sql)).collect()[0].v
        assert got == want, f"{sql}: {got!r} != {want!r}"
    # '/' on decimals is DOUBLE (DuckDB-probed), windowed divisors keep
    # their OVER clause inside the wrap
    assert (
        spark.sql(rw.rewrite("SELECT 1 / 2.5 AS v")).schema["v"].dataType.simpleString()
        == "double"
    )
    row = spark.sql(
        rw.rewrite(
            "SELECT x / sum(x) OVER () AS a, sum(x) OVER () / 4 AS b "
            "FROM (VALUES (2), (2)) t(x) LIMIT 1"
        )
    ).collect()[0]
    assert (row.a, row.b) == (0.5, 1.0)
    # interval dividends keep the native path, ÷0 still NULL
    import datetime

    assert spark.sql(rw.rewrite("SELECT INTERVAL '10' HOUR / 2 AS v")).collect()[
        0
    ].v == datetime.timedelta(hours=5)
    assert (
        spark.sql(rw.rewrite("SELECT INTERVAL '10' HOUR / 0 AS v")).collect()[0].v
        is None
    )


def test_projected_in_subquery_nulls(spark, rw):
    """Round-7: projected x [NOT] IN (subquery) is three-valued like
    DuckDB (NULL element + no match → NULL); WHERE/HAVING position
    keeps Spark's native semi-join (value-identical). All cases
    DuckDB-differential-verified."""
    cases = {
        "SELECT 3 IN (SELECT * FROM (VALUES (1), (NULL)) t(v)) AS v": None,
        "SELECT 1 IN (SELECT * FROM (VALUES (1), (NULL)) t(v)) AS v": True,
        "SELECT NULL IN (SELECT * FROM (VALUES (1), (2)) t(v)) AS v": None,
        # empty subquery: FALSE even for a NULL probe
        "SELECT NULL IN (SELECT * FROM (VALUES (1)) t(v) WHERE v > 5) AS v": False,
        "SELECT 3 NOT IN (SELECT * FROM (VALUES (1), (NULL)) t(v)) AS v": None,
        "SELECT 3 NOT IN (SELECT * FROM (VALUES (1), (2)) t(v)) AS v": True,
        "SELECT 1 NOT IN (SELECT * FROM (VALUES (1), (NULL)) t(v)) AS v": False,
        # WHERE position: NULL filters like FALSE — fast path untouched
        "SELECT count(*) AS v FROM (VALUES (3)) s(x) "
        "WHERE x IN (SELECT * FROM (VALUES (1), (NULL)) t(v))": 0,
    }
    for sql, want in cases.items():
        got = spark.sql(rw.rewrite(sql)).collect()[0].v
        assert got == want, f"{sql}: {got!r} != {want!r}"
    # the WHERE-position text is NOT rewritten into the CASE form
    out = rw.rewrite(
        "SELECT x FROM t WHERE x IN (SELECT v FROM u)"
    )
    assert "uq_inq" not in out
    out = rw.rewrite("SELECT x IN (SELECT v FROM u) AS f FROM t")
    assert "uq_inq" in out


def test_list_distinct_removes_nulls(spark, rw):
    """Round-7 nested-fuzzer catch: DuckDB list_distinct/array_distinct
    REMOVE NULL elements ([5,NULL,7,NULL] → [7,5], [NULL] → []);
    Spark's array_distinct keeps one. Element order stays a documented
    deviation — compare sorted/len only."""
    cases = {
        "SELECT len(list_distinct([5, NULL, 7, NULL])) AS v": 2,
        "SELECT list_sort(list_distinct([5, NULL, 7, NULL, 5])) AS v": [5, 7],
        "SELECT list_distinct([NULL]) AS v": [],
        "SELECT len(array_distinct(['a', NULL, 'a'])) AS v": 1,
    }
    for sql, want in cases.items():
        got = spark.sql(rw.rewrite(sql)).collect()[0].v
        if isinstance(got, list):
            got = list(got)
        assert got == want, f"{sql}: {got!r} != {want!r}"


def test_nested_aggs_over_window(spark, rw):
    """Round-7: mad/entropy/histogram graduated to windowed forms —
    every internal aggregate (collect_list/percentile) carries the
    OVER clause; Catalyst computes each distinct window expression
    once per spec. Default-frame semantics (whole partition without
    ORDER BY, RANGE UNBOUNDED..CURRENT ROW with) match DuckDB —
    differential-verified (entropy agrees to 1 ULP; asserted rounded).
    FILTER still raises."""
    rows = spark.sql(
        rw.rewrite(
            "SELECT i, s, round(entropy(i) OVER (PARTITION BY s), 6) AS e, "
            "mad(i) OVER (PARTITION BY s) AS m "
            "FROM (VALUES (1,'a'),(1,'a'),(2,'a'),(5,'b')) t(i,s) "
            "ORDER BY s, i"
        )
    ).collect()
    assert [tuple(r) for r in rows] == [
        (1, "a", 0.918296, 0.0),
        (1, "a", 0.918296, 0.0),
        (2, "a", 0.918296, 0.0),
        (5, "b", 0.0, 0.0),
    ]  # DuckDB-verified values (mad of {1,1,2}: devs {0,0,1} -> 0)
    # running (ORDER BY) frame: RANGE UNBOUNDED..CURRENT ROW in both
    rows = spark.sql(
        rw.rewrite(
            "SELECT i, round(entropy(i) OVER (ORDER BY i), 6) AS e, "
            "mad(i) OVER (ORDER BY i) AS m "
            "FROM (VALUES (1),(1),(2),(3)) t(i) ORDER BY i"
        )
    ).collect()
    assert [tuple(r) for r in rows] == [
        (1, 0.0, 0.0), (1, 0.0, 0.0), (2, 0.918296, 0.0), (3, 1.5, 0.5),
    ]  # DuckDB-verified
    # histogram OVER returns the same map values (rendering differs)
    h = spark.sql(
        rw.rewrite(
            "SELECT histogram(i) OVER (PARTITION BY s) AS h "
            "FROM (VALUES (1,'a'),(1,'a'),(2,'a')) t(i,s) LIMIT 1"
        )
    ).collect()[0].h
    assert dict(h) == {1: 2, 2: 1}
    # mad(DISTINCT) OVER graduated in round 9 —
    # test_round9_mad_distinct_over


def test_round8_nested_agg_distinct(spark, rw):
    """Round 8: DISTINCT forms of the nested aggregates — DuckDB
    accepts them; entropy/histogram have closed forms over the
    distinct set (every frequency is 1 → entropy = log2(n_distinct),
    histogram maps each key to 1), mad dedupes via collect_set with a
    percentile(DISTINCT) median. DuckDB-verified expected values."""
    run = lambda s: [tuple(r) for r in spark.sql(rw.rewrite(s)).collect()]
    V = "(VALUES (1.0),(1.0),(2.0),(10.0)) t(x)"
    assert run(f"SELECT mad(DISTINCT x) AS m FROM {V}") == [(1.0,)]
    assert run(
        f"SELECT round(entropy(DISTINCT x), 6) AS e FROM {V}"
    ) == [(1.584963,)]
    h = spark.sql(
        rw.rewrite(f"SELECT histogram(DISTINCT x) AS h FROM {V}")
    ).collect()[0].h
    assert dict(h) == {1.0: 1, 2.0: 1, 10.0: 1}
    # DISTINCT + FILTER compose (filter first, then dedup)
    assert run(
        f"SELECT round(entropy(DISTINCT x) FILTER (WHERE x < 10), 6) AS e "
        f"FROM {V}"
    ) == [(1.0,)]
    # DISTINCT + OVER for the closed forms
    assert run(
        "SELECT k, round(entropy(DISTINCT x) OVER (PARTITION BY g), 6) AS e "
        "FROM (VALUES (1,1,1),(1,2,1),(1,3,2),(2,4,5)) t(g,k,x) ORDER BY k"
    ) == [(1, 1.0), (2, 1.0), (3, 1.0), (4, 0.0)]


def test_round8_array_agg_null_parity(spark, rw):
    """Round-8 close of the list()/array_agg NULL-element drop (VERDICT
    r7 'What's wrong' #1 / NOTES item 11): DuckDB's list()/array_agg
    KEEP NULL elements and return NULL (never []) on empty input.
    Expected values DuckDB-1.x-verified."""
    run = lambda s: [tuple(r) for r in spark.sql(rw.rewrite(s)).collect()]
    # NULL elements kept, grouped
    assert run(
        "SELECT g, list(x) AS l FROM (VALUES (1,1),(1,NULL),(1,2),(2,NULL)) "
        "t(g,x) GROUP BY g ORDER BY g"
    ) == [(1, [1, None, 2]), (2, [None])]
    # empty input → NULL, not []
    assert run("SELECT array_agg(x) AS l FROM (SELECT 1 AS x WHERE FALSE)") == [
        (None,)
    ]
    # FILTER excluding every row in a group → NULL
    assert run(
        "SELECT g, list(x) FILTER (WHERE FALSE) AS l FROM "
        "(VALUES (1,1),(2,2)) t(g,x) GROUP BY g ORDER BY g"
    ) == [(1, None), (2, None)]
    # DISTINCT keeps exactly one NULL (order canonicalized)
    assert run(
        "SELECT list_sort(list(DISTINCT x)) AS l FROM "
        "(VALUES (1),(NULL),(2),(NULL),(1)) t(x)"
    ) == [([1, 2, None],)]
    # windowed running frame keeps NULLs
    assert run(
        "SELECT list(x) OVER (PARTITION BY g ORDER BY k) AS l FROM "
        "(VALUES (1,1,1),(1,2,NULL),(2,1,5)) t(g,k,x) ORDER BY g, k"
    ) == [([1],), ([1, None],), ([5],)]
    # FILTER over a window folds into the struct (not the old NULL-drop)
    assert run(
        "SELECT list(x) FILTER (WHERE x > 1) OVER (PARTITION BY g) AS l "
        "FROM (VALUES (1,1),(1,2),(1,NULL),(2,1)) t(g,x) ORDER BY g"
    ) == [([2],), ([2],), ([2],), (None,)]
    # ordered form + FILTER (new: FILTER consumed by the ordered pass)
    assert run(
        "SELECT list(x ORDER BY y) FILTER (WHERE y < 3) AS l FROM "
        "(VALUES (1,1),(NULL,2),(3,3)) t(x,y)"
    ) == [([1, None],)]


def test_round8_advice_fixes(spark, rw):
    """Round-8 advisor fixes (ADVICE.md r7):

    - projected IN with a compound LHS: DuckDB parses ``1 + 2 IN (…)``
      as ``(1+2) IN (…)`` and ``CASE … END IN (…)`` over the whole
      CASE — both previously garbled into Catalyst errors;
    - _in_clause_of: escaped '' literals and quoted identifiers named
      like clause keywords no longer misclassify the clause;
    - format('{:>6}', string_column) is accepted (Java %s == fmt for
      strings) behind a runtime typeof dispatch; a numeric column
      raises at execution, numeric literals still raise at rewrite.
    """
    run = lambda s: [tuple(r) for r in spark.sql(rw.rewrite(s)).collect()]
    sub = "(SELECT x FROM (VALUES (CAST(NULL AS INT)),(5)) t(x))"
    # arithmetic LHS: (1+2) IN {NULL,5} → NULL in DuckDB
    assert run(f"SELECT 1 + 2 IN {sub} AS r") == [(None,)]
    # CASE…END LHS, non-matching → NULL; matching → TRUE
    assert run(
        f"SELECT CASE WHEN 1=1 THEN 2 ELSE 3 END IN {sub} AS r"
    ) == [(None,)]
    assert run(
        f"SELECT CASE WHEN 1=1 THEN 5 ELSE 3 END IN {sub} AS r"
    ) == [(True,)]
    # concat chain LHS
    assert run(
        "SELECT 'a' || 'b' IN (SELECT s FROM (VALUES "
        "(CAST(NULL AS STRING)),('x')) t(s)) AS r"
    ) == [(None,)]
    # apostrophe literal + keyword-named quoted identifier before IN
    assert run(f"SELECT 'it''s' AS tag, 2 IN {sub} AS r") == [("it's", None)]
    assert run(f'SELECT 5 AS "where", 2 IN {sub} AS r') == [(5, None)]
    # format(): bare string column passes, numeric column raises at run
    assert run(
        "SELECT format('[{:>6}]', name) AS r FROM (VALUES ('ab')) t(name)"
    ) == [("[    ab]",)]
    with pytest.raises(Exception, match="requires a string argument"):
        spark.sql(
            rw.rewrite("SELECT format('{:>6}', n) AS r FROM (VALUES (1)) t(n)")
        ).collect()


def test_round8_create_or_replace_keeps_old_on_failure(spark, rw):
    """ADVICE r7: DuckDB's CREATE OR REPLACE keeps the old object when
    the new definition fails — the body is now rewritten and
    analysis-probed BEFORE any drop side effect."""
    from uquery_rs_spark.errors import UQueryError

    spark.sql(rw.rewrite("CREATE OR REPLACE TABLE uq_r8k AS SELECT 7 AS a"))
    assert spark.sql("SELECT a FROM uq_r8k").collect()[0].a == 7
    # analysis failure: unknown relation in the new body
    with pytest.raises(Exception):
        rw.rewrite(
            "CREATE OR REPLACE TABLE uq_r8k AS SELECT b FROM uq_no_such_rel"
        )
    # rewrite failure: untranslatable body
    with pytest.raises(UQueryError):
        rw.rewrite("CREATE OR REPLACE TABLE uq_r8k AS SELECT md5_number('x')")
    assert spark.sql("SELECT a FROM uq_r8k").collect()[0].a == 7
    spark.sql(rw.rewrite("DROP TABLE uq_r8k"))


def test_round8_nested_agg_filter(spark, rw):
    """Round 8 raise-tail shrink: mad/entropy/histogram with FILTER —
    all three skip NULLs, so the filter CASE-folds into the argument
    exactly (DuckDB-differential-verified, incl. the all-excluded
    corner: mad→NULL, entropy→0.0, histogram→NULL)."""
    run = lambda s: [tuple(r) for r in spark.sql(rw.rewrite(s)).collect()]
    assert run(
        "SELECT g, mad(x) FILTER (WHERE x < 10) AS m FROM (VALUES "
        "(1,1.0),(1,2.0),(1,3.0),(1,99.0),(2,5.0)) t(g,x) "
        "GROUP BY g ORDER BY g"
    ) == [(1, 1.0), (2, 0.0)]
    assert run(
        "SELECT g, round(entropy(x) FILTER (WHERE x > 0), 6) AS e FROM "
        "(VALUES (1,1),(1,1),(1,2),(1,-5),(2,-1)) t(g,x) "
        "GROUP BY g ORDER BY g"
    ) == [(1, 0.918296), (2, 0.0)]
    h = spark.sql(
        rw.rewrite(
            "SELECT histogram(x) FILTER (WHERE x % 2 = 1) AS h FROM "
            "(VALUES (1),(1),(2),(3)) t(x)"
        )
    ).collect()[0].h
    assert dict(h) == {1: 2, 3: 1}
    # FILTER + OVER compose
    assert run(
        "SELECT k, mad(x) FILTER (WHERE x < 10) OVER (PARTITION BY g) AS m "
        "FROM (VALUES (1,1,1.0),(1,2,2.0),(1,3,99.0),(2,4,5.0)) t(g,k,x) "
        "ORDER BY k"
    ) == [(1, 0.5), (2, 0.5), (3, 0.5), (4, 0.0)]
    # all-excluded corners
    assert run(
        "SELECT mad(x) FILTER (WHERE FALSE) AS m, "
        "entropy(x) FILTER (WHERE FALSE) AS e, "
        "histogram(x) FILTER (WHERE FALSE) AS h FROM (VALUES (1)) t(x)"
    ) == [(None, 0.0, None)]


def test_round8_window_exclude_group_ties(spark, rw):
    """Round 8 raise-tail shrink: window-frame EXCLUDE GROUP / TIES for
    the invertible aggregates (sum/count/avg, count(*)) — frame
    aggregate minus the peer group's contribution (a second window
    partitioned by partition keys + ORDER BY exprs), TIES adding the
    current row back. 16-case DuckDB differential matrix (both modes ×
    4 aggs × running/whole-partition RANGE frames) verified; ROWS
    frames and non-invertible aggs still raise."""
    run = lambda s: [tuple(r) for r in spark.sql(rw.rewrite(s)).collect()]
    V = (
        "(VALUES (1,1,1.0),(1,1,2.0),(1,2,3.0),(1,2,NULL),(1,3,5.0),"
        "(2,1,7.0)) t(g,k,x)"
    )
    F = "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    assert run(
        f"SELECT g, k, CAST(x AS DOUBLE) x, CAST(sum(x) OVER (PARTITION BY g "
        f"ORDER BY k {F} EXCLUDE GROUP) AS DOUBLE) AS s FROM {V} "
        "ORDER BY g, k, x NULLS LAST"
    ) == [
        (1, 1, 1.0, None), (1, 1, 2.0, None), (1, 2, 3.0, 3.0),
        (1, 2, None, 3.0), (1, 3, 5.0, 6.0), (2, 1, 7.0, None),
    ]  # DuckDB-verified
    assert run(
        f"SELECT g, k, CAST(x AS DOUBLE) x, CAST(sum(x) OVER (PARTITION BY g "
        f"ORDER BY k {F} EXCLUDE TIES) AS DOUBLE) AS s FROM {V} "
        "ORDER BY g, k, x NULLS LAST"
    ) == [
        (1, 1, 1.0, 1.0), (1, 1, 2.0, 2.0), (1, 2, 3.0, 6.0),
        (1, 2, None, 3.0), (1, 3, 5.0, 11.0), (2, 1, 7.0, 7.0),
    ]  # DuckDB-verified
    assert run(
        f"SELECT g, k, count(*) OVER (PARTITION BY g ORDER BY k {F} "
        f"EXCLUDE TIES) AS c FROM {V} ORDER BY g, k, x NULLS LAST"
    ) == [(1, 1, 1), (1, 1, 1), (1, 2, 3), (1, 2, 3), (1, 3, 5), (2, 1, 1)]
    from uquery_rs_spark.errors import UQueryError

    for bad in (
        "SELECT sum(x) OVER (ORDER BY k ROWS BETWEEN 1 PRECEDING AND "
        "1 FOLLOWING EXCLUDE TIES) FROM t",
        f"SELECT min(x) OVER (ORDER BY k {F} EXCLUDE GROUP) FROM t",
    ):
        with pytest.raises(UQueryError):
            rw.rewrite(bad)


def test_round8_array_agg_distinct_ordered(spark, rw):
    """Round 8: array_agg/list(DISTINCT x ORDER BY x) — DuckDB admits
    DISTINCT+ORDER BY only when the sort key is the aggregated
    expression (Postgres rule); dedupe then sort directly, keeping the
    single NULL and DuckDB's NULLS-LAST-both-directions default."""
    run = lambda s: [tuple(r) for r in spark.sql(rw.rewrite(s)).collect()]
    V = "(VALUES (3),(1),(NULL),(3),(2),(NULL)) t(x)"
    assert run(f"SELECT list(DISTINCT x ORDER BY x) AS l FROM {V}") == [
        ([1, 2, 3, None],)
    ]
    assert run(f"SELECT list(DISTINCT x ORDER BY x DESC) AS l FROM {V}") == [
        ([3, 2, 1, None],)
    ]
    assert run(
        f"SELECT list(DISTINCT x ORDER BY x NULLS FIRST) AS l FROM {V}"
    ) == [([None, 1, 2, 3],)]
    # FILTER composes; all-excluded → NULL
    assert run(
        f"SELECT array_agg(DISTINCT x ORDER BY x) "
        f"FILTER (WHERE x > 1) AS l FROM {V}"
    ) == [([2, 3],)]
    assert run(
        f"SELECT list(DISTINCT x ORDER BY x) FILTER (WHERE FALSE) AS l "
        f"FROM {V}"
    ) == [(None,)]


def test_round8_time_type(spark, rw):
    """Round 8: DuckDB TIME graduation — Spark 4.1's TIME type behind
    spark.sql.timeType.enabled (set by the session factory, load_tables
    and the rewriter). Literals, VARCHAR<->TIME casts, comparisons,
    make_time and hour/minute extraction are native; TIMESTAMP->TIME
    takes a probe-dispatched date_format detour; EXTRACT(SECOND) is
    truncated BIGINT like DuckDB (45.5 -> 45 — Spark's native extract
    returns DECIMAL and its decimal->int cast ROUNDS, so the wrap is
    DIV 1); epoch(TIME) is seconds since midnight. All expected values
    DuckDB-verified."""
    import datetime

    run = lambda s: [tuple(r) for r in spark.sql(rw.rewrite(s)).collect()]
    assert run("SELECT TIME '10:30:00' AS t") == [(datetime.time(10, 30),)]
    assert run("SELECT CAST(TIME '10:30:00.100' AS VARCHAR) AS s") == [
        ("10:30:00.1",)
    ]
    assert run("SELECT '10:30:00.25'::TIME AS t") == [
        (datetime.time(10, 30, 0, 250000),)
    ]
    assert run(
        "SELECT CAST(TIMESTAMP '2024-01-02 10:30:00.5' AS TIME) AS t"
    ) == [(datetime.time(10, 30, 0, 500000),)]
    assert run("SELECT make_time(6, 7, 8.25) AS t") == [
        (datetime.time(6, 7, 8, 250000),)
    ]
    assert run(
        "SELECT EXTRACT(SECOND FROM TIME '10:30:45.5') AS a, "
        "EXTRACT(SECOND FROM TIMESTAMP '2024-01-01 10:30:45.5') AS b, "
        "EXTRACT(SECOND FROM INTERVAL '-95' SECOND) AS c, "
        "date_part('s', TIME '10:30:45.9') AS d"
    ) == [(45, 45, -35, 45)]
    assert run("SELECT EXTRACT(EPOCH FROM TIME '01:00:00.5') AS e") == [
        (3600.5,)
    ]
    assert run(
        "SELECT TRY_CAST('25:61:00' AS TIME) AS bad, "
        "greatest(TIME '10:30:00', TIME '11:00:00') AS g"
    ) == [(None, datetime.time(11, 0))]
    # round-trip through a nested cast chain (marker recursion)
    assert run(
        "SELECT (CAST(CAST(TIME '10:30:00.5' AS VARCHAR) AS TIME) "
        "= TIME '10:30:00.5') AS rt"
    ) == [(True,)]
    from uquery_rs_spark.errors import UQueryError

    with pytest.raises(UQueryError):
        rw.rewrite("SELECT CAST('10:00:00' AS TIMETZ)")


def test_round8_gap_probe_fixes(spark, rw):
    """Round-8 mini gap-hunt catches: format_bytes truncates toward
    zero at one decimal and picks the unit on |x| (DuckDB: 1234567 →
    '1.1 MiB' not '1.2'; -2048 → '-2.0 KiB'); version() mirrors the
    oracle engine's tag; count_star() = count(*)."""
    import duckdb

    run = lambda s: [tuple(r) for r in spark.sql(rw.rewrite(s)).collect()]
    assert run(
        "SELECT format_bytes(1234567) AS a, format_bytes(1048575) AS b, "
        "format_bytes(-2048) AS c, format_bytes(1023) AS d"
    ) == [("1.1 MiB", "1023.9 KiB", "-2.0 KiB", "1023 bytes")]
    assert run("SELECT version() AS v") == [(f"v{duckdb.__version__}",)]
    assert run(
        "SELECT count_star() AS n FROM (VALUES (1),(2)) t(x)"
    ) == [(2,)]


def test_round8_gap_probe_fixes2(spark, rw):
    """Round-8 gap probe, second wave: not_[i]like_escape variants,
    ends_with alias, 2-arg array_length dimension-1 collapse."""
    run = lambda s: [tuple(r) for r in spark.sql(rw.rewrite(s)).collect()]
    assert run(
        "SELECT like_escape('a%b', 'a$%b', '$') AS a, "
        "not_like_escape('a%b', 'a$%b', '$') AS b, "
        "ilike_escape('A%b', 'a$%B', '$') AS c, "
        "not_ilike_escape('A%b', 'a$%B', '$') AS d"
    ) == [(True, False, True, False)]
    assert run(
        "SELECT ends_with('hello', 'lo') AS a, "
        "array_length([[1],[2,3]], 1) AS b"
    ) == [(True, 2)]
    from uquery_rs_spark.errors import UQueryError

    with pytest.raises(UQueryError):
        rw.rewrite("SELECT array_length([[1]], 2)")


def test_round8_regr_family(spark, rw):
    """Wave-3 gap probe: the regr_* family is natively identical except
    regr_avgx/avgy, whose avg-of-DECIMAL typing leaked a DECIMAL schema
    where DuckDB returns DOUBLE (value-same; now CAST-wrapped)."""
    V = "(VALUES (1, 2.0), (2, 3.5), (3, 7.0), (4, 9.5)) t(x, y)"
    row = spark.sql(
        rw.rewrite(
            f"SELECT round(regr_slope(y, x), 6) AS s, "
            f"round(regr_intercept(y, x), 6) AS i, "
            f"round(regr_r2(y, x), 6) AS r2, regr_count(y, x) AS n, "
            f"regr_avgx(y, x) AS ax, regr_avgy(y, x) AS ay FROM {V}"
        )
    )
    assert [f.dataType.simpleString() for f in row.schema.fields[-2:]] == [
        "double", "double",
    ]
    assert tuple(row.collect()[0]) == (2.6, -1.0, 0.97971, 4, 2.5, 5.5)


def test_round9_exclude_noncurrent_frame_guard(spark, rw):
    """Round 9 ADVICE fix: the no-current-row frame guard must catch
    ANY offset token — decimal, INTERVAL, expression — not just bare
    integers. DuckDB-differential: the decimal case below returned
    30/60/60 where the old translation produced 0/-30/-30 (silent
    wrong values); now it raises loudly."""
    from uquery_rs_spark.errors import UQueryError

    for bad in (
        "SELECT sum(x) OVER (ORDER BY k RANGE BETWEEN 10.0 PRECEDING "
        "AND 0.5 PRECEDING EXCLUDE GROUP) FROM t",
        "SELECT sum(x) OVER (ORDER BY ts RANGE BETWEEN INTERVAL '2' HOUR "
        "PRECEDING AND INTERVAL '1' HOUR PRECEDING EXCLUDE TIES) FROM t",
        "SELECT sum(x) OVER (ORDER BY ts RANGE BETWEEN INTERVAL '2' HOUR "
        "PRECEDING AND INTERVAL '1' HOUR PRECEDING EXCLUDE CURRENT ROW) FROM t",
        "SELECT avg(x) OVER (ORDER BY k RANGE BETWEEN (1+1) FOLLOWING "
        "AND (2+2) FOLLOWING EXCLUDE GROUP) FROM t",
    ):
        with pytest.raises(UQueryError, match="does not contain"):
            rw.rewrite(bad)
    # interval frame CONTAINING the current row still translates —
    # DuckDB-verified values (peers at the same ts excluded)
    got = [
        tuple(r)
        for r in spark.sql(
            rw.rewrite(
                "SELECT CAST(sum(x) OVER (ORDER BY ts RANGE BETWEEN "
                "INTERVAL '1' HOUR PRECEDING AND CURRENT ROW EXCLUDE GROUP) "
                "AS DOUBLE) AS s FROM (VALUES "
                "(TIMESTAMP '2024-01-01 00:00:00', 1.0),"
                "(TIMESTAMP '2024-01-01 00:30:00', 2.0),"
                "(TIMESTAMP '2024-01-01 00:30:00', 4.0),"
                "(TIMESTAMP '2024-01-01 02:00:00', 8.0)) t(ts,x) "
                "ORDER BY ts, s NULLS FIRST"
            )
        ).collect()
    ]
    assert got == [(None,), (1.0,), (1.0,), (None,)]  # DuckDB-verified


def test_round9_regr_avg_suffix_forms(spark, rw):
    """Round 9 ADVICE fix: the regr_avgx/avgy DOUBLE cast must wrap
    any trailing FILTER/OVER suffix instead of splitting it off (the
    r8 wrap produced `CAST(f(x) AS DOUBLE) OVER (...)` — a
    ParseException for previously-working forms). DuckDB-verified."""
    run = lambda s: [tuple(r) for r in spark.sql(rw.rewrite(s)).collect()]
    V = "(VALUES (1,1.0,10.0),(1,2.0,20.0),(1,2.0,30.0),(1,3.5,40.0),(2,1.0,5.0)) t(g,k,x)"
    assert run(
        f"SELECT g, regr_avgx(x, k) OVER (PARTITION BY g) AS r FROM {V} "
        "ORDER BY g, r"
    ) == [(1, 2.125), (1, 2.125), (1, 2.125), (1, 2.125), (2, 1.0)]
    assert run(
        f"SELECT g, regr_avgy(x, k) FILTER (WHERE k > 1) AS r FROM {V} "
        "GROUP BY g ORDER BY g"
    ) == [(1, 30.0), (2, None)]
    assert run(f"SELECT regr_avgx(x, k) AS r FROM {V}") == [(1.9,)]


def test_round9_create_or_replace_keeps_old_on_runtime_failure(spark, rw):
    """NOTES 21b close (r8 verdict item 3): DuckDB keeps the old object
    when the replacement fails at RUNTIME too, not just at
    rewrite/analysis time. The new body below passes analysis (valid
    plan, valid types) but fails during materialization (ANSI integer
    overflow on a data row) — the old table must still answer, and no
    staging debris may remain."""
    spark.sql(rw.rewrite("CREATE OR REPLACE TABLE uq_r9r AS SELECT 7 AS a"))
    assert spark.sql("SELECT a FROM uq_r9r").collect()[0].a == 7
    with pytest.raises(Exception):
        # analysis-clean, runtime ANSI overflow (127y + 127y)
        rw.rewrite(
            "CREATE OR REPLACE TABLE uq_r9r AS "
            "SELECT CAST(x AS TINYINT) + CAST(x AS TINYINT) AS a "
            "FROM (VALUES (1), (127)) t(x)"
        )
    assert spark.sql("SELECT a FROM uq_r9r").collect()[0].a == 7
    debris = [
        t.name
        for t in spark.catalog.listTables()
        if "__uq_stage_" in t.name
    ]
    assert debris == []
    # a successful replace still swaps
    spark.sql(rw.rewrite("CREATE OR REPLACE TABLE uq_r9r AS SELECT 9 AS a"))
    assert spark.sql("SELECT a FROM uq_r9r").collect()[0].a == 9
    spark.sql(rw.rewrite("DROP TABLE uq_r9r"))


def test_round9_time_interval_wraparound(spark, rw):
    """NOTES 21g close: TIME ± INTERVAL wraps mod 24h like DuckDB
    (previously a loud DATETIME_OVERFLOW deviation), while TIMESTAMP/
    DATE/STRING/interval operands keep native Spark arithmetic. All
    expected values DuckDB-verified."""
    one = lambda s: spark.sql(rw.rewrite(s)).collect()[0].a

    # TIME operands: wraparound applies
    assert str(one("SELECT TIME '23:30:00' + INTERVAL '2' HOUR AS a")) == "01:30:00"
    assert str(one("SELECT TIME '01:00:00' - INTERVAL '2' HOUR AS a")) == "23:00:00"
    assert str(one("SELECT INTERVAL '25' HOUR + TIME '01:00:00' AS a")) == "02:00:00"
    assert (
        str(one("SELECT TIME '23:59:59' + INTERVAL '1500' MILLISECOND AS a"))
        == "00:00:00.500000"
    )
    # calendar components are whole days mod 24 h (DuckDB 30-day months)
    assert (
        str(one("SELECT TIME '10:00:00.5' + INTERVAL '1' MONTH AS a"))
        == "10:00:00.500000"
    )
    assert str(one("SELECT TIME '06:00:00' + INTERVAL '1 day 2 hours' AS a")) == "08:00:00"
    # left-assoc chain
    assert (
        str(one("SELECT TIME '22:00:00' + INTERVAL '90' MINUTE + INTERVAL '2' HOUR AS a"))
        == "01:30:00"
    )
    # TIME column
    assert (
        str(one("SELECT t + INTERVAL '2' HOUR AS a FROM (VALUES (TIME '23:30:00')) v(t)"))
        == "01:30:00"
    )
    # non-TIME operand classes stay native
    assert (
        str(one("SELECT TIMESTAMP '2024-01-01 23:30:00' + INTERVAL '2' HOUR AS a"))
        == "2024-01-02 01:30:00"
    )
    assert str(one("SELECT DATE '1998-12-01' - INTERVAL '90' DAY AS a")).startswith(
        "1998-09-02"
    )
    assert (
        str(one("SELECT INTERVAL '1' HOUR + INTERVAL '30' MINUTE AS a"))
        == "1:30:00"
    )
    assert (
        str(one("SELECT CAST('2024-01-01' AS TIMESTAMP) + INTERVAL '1' DAY AS a"))
        == "2024-01-02 00:00:00"
    )
    # precedence: a trailing * owns the interval literal (battery5 shape)
    assert str(one(
        "SELECT CAST('2024-01-01' AS DATE) + INTERVAL 1 DAY * (1 + 2) AS a"
    )).startswith("2024-01-04")


def test_round9_mad_distinct_over(spark, rw):
    """Round 9: mad(DISTINCT x) OVER — the last raise of the nested-agg
    family. Translated via the aggregate()-as-LET idiom so the sorted
    distinct set, its median, and the deviations array are each
    evaluated ONCE (the r7 lambda-invariant-re-evaluation trap made a
    naive inline O(n² log n)). DuckDB-verified values."""
    run = lambda s: [tuple(r) for r in spark.sql(rw.rewrite(s)).collect()]
    assert run(
        "SELECT g, round(CAST(mad(DISTINCT x) OVER (PARTITION BY g) "
        "AS DOUBLE), 6) AS m FROM (VALUES (1,1.0),(1,2.0),(1,2.0),"
        "(1,10.0),(2,5.0),(2,CAST(NULL AS DECIMAL(3,1)))) t(g,x) "
        "ORDER BY g, m"
    ) == [(1, 1.0)] * 4 + [(2, 0.0)] * 2
    assert run(
        "SELECT x, round(CAST(mad(DISTINCT x) OVER (ORDER BY x ROWS "
        "BETWEEN 1 PRECEDING AND CURRENT ROW) AS DOUBLE), 6) AS m "
        "FROM (VALUES (1.0),(2.0),(4.0)) t(x) ORDER BY x"
    ) == [(1.0, 0.0), (2.0, 0.5), (4.0, 1.0)]


def test_round9_product_exact_fold(spark, rw):
    """Round 9 (agg fuzzer, seed 2026): product() is now a sequential
    double fold over one collect_list — the old exp(sum(ln|x|)) form
    carried ~1e-15 RELATIVE error (762048 read 762047.9999999984) and
    returned +0.0 where DuckDB's sequential multiply gives -0.0 for a
    zero with an odd negative count. Fold is bit-exact for integer
    products < 2^53. FILTER and OVER forms included (both
    DuckDB-verified)."""
    run = lambda s: [tuple(r) for r in spark.sql(rw.rewrite(s)).collect()]
    assert run(
        "SELECT product(x) AS p FROM (VALUES (7),(96),(12),(94.5)) t(x)"
    ) == [(762048.0,)]
    assert run(
        "SELECT CAST(product(x) AS VARCHAR) AS p "
        "FROM (VALUES (2),(0),(-3)) t(x)"
    ) == [("-0.0",)]
    assert run("SELECT product(x) AS p FROM (VALUES (1)) t(x) WHERE false") == [
        (None,)
    ]
    assert run(
        "SELECT g, product(x) OVER (PARTITION BY g) AS p "
        "FROM (VALUES (1,2.5),(1,4),(2,-3)) t(g,x) ORDER BY g, p"
    ) == [(1, 10.0), (1, 10.0), (2, -3.0)]
    assert run(
        "SELECT product(x) FILTER (WHERE x > 0) AS p "
        "FROM (VALUES (2),(3),(-7)) t(x)"
    ) == [(6.0,)]


def test_round9_pivot_statement_forms(spark, rw):
    """Round-9 pivotfz follow-ups (all DuckDB-verified):
    - count pivots fill absent (group, value) cells with 0 (Spark's
      PIVOT yields NULL there);
    - `ON col IN (v1, …)` keeps the listed values verbatim, absent
      ones included, and skips value discovery;
    - without GROUP BY the statement form groups implicitly by every
      source column not pivoted ON and not referenced by the
      aggregate."""
    run = lambda s: sorted(
        [tuple(r) for r in spark.sql(rw.rewrite(s)).collect()], key=str
    )
    df = spark.sql(rw.rewrite(
        "PIVOT (SELECT s, i FROM (VALUES (3, 'a'), (1, 'b')) t(i, s)) "
        "ON s IN ('a', 'zz') USING count(*)"
    ))
    assert df.columns == ["i", "a", "zz"]
    assert sorted([tuple(r) for r in df.collect()], key=str) == [
        (1, 0, 0), (3, 1, 0)
    ]
    # implicit grouping: i is consumed by the aggregate, no keys
    # remain -> ONE row of per-value sums (DuckDB-verified)
    assert run(
        "PIVOT (SELECT s, i FROM (VALUES (3, 'a'), (1, 'b'), (5, 'a')) "
        "t(i, s)) ON s USING sum(i)"
    ) == [(8, 1)]
    # ...and with count(*) consuming nothing, i IS an implicit key
    df2 = spark.sql(rw.rewrite(
        "PIVOT (SELECT s, i FROM (VALUES (3, 'a'), (1, 'b'), (3, 'b')) "
        "t(i, s)) ON s USING count(*)"
    ))
    assert df2.columns == ["i", "a", "b"]
    assert sorted([tuple(r) for r in df2.collect()], key=str) == [
        (1, 0, 1), (3, 1, 1)
    ]


def test_round9_pivot_statement_multi_agg(spark, rw):
    """Round 9: multi-aggregate statement PIVOT (previously raised).
    DuckDB naming: value-major {val}_{alias} / {val}_{agg text}
    (plain args bare, complex args parenthesized, count(*) prints
    count_star()); count members fill absent cells with 0. All
    DuckDB-verified."""
    df = spark.sql(rw.rewrite(
        "PIVOT (SELECT s, i FROM (VALUES (3, 'a'), (1, 'b')) t(i, s)) "
        "ON s USING sum(i), count(*)"
    ))
    assert df.columns == [
        "a_sum(i)", "a_count_star()", "b_sum(i)", "b_count_star()"
    ]
    assert [tuple(r) for r in df.collect()] == [(3, 1, 1, 1)]
    df2 = spark.sql(rw.rewrite(
        "PIVOT (SELECT s, i, d FROM (VALUES (3, 'a', 1.0), (1, 'b', 2.0),"
        " (3, 'b', 0.5)) t(i, s, d)) ON s "
        "USING sum(i) AS si, count(*) AS n GROUP BY d ORDER BY d"
    ))
    assert df2.columns == ["d", "a_si", "a_n", "b_si", "b_n"]
    assert [tuple(r)[1:] for r in df2.collect()] == [
        (None, 0, 3, 1), (3, 1, None, 0), (None, 0, 1, 1)
    ]


def test_round9_pivot_general_on_forms(spark, rw):
    """Round 9: multi-column and expression ON specs (DuckDB
    first-class forms, previously loud failures). Cross product of the
    columns' value sets named {v1}_{v2}[_alias]; expression pivots use
    the value text; count fills 0; SQL-looking names ('a!') travel as
    late-substituted tokens so later passes can't rewrite them.
    DuckDB-verified."""
    df = spark.sql(rw.rewrite(
        "PIVOT (SELECT s, g, i FROM (VALUES (3,'a','x'), (1,'b','y')) "
        "t(i,s,g)) ON s, g USING sum(i)"
    ))
    assert df.columns == ["a_x", "a_y", "b_x", "b_y"]
    assert [tuple(r) for r in df.collect()] == [(3, None, None, 1)]
    df2 = spark.sql(rw.rewrite(
        "PIVOT (SELECT s, i FROM (VALUES (3,'a'), (1,'b')) t(i,s)) "
        "ON s || '!' USING count(*)"
    ))
    assert df2.columns == ["i", "a!", "b!"]
    assert sorted([tuple(r) for r in df2.collect()], key=str) == [
        (1, 0, 1), (3, 1, 0)
    ]
    df3 = spark.sql(rw.rewrite(
        "PIVOT (SELECT s, g, i FROM (VALUES (3,'a','x'), (1,'b','y')) "
        "t(i,s,g)) ON s, g USING sum(i) AS t"
    ))
    assert df3.columns == ["a_x_t", "a_y_t", "b_x_t", "b_y_t"]
    # multi-agg + '' value: DuckDB just prefixes '_'
    df4 = spark.sql(rw.rewrite(
        "PIVOT (SELECT s, i FROM (VALUES (3, ''), (1, 'a')) t(i, s)) "
        "ON s USING sum(i) AS t1, count(*)"
    ))
    assert df4.columns == ["_t1", "_count_star()", "a_t1", "a_count_star()"]
    assert [tuple(r) for r in df4.collect()] == [(3, 1, 1, 1)]


def test_round10_pivot_multi_on_empty_string(spark, rw):
    """Round-10 close of the r9 verdict's pivotfz corner: multi-ON
    statement PIVOT with empty-string values and an unaliased
    aggregate now evaluates (was a loud 400). DuckDB naming rules
    (all probed on 1.x): '_'-join skips the separator while the
    accumulated name is empty (('','p')→'p', ('x','')→'x_'); an
    all-empty combo takes the FILTER-expression-text name; an alias
    appends with an unconditional '_' (('','') AS s → '_s')."""
    # mixed '' combos, unaliased
    df = spark.sql(rw.rewrite(
        "PIVOT (SELECT * FROM (VALUES ('','p',1.0),('x','p',2.0),"
        "('x','q',3.0),('','q',4.0)) t(a,b,x)) ON a, b USING sum(x)"
    ))
    assert df.columns == ["p", "q", "x_p", "x_q"]
    assert [tuple(r) for r in df.collect()] == [(1.0, 4.0, 2.0, 3.0)]
    # all-empty combo → DuckDB FILTER-expression-text column name
    df2 = spark.sql(rw.rewrite(
        "PIVOT (SELECT * FROM (VALUES ('','',1.0),('','b',2.0),"
        "('y','',3.0),('y','b',4.0)) t(a,b,x)) ON a, b USING sum(x)"
    ))
    assert df2.columns == [
        "sum(x) FILTER (WHERE ((CAST(a AS VARCHAR) IS NOT DISTINCT "
        "FROM '') AND (CAST(b AS VARCHAR) IS NOT DISTINCT FROM '')))",
        "b", "y_", "y_b",
    ]
    assert [tuple(r) for r in df2.collect()] == [(1.0, 2.0, 3.0, 4.0)]
    # aliased: unconditional '_' append, skip-empty value join
    df3 = spark.sql(rw.rewrite(
        "PIVOT (SELECT * FROM (VALUES ('','',1.0),('','b',2.0),"
        "('y','',3.0),('y','b',4.0)) t(a,b,x)) ON a, b USING sum(x) AS s"
    ))
    assert df3.columns == ["_s", "b_s", "y__s", "y_b_s"]
    assert [tuple(r) for r in df3.collect()] == [(1.0, 2.0, 3.0, 4.0)]


def test_round10_pivot_implicit_groups_tricky_names(spark, rw):
    """Round-10 ADVICE close: implicit statement-PIVOT grouping must
    not drop source columns whose names merely collide with function
    names, AS-aliases, or words inside string literals in the
    aggregate text (probed: DuckDB groups by all three)."""
    q = ("PIVOT (SELECT * FROM (VALUES ('k1','g1',1.0,10.0,5.0),"
         "('k2','g1',2.0,20.0,6.0)) v(a, sum, x, b, lit)) "
         "ON a USING sum(x) AS b")
    df = spark.sql(rw.rewrite(q))
    assert df.columns == ["sum", "b", "lit", "k1_b", "k2_b"]
    rows = sorted([tuple(r) for r in df.collect()], key=str)
    assert rows == [("g1", 10.0, 5.0, 1.0, None), ("g1", 20.0, 6.0, None, 2.0)]
    # a column referenced only inside a string literal still groups;
    # a column referenced in FILTER is consumed (DuckDB-probed)
    df2 = spark.sql(rw.rewrite(
        "PIVOT (SELECT * FROM (VALUES ('k1','g1',1.0,10.0,5.0),"
        "('k2','g1',2.0,20.0,6.0)) v(a, sum, x, b, lit)) "
        "ON a USING max(concat(CAST(x AS VARCHAR), 'lit'))"
    ))
    assert df2.columns == ["sum", "b", "lit", "k1", "k2"]


def test_round10_pivot_backtick_and_token_counter(spark, rw):
    """Round-10 ADVICE close: pivot values containing a backtick embed
    escaped at every identifier site (was unparsable generated SQL),
    and name tokens use a monotonic counter so stale entries can never
    collide across consecutive statements on one rewriter."""
    df = spark.sql(rw.rewrite(
        "PIVOT (SELECT * FROM (VALUES ('a`b',1.0),('c',2.0)) t(a,x)) "
        "ON a USING sum(x)"
    ))
    assert df.columns == ["a`b", "c"]
    assert [tuple(r) for r in df.collect()] == [(1.0, 2.0)]
    # count 0-fill references the backticked name too
    df2 = spark.sql(rw.rewrite(
        "PIVOT (SELECT * FROM (VALUES ('a`b',1.0),('c',2.0)) t(a,x)) "
        "ON a USING count(*)"
    ))
    assert df2.columns == ["x", "a`b", "c"]
    assert sorted([tuple(r) for r in df2.collect()], key=str) == [
        (1.0, 1, 0), (2.0, 0, 1)
    ]
    # back-to-back statements with SQL-looking names: fresh tokens,
    # no cross-statement collision (the r9 len()-derived names could
    # reuse a stale key after pops)
    for _ in range(2):
        d = spark.sql(rw.rewrite(
            "PIVOT (SELECT * FROM (VALUES ('',1.0),('c',2.0)) t(a,x)) "
            "ON a USING sum(x)"
        ))
        assert d.columns == [
            "sum(x) FILTER (WHERE (CAST(a AS VARCHAR) "
            "IS NOT DISTINCT FROM ''))",
            "c",
        ]
        assert [tuple(r) for r in d.collect()] == [(1.0, 2.0)]


def test_round10_create_or_replace_self_reference(spark, rw):
    """Round-10 ADVICE close: CREATE OR REPLACE TABLE t AS SELECT …
    FROM t (self-referential replace). The staged cache-swap path
    re-analyzes the body after the drop, where t no longer resolves —
    previously BOTH the old and new tables were lost. Now the new body
    materializes to parquet first, and the swap points at the spilled
    files. DuckDB executes this shape by reading the old table."""
    spark.sql(rw.rewrite(
        "CREATE OR REPLACE TABLE uq_r10s AS "
        "SELECT * FROM (VALUES (1), (2), (3)) t(x)"
    ))
    spark.sql(rw.rewrite(
        "CREATE OR REPLACE TABLE uq_r10s AS SELECT * FROM uq_r10s WHERE x > 1"
    ))
    assert sorted(r.x for r in spark.sql("SELECT x FROM uq_r10s").collect()) == [2, 3]
    # chain again: the view must survive repeated self-replaces
    spark.sql(rw.rewrite(
        "CREATE OR REPLACE TABLE uq_r10s AS SELECT x + 10 AS x FROM uq_r10s"
    ))
    assert sorted(r.x for r in spark.sql("SELECT x FROM uq_r10s").collect()) == [12, 13]
    # runtime failure in a self-referential body keeps the old table
    with pytest.raises(Exception):
        rw.rewrite(
            "CREATE OR REPLACE TABLE uq_r10s AS "
            "SELECT CAST(x AS TINYINT) + CAST(120 AS TINYINT) AS x FROM uq_r10s"
        )
    assert sorted(r.x for r in spark.sql("SELECT x FROM uq_r10s").collect()) == [12, 13]
    spark.sql(rw.rewrite("DROP TABLE uq_r10s"))


def test_round10_string_agg_with_multiple_distinct(spark, rw):
    """Round-10 agg-fuzzer catch (fresh seed 91001): Spark 4.1's
    ListAgg crashes with ClassCastException when RewriteDistinctAggregates
    expands a plan holding listagg + two DISTINCT aggregates over
    different expressions. string_agg(… ORDER BY) now translates to an
    equivalent comparator-sorted collect fold when any DISTINCT
    aggregate coexists. All expected values DuckDB-verified."""
    run = lambda s: [tuple(r) for r in spark.sql(rw.rewrite(s)).collect()]
    assert run(
        "SELECT string_agg(s, '|' ORDER BY s) AS c2, count(DISTINCT s) AS c4, "
        "sum(DISTINCT i) AS c5 FROM (VALUES (1,'b'),(2,'a'),(3,NULL)) t(i, s)"
    ) == [("a|b", 2, 6)]
    # DESC and multi-key NULLS FIRST forms through the fold
    assert run(
        "SELECT string_agg(s, '|' ORDER BY i DESC) AS c, count(DISTINCT s) AS a, "
        "sum(DISTINCT i) AS b FROM (VALUES (1,'x'),(2,'y'),(3,NULL),(4,'z')) t(i,s)"
    ) == [("z|y|x", 3, 10)]
    assert run(
        "SELECT string_agg(s, '-' ORDER BY d NULLS FIRST, i DESC) AS c, "
        "count(DISTINCT s) AS a, sum(DISTINCT d) AS b "
        "FROM (VALUES (1,'x',0.5),(2,'y',NULL),(3,'w',NULL),(4,'z',0.25)) t(i,s,d)"
    ) == [("w-y-z-x", 4, 0.75)]
    # empty group → NULL, like string_agg
    assert run(
        "SELECT string_agg(s, '|' ORDER BY s) AS c, count(DISTINCT i) AS a, "
        "sum(DISTINCT d) AS b FROM (VALUES (1, NULL, 1.5)) t(i, s, d)"
    ) == [(None, 1, 1.5)]
    # without DISTINCT neighbors the listagg path is unchanged
    assert run(
        "SELECT string_agg(s, '|' ORDER BY s) AS c "
        "FROM (VALUES ('b'),( 'a')) t(s)"
    ) == [("a|b",)]


def test_round10_pivot_null_values(spark, rw):
    """Round-10 pivotfz catch (fresh seed 660001): a NULL discovered
    pivot value leaked the Python repr 'None' into the generated IN
    list (unresolvable-column reject). DuckDB drops NULLs from
    DISCOVERED values but pivots an explicit ``IN (NULL)`` into a
    column named 'NULL' (null-safe match) — both probed and now
    matched; Spark's PIVOT IN matches NULL literals null-safely."""
    run = lambda s: spark.sql(rw.rewrite(s))
    # discovery drops NULL (single ON): columns = ['0'] only
    df = run(
        "PIVOT (SELECT i % 2 AS grp, d FROM (VALUES (NULL, 1.5), (2, 3.0), "
        "(0, 2.0)) t(i, d)) ON grp USING min(d)"
    )
    assert df.columns == ["0"] and [tuple(r) for r in df.collect()] == [(2.0,)]
    # discovery drops NULL in multi-ON cross products
    df = run(
        "PIVOT (SELECT coalesce(s, 'n') AS s, i % 2 AS grp, i, d FROM "
        "(VALUES (NULL, 'x y', 1.5), (2, 'abc', 3.0), (NULL, NULL, 1.5), "
        "(0, 'x y', 3.0), (2, 'abc', 1.5)) t(i, s, d)) ON s, grp USING min(d)"
    )
    assert sorted(df.columns) == ["abc_0", "i", "n_0", "x y_0"]
    # explicit IN (NULL, 0): 'NULL' column aggregates the NULL rows
    df = run(
        "PIVOT (SELECT i % 2 AS grp, d FROM (VALUES (NULL, 1.5), (2, 3.0), "
        "(0, 2.0)) t(i, d)) ON grp IN (NULL, 0) USING min(d)"
    )
    assert df.columns == ["NULL", "0"]
    assert [tuple(r) for r in df.collect()] == [(1.5, 2.0)]
    # multi-aggregate with explicit NULL keeps DuckDB's value-major names
    df = run(
        "PIVOT (SELECT i % 2 AS grp, d, i FROM (VALUES (NULL, 1.5), (2, 3.0)) "
        "t(i, d)) ON grp IN (NULL, 0) USING min(d) AS m, count(*)"
    )
    assert df.columns == [
        "i", "NULL_m", "NULL_count_star()", "0_m", "0_count_star()"
    ]


def test_round10_divide_floordiv_fractional(spark, rw):
    """Round-10 wave-4 gap probe: DuckDB's divide()/`//` truncate ONLY
    for integral operands — with any fractional operand they are plain
    division returning DOUBLE (7.5 // 2 = 3.75). The old blanket `div`
    returned 3: a silent wrong-value class. Division by zero is NULL
    through the function form too (the word `div` is invisible to the
    ÷0 character scan). All expected values DuckDB-verified."""
    run = lambda s: spark.sql(rw.rewrite(f"SELECT {s} AS v")).collect()[0].v
    assert run("divide(7, 2)") == 3
    assert run("divide(-7, 2)") == -3
    assert run("divide(7.5, 2)") == 3.75
    assert run("divide(7, 0)") is None
    assert run("7.5 // 2") == 3.75
    assert run("-7.5 // 2") == -3.75
    assert run("7 // 2") == 3
    assert run("-7 // 2") == -3
    assert run("7 // 0") is None
    assert run("1 // 1.0") == 1.0
    assert run("(2.5 + 5.0) // 2") == 3.75
    assert run("abs(-10.5) // 3") == 3.5
    assert float(run("CAST(7.5 AS DECIMAL(4,1)) // 2")) == 3.75
    assert run("10 // 3 // 2") == 1
    assert run("100 // (7 // 2)") == 33
    # operator-alias functions
    assert run("multiply(6, 7)") == 42
    assert run("add(1, 2)") == 3
    assert str(run("subtract(DATE '2024-01-05', 3)")) == "2024-01-02"
    assert run("mod(7, 0)") is None
    assert run("mod(-7.5, 2)") == -1.5


def test_round10_strftime_week_codes_and_literals(spark, rw):
    """Round-10 wave-4 gap probe: %U/%W/%V/%G have no Java pattern
    (Spark removed 'w'/'W') → expression segments spliced into a
    concat(); literal letters in formats now form ONE Java quote block
    (adjacent blocks read as literal-quote — a latent loud parse error
    on both strftime and strptime); strptime gets a strict-then-lenient
    retry for DuckDB's unpadded inputs. DuckDB-verified values."""
    run = lambda s: spark.sql(rw.rewrite(f"SELECT {s} AS v")).collect()[0].v
    assert run("strftime(DATE '2024-03-09', '%j|%U|%W|%V|%G')") == "069|09|10|10|2024"
    assert run("strftime(DATE '2024-01-01', '%U/%W/%V/%G')") == "00/01/01/2024"
    assert run("strftime(DATE '2021-01-01', '%U %W %V %G')") == "00 00 53 2020"
    assert run("strftime(DATE '2024-12-30', '%V|%G|%U|%W')") == "01|2025|52|53"
    assert run("strftime(DATE '1999-12-31', 'wk%Vyr%G')") == "wk52yr1999"
    assert run("strftime(DATE '2024-01-02', '%YT%m')") == "2024T01"
    assert str(run("strptime('3|2024', '%m|%Y')")) == "2024-03-01 00:00:00"
    assert str(run("strptime('2024-6-5 7:8:9', '%Y-%m-%d %H:%M:%S')")) == (
        "2024-06-05 07:08:09"
    )
    assert str(run("strptime('2024T01', '%YT%m')")) == "2024-01-01 00:00:00"
    assert run("try_strptime('x', '%m|%Y')") is None


def test_round10_self_nested_rewrites(spark, rw):
    """Self-composition sweep: every function the rewriter translates by
    textual replacement must translate INSIDE its own argument too — the
    scan-past-replacement loops skip the replacement text, so an
    unrecursed argument leaves the inner call untranslated (round-10
    catches: list_distinct(list_sort(list_distinct(..))) via the nested
    fuzzer at seed 660002, nested format() via this sweep — both loud
    UNRESOLVED_ROUTINE rejects of valid DuckDB). Differential against
    in-process DuckDB."""
    import duckdb

    con = duckdb.connect()
    L = "[3, 1, NULL, 2]"
    S = "'AbC dEf'"
    cases = [
        f"list_sort(list_sort({L}))",
        f"list_distinct(list_distinct({L}))",
        f"array_to_string(list_sort(list_distinct(list_concat("
        f"list_distinct({L}), list_distinct({L})))), ',')",
        f"flatten(flatten([[{L}], [{L}]]))",
        f"list_append(list_append({L}, 9), 8)",
        f"list_prepend(0, list_prepend(1, {L}))",
        f"trim(trim({S}, 'A'), 'f')",
        f"sha256(sha256('x'))",
        f"replace(replace({S}, 'A', 'x'), 'x', 'y')",
        f"split_part(split_part('a,b|c', '|', 1), ',', 2)",
        f"substr(substr({S}, 2, 5), 2, 2)",
        f"struct_extract(struct_extract({{'a': {{'b': 7}}}}, 'a'), 'b')",
        f"len(list_distinct(list_where({L}, [true, true, false, true])))",
        "greatest(divide(divide(8, 2), 2), 1)",
        "format('{}', format('{}', 7))",
        "format('{}:{}', format('{:.1f}', 2.5), 'x')",
        "printf('%s', printf('%d', 7))",
        "regexp_replace(regexp_replace('aXbXc', 'X', '-'), '-', '+')",
        f"list_aggregate(list_distinct({L}), 'sum')",
        "list_reduce(list_distinct([1, 2, 3]), (a, b) -> a + b)",
        "date_trunc('month', date_trunc('day', TIMESTAMP '2024-03-15 10:11:12'))",
        "strftime(strptime(strftime(DATE '2024-03-09', '%Y-%m-%d'), '%Y-%m-%d'), '%j')",
    ]
    import datetime
    import decimal

    def norm(v):
        if isinstance(v, decimal.Decimal):
            return float(v)
        if isinstance(v, (datetime.datetime, datetime.date)):
            return str(v)
        if isinstance(v, list):
            return tuple(norm(x) for x in v)
        return v

    for e in cases:
        q = f"SELECT {e} AS v"
        want = norm(con.sql(q).fetchall()[0][0])
        got = norm(spark.sql(rw.rewrite(q)).collect()[0][0])
        assert got == want, (e, want, got)


def test_round10_wave5_aggregates(spark, rw):
    """Wave-5 aggregate gap-probe closes, differential vs in-process
    DuckDB: kahan_sum (the fsum alias), kurtosis_pop (Spark's native
    population excess — must NOT pass through the sample-estimator
    correction), sem (stddev_pop/sqrt(n) — probed: one value gives 0.0,
    so the POPULATION deviation), arg_min_null/arg_max_null (keep
    NULL-valued rows via a struct wrap; Spark 4.1's bare min_by/max_by
    skip them). reservoir_quantile maps to the deterministic sketch
    (DuckDB's reservoir is randomized run-to-run — value equality is
    unverifiable by construction, so only the range is asserted)."""
    import decimal

    import duckdb

    con = duckdb.connect()
    T = (
        "(VALUES (1, 'a', 2.5), (2, 'b', NULL), (3, 'a', 1.5), "
        "(4, NULL, 3.5), (5, 'c', 9.5)) t(i, s, d)"
    )
    cases = [
        f"SELECT kahan_sum(d) AS v FROM {T}",
        f"SELECT kurtosis_pop(d) AS v FROM {T}",
        "SELECT kurtosis_pop(d) AS v FROM (VALUES (1.0), (2.0)) t(d)",
        f"SELECT sem(d) AS v FROM {T}",
        "SELECT sem(d) AS v FROM (VALUES (2.5)) t(d)",
        "SELECT sem(d) AS v FROM (VALUES (CAST(NULL AS DOUBLE))) t(d)",
        "SELECT arg_min_null(s, d) AS v, arg_max_null(s, d) AS w "
        "FROM (VALUES (0.5, NULL), (1.5, 'b'), (9.0, NULL)) t(d, s)",
        "SELECT arg_min_null(s, d) AS v "
        "FROM (VALUES (CAST(NULL AS DOUBLE), 'x')) t(d, s)",
        "SELECT arg_max_null(i, s) AS v "
        "FROM (VALUES (1, 'a'), (2, 'z'), (3, 'm')) t(i, s)",
    ]

    def norm(v):
        if isinstance(v, decimal.Decimal):
            return round(float(v), 9)
        if isinstance(v, float):
            return round(v, 9)
        return v

    for q in cases:
        want = tuple(norm(x) for x in con.sql(q).fetchall()[0])
        got = tuple(norm(x) for x in spark.sql(rw.rewrite(q)).collect()[0])
        assert got == want, (q, want, got)
    v = spark.sql(
        rw.rewrite(f"SELECT reservoir_quantile(d, 0.5, 1024) AS v FROM {T}")
    ).collect()[0].v
    assert 1.5 <= v <= 9.5


def test_wave6_date_literal_padding_and_regexp_flags(spark, rw):
    """Round-11 wave-6 closes, DuckDB-verified values: (1) pre-1000-year
    typed DATE/TIMESTAMP literals zero-pad to Spark's 4-digit
    requirement (DuckDB accepts DATE '999-06-01'); the padding is
    literal-safe (a string CONTAINING "DATE '999-…'" text is
    untouched). (2) 3-arg regexp_matches option strings: last-wins
    'c'/'i' (probed: 'ci' insensitive, 'ic' sensitive), 'l' literal
    partial match (→ contains, no regex), 's' dotall, default dot does
    not cross newlines; 'g' raises DuckDB's own error; murky newline
    options (m/n/p) stay a loud arity error."""
    cases = {
        "SELECT CAST(DATE '999-06-01' AS VARCHAR) AS v": "0999-06-01",
        "SELECT CAST(DATE '99-06-01' AS VARCHAR) AS v": "0099-06-01",
        "SELECT CAST(DATE '9-6-01' AS VARCHAR) AS v": "0009-06-01",
        "SELECT year(DATE '999-06-01') AS v": 999,
        "SELECT CAST(TIMESTAMP '999-06-01 10:30:00' AS VARCHAR) AS v":
            "0999-06-01 10:30:00",
        "SELECT datediff('day', DATE '999-01-01', DATE '1000-01-01') AS v": 365,
        "SELECT 'DATE ''999-06-01''' LIKE 'DATE%' AS v": True,
        "SELECT regexp_matches('abc', 'B', 'i') AS v": True,
        "SELECT regexp_matches('abc', 'B', 'ci') AS v": True,
        "SELECT regexp_matches('abc', 'B', 'ic') AS v": False,
        "SELECT regexp_matches('abc', 'a.c', 'l') AS v": False,
        "SELECT regexp_matches('a.c', 'a.c', 'l') AS v": True,
        "SELECT regexp_matches('A.C', 'a.c', 'il') AS v": True,
        "SELECT regexp_matches('a' || chr(10) || 'b', 'a.b', 's') AS v": True,
        "SELECT regexp_matches('a' || chr(10) || 'b', 'a.b', '') AS v": False,
        "SELECT regexp_matches(NULL, 'B', 'i') AS v": None,
    }
    for sql, want in cases.items():
        got = spark.sql(rw.rewrite(sql)).collect()[0].v
        assert got == want, f"{sql}: {got!r} != {want!r}"
    with pytest.raises(UQueryError, match="regexp_replace"):
        rw.rewrite("SELECT regexp_matches('abc', 'B', 'gi') AS v")


def test_prepare_execute_deallocate(spark, rw):
    """Round 11: DuckDB prepared statements through the gateway —
    PREPARE/EXECUTE/DEALLOCATE graduated out of the forbidden list
    (query-level session state like CREATE VIEW/MACRO, not config
    mutation). Every semantic DuckDB-probed: $n placeholders repeat
    and reorder, '$1' inside a string literal stays text, ?-style
    positional params, redefinition replaces, DEALLOCATE of a missing
    name is a silent no-op, EXECUTE of a missing/deallocated name
    errors, strict argument-count matching."""
    run = lambda s: spark.sql(rw.rewrite(s)).collect()  # noqa: E731
    assert run("PREPARE uq_p1 AS SELECT $1 + $2 AS v") == []
    assert run("EXECUTE uq_p1(3, 4)")[0].v == 7
    # redefinition replaces (DuckDB-probed)
    run("PREPARE uq_p1 AS SELECT $1 + 1 AS v")
    assert run("EXECUTE uq_p1(5)")[0].v == 6
    # repeated + reordered placeholders; literal '$1' untouched
    run("PREPARE uq_p2 AS SELECT upper($1) AS u, $1 || '!' AS e, '$1 lit' AS l")
    row = run("EXECUTE uq_p2('hi')")[0]
    assert (row.u, row.e, row.l) == ("HI", "hi!", "$1 lit")
    run("PREPARE uq_p3 AS SELECT $2 - $1 AS v")
    assert run("EXECUTE uq_p3(1, 10)")[0].v == 9
    # ?-style positional
    run("PREPARE uq_p4 AS SELECT i FROM (VALUES (1), (2), (3)) t(i) WHERE i > ?")
    assert [r.i for r in run("EXECUTE uq_p4(1)")] == [2, 3]
    # mixed $n and ? — a ? takes (highest index seen) + 1 (DuckDB-probed:
    # $1 + ? with (1,2) is 3; ? * 100 + ? with (1,2) is 102)
    run("PREPARE uq_p6 AS SELECT $1 + ? AS v")
    assert run("EXECUTE uq_p6(1, 2)")[0].v == 3
    run("PREPARE uq_p7 AS SELECT ? * 100 + ? AS v")
    assert run("EXECUTE uq_p7(1, 2)")[0].v == 102
    # DuckDB-probed errors: $2+? leaves $1 unbound; ?+$3 leaves $2 unbound
    run("PREPARE uq_p8 AS SELECT $2 + ? AS v")
    with pytest.raises(UQueryError, match="count mismatch"):
        rw.rewrite("EXECUTE uq_p8(1, 2)")
    # prepared text binds at EXECUTE time: sees macros defined later
    run("CREATE MACRO uq_p_m(x) AS x * 10")
    run("PREPARE uq_p5 AS SELECT uq_p_m($1) AS v")
    assert run("EXECUTE uq_p5(4)")[0].v == 40
    run("DROP MACRO uq_p_m")
    # count mismatches error like DuckDB
    with pytest.raises(UQueryError, match="count mismatch"):
        rw.rewrite("EXECUTE uq_p1(1, 2)")
    with pytest.raises(UQueryError, match="count mismatch"):
        rw.rewrite("EXECUTE uq_p1()")
    # deallocate: silent for missing, EXECUTE then errors
    assert run("DEALLOCATE uq_never") == []
    run("DEALLOCATE PREPARE uq_p1")
    with pytest.raises(UQueryError, match="does not exist"):
        rw.rewrite("EXECUTE uq_p1(1)")


def test_wave7_window_percentiles_and_ignore_nulls(spark, rw):
    """Round-11 wave-7 closes, DuckDB-verified: (1) arg-internal
    IGNORE/RESPECT NULLS (DuckDB's only accepted placement — the
    postfix form is a DuckDB parse error) relocates to Spark's postfix
    for first/last/nth_value + lead/lag; (2) median / quantile_cont /
    quantile_disc / quantile / mad OVER an ORDER BY or framed window
    (running percentiles — Spark's percentile family rejects the spec
    outright) translate through one collect_list per spec; disc rule
    max(1, ceil(q*n)) probed on seven (n, q) pairs."""
    V = "(VALUES (1, 10), (2, 10), (3, 20), (4, NULL), (5, 30)) t(i, v)"
    cases = {
        f"SELECT first_value(v IGNORE NULLS) OVER (ORDER BY i DESC) AS x "
        f"FROM {V} ORDER BY i LIMIT 1": 30,
        f"SELECT nth_value(v, 2 IGNORE NULLS) OVER (ORDER BY i ROWS BETWEEN "
        f"UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS x FROM {V} "
        f"ORDER BY i LIMIT 1": 10,
        f"SELECT lag(v IGNORE NULLS) OVER (ORDER BY i) AS x FROM {V} "
        f"ORDER BY i DESC LIMIT 1": 20,
        f"SELECT first_value(v RESPECT NULLS) OVER (ORDER BY i DESC) AS x "
        f"FROM {V} ORDER BY i LIMIT 1": 30,
        # running median: [10], [10,10], [10,10,20], NULL skipped, +30
        f"SELECT round(median(v) OVER (ORDER BY i), 4) AS x FROM {V} "
        f"ORDER BY i DESC LIMIT 1": 15.0,
        f"SELECT round(median(v) FILTER (WHERE v > 10) OVER (ORDER BY i), 4) "
        f"AS x FROM {V} ORDER BY i DESC LIMIT 1": 25.0,
        f"SELECT round(quantile_cont(v, 0.25) OVER (ORDER BY i), 4) AS x "
        f"FROM {V} ORDER BY i DESC LIMIT 1": 10.0,
        # disc: n=4 sorted [10,10,20,30], ceil(0.75*4)=3 -> 20
        f"SELECT round(quantile(v, 0.75) OVER (ORDER BY i), 4) AS x "
        f"FROM {V} ORDER BY i DESC LIMIT 1": 20.0,
        f"SELECT round(mad(v) OVER (ORDER BY i ROWS BETWEEN 1 PRECEDING AND "
        f"CURRENT ROW), 4) AS x FROM {V} ORDER BY i LIMIT 1": 0.0,
    }
    for sql, want in cases.items():
        got = spark.sql(rw.rewrite(sql)).collect()[0].x
        assert got == want, f"{sql}: {got!r} != {want!r}"


def test_wave8_json_closes(spark, rw):
    """Round-11 wave-8 closes, DuckDB-verified: (1) from_json /
    json_transform now coerce string-encoded scalars like DuckDB
    (try_variant_get per field; the old from_json emission silently
    yielded NULL for '{"a":"5"}' with a BIGINT target), with DuckDB's
    rounding for fractional→integer and lenient NULL on uncoercible;
    (2) 2-arg json_array_length(j, path); (3) list-of-paths
    json_extract returns a list of extractions."""
    cases = {
        "SELECT json_transform('{\"a\":\"5\"}', '{\"a\":\"INTEGER\"}').a AS v": 5,
        "SELECT json_transform('{\"a\":\"abc\"}', '{\"a\":\"INTEGER\"}').a AS v": None,
        "SELECT json_transform('{\"a\":\"5.9\"}', '{\"a\":\"INTEGER\"}').a AS v": 6,
        "SELECT json_transform('{\"a\":true}', '{\"a\":\"INTEGER\"}').a AS v": 1,
        "SELECT json_transform('{\"a\":7}', '{\"a\":\"VARCHAR\"}').a AS v": "7",
        "SELECT json_transform('{\"a\":{\"b\":\"9\"}}', '{\"a\":{\"b\":\"BIGINT\"}}').a.b AS v": 9,
        "SELECT from_json('{\"a\":1}', '{\"a\":\"BIGINT\"}').a AS v": 1,
        "SELECT from_json('null', '{\"a\":\"BIGINT\"}') IS NULL AS v": True,
        "SELECT from_json('[1,2]', '[\"BIGINT\"]')[2] AS v": 2,
        "SELECT json_array_length('{\"a\":[1,2,3]}', '$.a') AS v": 3,
        "SELECT json_array_length('[1,2]') AS v": 2,
        "SELECT CAST(json_extract('{\"a\":1,\"b\":2}', ['$.a','$.b']) AS VARCHAR) AS v":
            "[1, 2]",
        "SELECT CAST(json_extract_string('{\"a\":\"x\"}', ['$.a']) AS VARCHAR) AS v":
            "[x]",
    }
    for sql, want in cases.items():
        got = spark.sql(rw.rewrite(sql)).collect()[0].v
        assert got == want, f"{sql}: {got!r} != {want!r}"


def test_wave9_list_stats_and_array_type_casts(spark, rw):
    """Round-11 wave-9 closes, DuckDB-verified: (1) the list_<aggregate>
    statistics family (sem/stddev_samp/stddev_pop/var_samp/var_pop/
    variance/stddev/product/entropy/string_agg/skewness/kurtosis/mad,
    both the standalone and list_aggregate(x, 'fn') spellings) —
    independent O(n) moment folds, DuckDB's NULL boundaries (var_samp
    n=1, skewness n<=2 or constant, kurtosis n<=3, product of empty;
    sem n=1 is 0.0), corrected sample estimators; (2) array-type cast
    suffixes CAST(x AS DOUBLE[]) / x::FLOAT[2] / DOUBLE[][] — every
    spelling was a loud parse error (the bracket pass read TYPE[] as
    a subscript); fixed sizes drop (documented width deviation)."""
    cases = {
        "SELECT round(list_sem([1.0, 2.0, 4.0]), 9) AS v": 0.7200823,
        "SELECT list_sem([1.0]) AS v": 0.0,
        "SELECT list_sem(CAST([] AS DOUBLE[])) AS v": None,
        "SELECT round(list_stddev_samp([1.0, 2.0, 4.0]), 9) AS v": 1.527525232,
        "SELECT list_stddev_samp([2.0]) AS v": None,
        "SELECT round(list_var_pop([1.0, 2.0, 4.0, 9.0]), 9) AS v": 9.5,
        "SELECT round(list_aggregate([1.0,2.0,4.0], 'variance'), 9) AS v":
            2.333333333,
        "SELECT round(list_skewness([1.0, 2.0, 4.0]), 9) AS v": 0.93521953,
        "SELECT list_skewness([1.0, 2.0]) AS v": None,
        "SELECT list_aggregate([1.0,1.0,1.0], 'skewness') AS v": None,
        "SELECT round(list_kurtosis([1.0, 2.0, 4.0, 9.0]), 9) AS v": 1.5,
        "SELECT list_kurtosis([1.0, 2.0, 4.0]) AS v": None,
        "SELECT round(list_entropy(['a','a','b']), 9) AS v": 0.918295834,
        "SELECT list_aggregate(CAST([] AS DOUBLE[]), 'entropy') AS v": 0.0,
        "SELECT list_product([2, 3]) AS v": 6.0,
        "SELECT list_product(CAST([] AS INT[])) AS v": None,
        "SELECT list_string_agg(['x', NULL, 'y']) AS v": "x,y",
        "SELECT round(list_mad(CAST([1.5, 2.5, 10.0] AS DOUBLE[])), 9) AS v":
            1.0,
        "SELECT CAST(CAST([1,2] AS DOUBLE[]) AS VARCHAR) AS v": "[1.0, 2.0]",
        "SELECT size([1,2]::DOUBLE[]) AS v": 2,
        "SELECT CAST(['1','2']::UBIGINT[] AS VARCHAR) AS v": "[1, 2]",
        "SELECT size(CAST([[1],[2,3]] AS DOUBLE[][])) AS v": 2,
        "SELECT size([1.5,2.5]::FLOAT[2]) AS v": 2,
    }
    for sql, want in cases.items():
        got = spark.sql(rw.rewrite(sql)).collect()[0].v
        if isinstance(want, float) and got is not None:
            assert abs(got - want) < 2e-8, f"{sql}: {got!r} != {want!r}"
        else:
            assert got == want, f"{sql}: {got!r} != {want!r}"


def test_round12_advice_fixes(spark, rw):
    """Round-12 ADVICE closes: from_json exact-bigint path, brace-safe
    list_product, EXECUTE recursion guard, nested-call scanning on the
    wave-7/8/9 skip paths."""
    # exact int64 above 2^53 keeps the lossless bigint path
    r = spark.sql(rw.rewrite(
        """SELECT from_json('{"a":9007199254740993}', '{"a":"BIGINT"}') AS v"""
    )).collect()[0].v
    assert r.a == 9007199254740993
    # fractional still rounds like DuckDB
    r = spark.sql(rw.rewrite(
        """SELECT from_json('{"a":5.9}', '{"a":"BIGINT"}') AS v"""
    )).collect()[0].v
    assert r.a == 6
    # a brace inside a string literal must not crash the product fold
    r = spark.sql(rw.rewrite(
        "SELECT list_product([length('x{y'), 2.0]) AS v"
    )).collect()[0].v
    assert r == 6.0
    # self-referential prepared statement → 400, not RecursionError
    rw.rewrite("PREPARE uq_selfref AS EXECUTE uq_selfref($1)")
    with pytest.raises(UQueryError) as ei:
        rw.rewrite("EXECUTE uq_selfref(1)")
    assert ei.value.status == 400 and "recursion" in str(ei.value).lower()
    rw.rewrite("DEALLOCATE uq_selfref")


def test_round12_nested_skip_path_scanning(spark, rw):
    """ADVICE r12: loops that skip a non-qualifying call must still scan
    INSIDE its arguments for rewritable nested occurrences."""
    # arg-internal IGNORE NULLS nested inside another candidate call
    r = spark.sql(rw.rewrite(
        "SELECT lead(coalesce(v, first_value(x IGNORE NULLS) "
        "OVER (ORDER BY i))) OVER (ORDER BY i) AS o "
        "FROM (VALUES (1, NULL, CAST(NULL AS INT)), (2, 5, 7), (3, 6, 8)) "
        "t(i, v, x) ORDER BY i"
    )).collect()
    assert [row.o for row in r] == [5, 6, None]
    # 2-arg json_array_length nested inside a 1-arg call's argument
    r = spark.sql(rw.rewrite(
        """SELECT json_array_length(concat('[1,', CAST(json_array_length('{"a":[1,2,3]}', '$.a') AS STRING), ']')) AS n"""
    )).collect()[0].n
    assert r == 2
    # list_<aggregate> alias nested inside a 2-arg (skipped) call
    r = spark.sql(rw.rewrite(
        "SELECT list_aggregate([list_product([2.0, 3.0]), 4.0], 'sum') AS s"
    )).collect()[0].s
    assert r == 10.0
    # native 2-arg date_add's argument still gets the interval form fixed
    r = spark.sql(rw.rewrite(
        "SELECT date_add(date_add(DATE '2024-01-01', INTERVAL 1 DAY), 1) AS d"
    )).collect()[0].d
    assert str(r) == "2024-01-03"



def test_round12_json_from_end_and_group_structure(spark, rw):
    """Wave-10 closes: [#-n] from-end JSON path indexes and the
    json_group_structure aggregate (both previously documented loud
    errors), plus the j::JSON NULL-row crash the work exposed."""
    import json as _j

    def one(sql):
        return spark.sql(rw.rewrite(sql)).collect()[0][0]

    assert one("""SELECT json_extract('[1,2,3]', '$[#-1]')""") == "3"
    assert one("""SELECT json_extract('[1,2,3]', '$[#-0]')""") == "1"  # -0 = first
    assert one("""SELECT json_extract('[1,2,3]', '$[#-5]')""") is None
    assert one("""SELECT json_extract('{"a":null}', '$.a')""") is None
    assert one("""SELECT json_extract_string('["x","y"]', '$[#-1]')""") == "y"
    assert one("""SELECT json_extract('[[1,2],[3,4]]', '$[#-1][0]')""") == "3"
    assert one("""SELECT json_extract('[{"b":7},{"b":9}]', '$[#-1].b')""") == "9"
    assert one(
        """SELECT json_extract('{"a":[1,2],"b":[3]}', ['$.a[#-1]', '$.b[#-1]'])"""
    ) == ["2", "3"]
    # ::JSON on a batch containing NULL must not crash (pandas UDFs under
    # CASE evaluate eagerly — round-12 catch); whitespace preserved
    rows = spark.sql(rw.rewrite(
        """SELECT j::JSON AS v FROM (VALUES ('{"a":1}'), (NULL), ('  [1, 2]')) t(j)"""
    )).collect()
    assert [r.v for r in rows] == ['{"a":1}', None, "  [1, 2]"]
    # group structure: key union (order impl-defined → compare parsed),
    # conflict → JSON, numeric widening, empty group → NULL
    v = one(
        """SELECT json_group_structure(j::JSON) FROM (VALUES
           ('{"a":1,"b":"x"}'), ('{"a":"s","c":[1,2.5]}')) t(j)"""
    )
    assert _j.loads(v) == {"a": "JSON", "b": "VARCHAR", "c": ["DOUBLE"]}
    assert one(
        """SELECT json_group_structure(j::JSON)
           FROM (SELECT '{"a":1}' AS j WHERE false) t"""
    ) is None
    # grouped form
    rows = spark.sql(rw.rewrite(
        """SELECT k % 2 AS g, json_group_structure(j::JSON) AS v FROM (VALUES
           (1,'{"a":1}'), (2,'{"b":[true]}'), (3,'{"a":9,"c":"z"}')) t(k,j)
           GROUP BY 1 ORDER BY 1"""
    )).collect()
    assert _j.loads(rows[0].v) == {"b": ["BOOLEAN"]}
    assert _j.loads(rows[1].v) == {"a": "UBIGINT", "c": "VARCHAR"}


def test_round12_wave11_strftime_map_zip(spark, rw):
    """Wave-11 closes: strftime %c/%x/%X/%n/%z/%Z/%u/%w, map_concat
    duplicate-key last-wins, list_zip named fields + truncate flag."""

    def one(sql):
        return spark.sql(rw.rewrite(sql)).collect()[0][0]

    assert one("SELECT strftime(DATE '2024-07-04', '%c')") == "2024-07-04 00:00:00"
    assert one("SELECT strftime(DATE '2024-07-04', '%x / %X')") == "2024-07-04 / 00:00:00"
    assert one(
        "SELECT strftime(TIMESTAMP '2024-07-04 15:30:45.123456', '%n')"
    ) == "123456000"
    # naive timestamps: DuckDB prints '+00' and '' (old mapping: '+0000'/'UTC')
    assert one("SELECT strftime(TIMESTAMP '2024-07-04 15:30:45', '%z|%Z|')") == "+00||"
    # %u ISO Mon=1..Sun=7, %w C Sun=0..Sat=6, both unpadded
    assert one("SELECT strftime(DATE '2024-07-07', '%u %w')") == "7 0"
    assert one("SELECT strftime(DATE '2024-07-06', '%u %w')") == "6 6"
    # strptime direction of the composites, incl. the lenient overlay
    assert str(one("SELECT strptime('2024-7-4 5:3:4', '%c')")) == "2024-07-04 05:03:04"
    # map_concat: later maps win on key collision (DuckDB-probed a=9)
    m = one("SELECT map_concat(map {'a':1}, map {'b':2, 'a':9})")
    assert m == {"a": 9, "b": 2}
    m = one("SELECT map_concat(map {'a':1}, map {'b':2}, map {'a':7,'c':3})")
    assert m == {"a": 7, "b": 2, "c": 3}
    # list_zip: DuckDB-docs field names, NULL-pad to longest, truncate flag
    row = spark.sql(rw.rewrite(
        "SELECT list_zip([1,2,3], ['a']) AS v, list_zip([1,2,3], ['a'], true) AS t, "
        "array_zip([1], [2]) AS a, list_zip([1,2], NULL) AS n"
    )).collect()[0]
    assert [r.asDict() for r in row.v] == [
        {"list_1": 1, "list_2": "a"},
        {"list_1": 2, "list_2": None},
        {"list_1": 3, "list_2": None},
    ]
    assert [tuple(r) for r in row.t] == [(1, "a")]
    assert [r.asDict() for r in row.a] == [{"list_1": 1, "list_2": 2}]
    assert [tuple(r) for r in row.n] == [(1, None), (2, None)]


def test_round12_json_array_length_nonarray(spark, rw):
    """jsonfz catch: DuckDB counts a VALID non-array document (or a
    found non-array path) as 0 where Spark's builtin returns NULL;
    malformed JSON must error loudly, NULL and missing paths stay
    NULL. From-end paths route through the UDF walk."""
    row = spark.sql(rw.rewrite(
        """SELECT json_array_length('"s"') AS a,
                  json_array_length('2.5') AS b,
                  json_array_length('{}') AS c,
                  json_array_length('[1,2]') AS d,
                  json_array_length(NULL) AS e,
                  json_array_length('{"a":1}', '$.a') AS f,
                  json_array_length('{"a":1}', '$.z') AS g,
                  json_array_length('{"a":null}', '$.a') AS h,
                  json_array_length('[[1],[2,3]]', '$[#-1]') AS i"""
    )).collect()[0]
    assert (row.a, row.b, row.c, row.d, row.e) == (0, 0, 0, 2, None)
    assert (row.f, row.g, row.h, row.i) == (0, None, None, 2)
    import pytest as _pytest

    with _pytest.raises(Exception):
        spark.sql(rw.rewrite("SELECT json_array_length('nope')")).collect()


def test_round12_topn_aggregates(spark, rw):
    """Wave-12: DuckDB >=1.1 top-n aggregate forms (reference pins
    1.5.2): max/min(arg, n) and arg_max/arg_min(arg, val, n) return
    LISTs; NULL values/keys skipped; non-constant n raises."""

    def one(sql):
        return spark.sql(rw.rewrite(sql)).collect()[0][0]

    assert one("SELECT max(x, 2) FROM (VALUES (1),(5),(3)) t(x)") == [5, 3]
    assert one("SELECT min(x, 2) FROM (VALUES (1),(5),(3)) t(x)") == [1, 3]
    assert one("SELECT max(x, 5) FROM (VALUES (1),(NULL),(3)) t(x)") == [3, 1]
    assert one(
        "SELECT arg_max(x, y, 2) FROM (VALUES (1,10),(5,30),(3,20)) t(x,y)"
    ) == [5, 3]
    assert one(
        "SELECT arg_min(x, y, 2) FROM (VALUES (1,10),(5,30),(3,20)) t(x,y)"
    ) == [1, 3]
    # NULL-val rows skip
    assert one(
        "SELECT arg_max(x, y, 3) FROM (VALUES (1,10),(5,NULL),(3,20)) t(x,y)"
    ) == [3, 1]
    # 1-arg stays native
    assert one("SELECT max(x) FROM (VALUES (1),(5)) t(x)") == 5
    with pytest.raises(UQueryError):
        rw.rewrite("SELECT arg_max(x, y, 0) FROM t")


def test_round12_python_lambda_syntax(spark, rw):
    """Wave-12: DuckDB >=1.3 python-style lambdas normalize to the
    arrow form — single/multi param, nested, whitespace before the
    colon; 'lambda' inside string literals is untouched."""

    def one(sql):
        return spark.sql(rw.rewrite(sql)).collect()[0][0]

    assert one("SELECT list_transform([1,2,3], lambda x: x + 1)") == [2, 3, 4]
    assert one("SELECT list_filter([1,2,3], lambda x : x % 2 = 0)") == [2]
    assert one("SELECT list_reduce([1,2,3], lambda a, b: a + b)") == 6
    assert one(
        "SELECT list_transform([[1],[2,3]], lambda l: "
        "list_transform(l, lambda x: x * 2))"
    ) == [[2], [4, 6]]
    assert one("SELECT 'lambda x: keep'") == "lambda x: keep"


def test_round12_try_expression(spark, rw):
    """Wave-12: DuckDB >=1.2 TRY(expr) — NULL instead of an error for
    the guarded classes; unsupported forms raise loudly; lenient %Y
    parses 1-4 digit years (b45 catch)."""

    def one(sql):
        return spark.sql(rw.rewrite(sql)).collect()[0][0]

    assert one("SELECT TRY(CAST('x' AS INTEGER))") is None
    assert one("SELECT TRY(CAST('7' AS INTEGER))") == 7
    assert one("SELECT TRY('x'::INTEGER)") is None
    assert one("SELECT TRY(strptime('nope', '%Y-%m-%d'))") is None
    assert one("SELECT TRY(ln(-1))") is None
    assert one("SELECT TRY(sqrt(-1))") is None
    assert one("SELECT TRY(sqrt(4.0))") == 2.0
    assert one("SELECT TRY(CAST(1e40 AS INTEGER))") is None
    assert str(one("SELECT strptime('123', '%Y')")) == "0123-01-01 00:00:00"
    with pytest.raises(UQueryError):
        rw.rewrite("SELECT TRY(upper(1))")


def test_round13_advice_fixes(spark, rw):
    """Round-13 ADVICE closes: (1) 3-arg arg_max/arg_min skip rows
    where EITHER arg or val is NULL (DuckDB-probed: a NULL-arg row
    holding the top val vanishes and the next real arg takes its
    place, matching the 2-arg emission's IF guard); (2) map_concat
    keeps a colliding key at the FIRST map's position with the LAST
    map's value (probed on 1.0.0: keys [a, b] with a=9); (3) TRY()
    fast-paths only fire when the call spans the whole argument —
    compound inners raise loudly (the old sqrt branch silently
    DROPPED the trailing text of a compound inner), and nested cast
    chains convert to try_cast at EVERY level."""

    def one(sql):
        return spark.sql(rw.rewrite(sql)).collect()[0][0]

    # (1) the NULL-arg row carrying the max val is skipped entirely
    assert one(
        "SELECT arg_max(x, y, 2) FROM (VALUES (NULL,30),(3,20),(5,10)) t(x,y)"
    ) == [3, 5]
    assert one(
        "SELECT arg_min(x, y, 2) FROM (VALUES (NULL,10),(3,20),(5,30)) t(x,y)"
    ) == [3, 5]
    # (2) rendered key ORDER: the colliding key keeps the left slot
    assert one(
        "SELECT map_keys(map_concat(map {'a':1}, map {'b':2, 'a':9}))"
    ) == ["a", "b"]
    assert one(
        "SELECT map_concat(map {'a':1}, map {'b':2, 'a':9})"
    ) == {"a": 9, "b": 2}
    assert one(
        "SELECT map_keys(map_concat(map {'a':1}, map {'b':2}, map {'a':7,'c':3}))"
    ) == ["a", "b", "c"]
    # (3) nested cast chains: NULL from a failure at EITHER level
    assert one("SELECT TRY(('9x'::INTEGER)::SMALLINT)") is None
    assert one("SELECT TRY((CAST(40000 AS INTEGER))::SMALLINT)") is None
    assert one("SELECT TRY(('7'::INTEGER)::SMALLINT)") == 7
    # compound inners raise as unsupported instead of part-converting
    with pytest.raises(UQueryError):
        rw.rewrite("SELECT TRY(CAST(a AS INT) + f(b))")
    with pytest.raises(UQueryError):
        rw.rewrite("SELECT TRY(sqrt(4.0) + 1)")


def test_round13_wave14_strftime_dash_gradeup(spark, rw):
    """Wave-14: dash-unpadded strftime/strptime codes, the
    missing-year 1900 default (DuckDB-probed; %c/%x composites embed
    a year and must NOT shift), and list_grade_up's NULLS-LAST
    placement (the struct sort graded NULLs first — silent wrong
    value until r13)."""

    def one(sql):
        return spark.sql(rw.rewrite(sql)).collect()[0][0]

    assert one(
        "SELECT strftime(TIMESTAMP '2024-07-04 05:03:04', '%-d/%-m/%-H:%-M:%-S')"
    ) == "4/7/5:3:4"
    assert one("SELECT strftime(DATE '2005-03-09', '%-y|%-j')") == "5|68"
    assert str(one("SELECT strptime('5:3', '%-H:%-M')")) == "1900-01-01 05:03:00"
    assert str(one("SELECT strptime('03 PM', '%I %p')")) == "1900-01-01 15:00:00"
    assert str(one("SELECT strptime('186', '%j')")) == "1900-07-05 00:00:00"
    # composites embed a year — no 1900 shift
    assert str(one("SELECT strptime('2024-7-4 5:3:4', '%c')")) == "2024-07-04 05:03:04"
    assert one("SELECT list_grade_up([NULL, 2, 1])") == [3, 2, 1]
    assert one("SELECT list_grade_up([2.5, NULL, 1.0, NULL, 3.5])") == [3, 1, 5, 2, 4]
    assert one("SELECT list_select([10,20,30], list_grade_up([3,1,2]))") == [20, 30, 10]
    assert one("SELECT list_resize([1,2], 4, 0)") == [1, 2, 0, 0]


def test_round13_wave15_slice_histogram_vector(spark, rw):
    """Wave-15: 4-arg stepped list_slice (DuckDB-probed, incl. negative
    step), list_histogram (keys ascending, NULLs skipped, empty→NULL),
    and the >=1.1 vector metrics (negative_inner_product /
    cosine_distance on both prefixes — doc-unambiguous math)."""

    def one(sql):
        return spark.sql(rw.rewrite(sql)).collect()[0][0]

    assert one("SELECT list_slice([1,2,3,4,5], 1, 5, 2)") == [1, 3, 5]
    assert one("SELECT list_slice([1,2,3,4,5], 5, 1, -2)") == [5, 3, 1]
    assert one("SELECT list_slice([1,2,3,4,5], 2, 4)") == [2, 3, 4]
    assert one("SELECT list_histogram([1,2,NULL,2])") == {1: 1, 2: 2}
    assert one("SELECT map_keys(list_histogram([3,1,1]))") == [1, 3]
    assert one("SELECT list_histogram(CAST(NULL AS ARRAY<INT>))") is None
    assert one("SELECT list_negative_inner_product([1.0,2.0],[3.0,4.0])") == -11.0
    assert one("SELECT array_negative_dot_product([1.0,2.0],[3.0,4.0])") == -11.0
    assert round(one("SELECT list_cosine_distance([1.0,0.0],[1.0,1.0])"), 9) == 0.292893219
    assert round(one("SELECT array_cosine_distance([1.0,0.0],[1.0,1.0])"), 9) == 0.292893219
    assert one("SELECT list_distance([1.0,2.0],[4.0,6.0])") == 5.0
    # >=1.1 struct_extract_at: positional field via schema probe
    assert one("SELECT struct_extract_at({'a': 1, 'b': 'x'}, 2)") == "x"
    assert one("SELECT struct_extract_at(struct_pack(p := 7, q := 9), 1)") == 7
    with pytest.raises(UQueryError):
        rw.rewrite("SELECT struct_extract_at({'a': 1}, 3)")
    with pytest.raises(UQueryError):
        rw.rewrite("SELECT struct_extract_at({'a': 1}, 0)")


def test_round13_wave16_interval_escape_split(spark, rw):
    """Wave-16 (probe batch B): mixed year-month/day-time interval
    literals → make_interval (per-term signs, quarter folding,
    DATE still widens); single-class literals stay native. LIKE-family
    escapes before ordinary chars unescape from literal patterns.
    regexp_split_to_table → unnest∘split keeping empty fields."""

    def one(sql):
        return spark.sql(rw.rewrite(sql)).collect()[0][0]

    assert str(one(
        "SELECT TIMESTAMP '2024-01-30 22:00:00' + INTERVAL '1 month 2 days 3 hours'"
    )) == "2024-03-03 01:00:00"
    assert str(one(
        "SELECT TIMESTAMP '2024-03-31 10:00:00' + INTERVAL '-1 month 3 days'"
    )) == "2024-03-03 10:00:00"
    assert str(one(
        "SELECT DATE '2024-01-31' + INTERVAL '1 month 1 day'"
    )) == "2024-03-01 00:00:00"
    assert str(one(
        "SELECT TIMESTAMP '2024-01-01 00:00:00' + INTERVAL '1 quarter 90 minutes'"
    )) == "2024-04-01 01:30:00"
    # single-class literals keep the native comparable interval types
    assert str(one("SELECT DATE '2024-01-31' + INTERVAL '1 month'")) \
        == "2024-02-29 00:00:00"
    assert one("SELECT ilike_escape('AbC', 'a^bc', '^')") is True
    assert one("SELECT like_escape('a%c', 'a!%c', '!')") is True
    assert one("SELECT not_ilike_escape('AbC', 'a^bc', '^')") is False
    rows = [r[0] for r in spark.sql(rw.rewrite(
        "SELECT regexp_split_to_table('a,,b,', ',') AS t")).collect()]
    assert rows == ["a", "", "b", ""]


def test_round13_recursive_union_and_distinct_on(spark, rw):
    """Shape-probe closes: recursive CTE in the UNION (DISTINCT) form
    evaluates by driver-side semi-naive iteration (UNION ALL stays on
    Spark's native recursion); DISTINCT ON with expression keys /
    non-projected ORDER BY columns projects hidden uq_ob columns, and
    ORDER BY ordinals pick survivors by the OUTPUT column like DuckDB
    (a silent wrong value before r13 — the window ordered by the
    constant)."""

    def one(sql):
        return spark.sql(rw.rewrite(sql)).collect()[0][0]

    assert one(
        "WITH RECURSIVE t(n) AS (SELECT 1 UNION SELECT (n % 6) + 1 FROM t) "
        "SELECT count(*) FROM t"
    ) == 6
    assert one(
        "WITH RECURSIVE fib(a, b) AS (SELECT 0, 1 UNION "
        "SELECT b, a + b FROM fib WHERE b < 50) SELECT max(b) FROM fib"
    ) == 55
    # UNION ALL unchanged (native recursion)
    assert one(
        "WITH RECURSIVE t(n) AS (SELECT 1 UNION ALL SELECT n + 1 FROM t "
        "WHERE n < 5) SELECT sum(n) FROM t"
    ) == 15
    # trailing CTE after the recursive one
    assert one(
        "WITH RECURSIVE t(n) AS (SELECT 1 UNION SELECT (n * 2) % 7 FROM t), "
        "u AS (SELECT n * 10 AS m FROM t) SELECT sum(m) FROM u"
    ) == 70
    # DISTINCT ON: expression key + non-projected ORDER BY column
    rows = spark.sql(rw.rewrite(
        "SELECT DISTINCT ON (x % 2) x % 2 AS g, y FROM "
        "(VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'd')) t(x, y) "
        "ORDER BY x % 2, x DESC"
    )).collect()
    assert [tuple(r) for r in rows] == [(0, "d"), (1, "c")]
    # ordinal picks by the OUTPUT column (upper(y)), not a constant
    rows = spark.sql(rw.rewrite(
        "SELECT DISTINCT ON (x % 2) upper(y) AS uy FROM "
        "(VALUES (1, 'c'), (2, 'd'), (3, 'a'), (4, 'b')) t(x, y) "
        "ORDER BY x % 2, 1"
    )).collect()
    assert sorted(r[0] for r in rows) == ["A", "B"]


def test_round12_string_polymorphic_array_extract(spark, rw):
    """Wave-13: array_extract/list_element/list_extract are STRING-
    polymorphic in DuckDB ('abcd'[2]-style single-char extraction;
    index 0 and out-of-bounds → '') — poly-probed against the array
    form (index 0 → NULL, out-of-bounds → NULL)."""
    row = spark.sql(rw.rewrite(
        "SELECT array_extract('abcd', 2) AS a, array_extract('abcd', -1) AS b, "
        "array_extract('abcd', 0) AS c, array_extract('abcd', 99) AS d, "
        "array_extract([1,2,3], 0) AS e, list_element('héllo', 2) AS f"
    )).collect()[0]
    assert (row.a, row.b, row.c, row.d, row.e, row.f) == (
        "b", "d", "", "", None, "é"
    )


def test_probe_memo_scoped_to_one_rewrite(spark, rw):
    """r14: analysis-probe results are memoized ONLY within one
    top-level rewrite() call — the thread-local memo must be closed on
    exit (success AND failure paths), so no probe result can outlive
    the session state it was measured under."""
    from uquery_rs_spark import rewrite as RW

    assert getattr(RW._PROBE_TLS, "memo", None) is None
    rw.rewrite("SELECT len([1,2,3]) AS n, len('abc') AS m")
    assert getattr(RW._PROBE_TLS, "memo", None) is None
    try:
        rw.rewrite("CREATE TABLE nope AS SELECT 1")  # forbidden → raises
    except Exception:
        pass
    assert getattr(RW._PROBE_TLS, "memo", None) is None
    # memo actually dedupes within one rewrite
    calls = []
    orig = RW.SqlRewriter._probe_analyzes_uncached
    try:
        RW.SqlRewriter._probe_analyzes_uncached = (
            lambda self, s: calls.append(s) or orig(self, s)
        )
        rw.rewrite("SELECT len([1,2,3]) AS a, len([4,5,6]) AS b")
    finally:
        RW.SqlRewriter._probe_analyzes_uncached = orig
    assert len(calls) == len(set(calls))  # no duplicate probe issued


def test_several_unnests_zip_like_duckdb(spark, rw):
    """DuckDB unnests several lists in one SELECT list side by side: row
    k holds each list's k-th element, and a shorter, empty or NULL list
    pads with NULL. Two Spark explodes would form the cross product.
    generate_subscripts zips the same way, and alone it yields no row
    for an empty or NULL list."""
    import duckdb

    for sql in [
        "SELECT unnest([1, 2, 3]) AS a, unnest(['x', 'y', 'z']) AS b",
        "SELECT unnest([1, 2, 3]) AS a, unnest(['x', 'y']) AS b",
        "SELECT unnest([1, 2]) AS a, unnest(CAST([] AS VARCHAR[])) AS b",
        "SELECT unnest([1, 2]) AS a, unnest(CAST(NULL AS VARCHAR[])) AS b",
        "SELECT k, generate_subscripts(l, 1) AS i, unnest(l) AS v "
        "FROM (VALUES (1, ['p', 'q', 'r']), (2, []), (3, NULL), (4, ['s'])) t(k, l)",
        "SELECT k, generate_subscripts(l, 1) AS i "
        "FROM (VALUES (1, ['p', 'q']), (2, []), (3, NULL)) t(k, l)",
    ]:
        got = sorted((tuple(r) for r in spark.sql(rw.rewrite(sql)).collect()), key=str)
        assert got == sorted(duckdb.sql(sql).fetchall(), key=str), sql
    # forms the zip cannot express raise instead of serving a cross product
    for bad in [
        "SELECT unnest([1, 2]) AS a, 5 AS k, unnest([3]) AS b",
        "SELECT unnest([1, 2]) + 1 AS a, unnest([3]) AS b",
    ]:
        with pytest.raises(UQueryError):
            rw.rewrite(bad)


def _run_paused(rw, monkeypatch, method, sql):
    """Start ``rw.rewrite(sql)`` on a thread that stops inside
    ``rw.<method>`` until released. Returns (release, finish): finish
    joins the thread and returns its result or raises its error."""
    entered, go, out = threading.Event(), threading.Event(), {}
    orig = getattr(rw, method)
    worker = None

    def paused(*args):
        if threading.current_thread() is not worker:
            return orig(*args)
        result = orig(*args)
        entered.set()
        assert go.wait(30)
        return result

    monkeypatch.setattr(rw, method, paused)

    def run():
        try:
            out["sql"] = rw.rewrite(sql)
        except Exception as e:  # noqa: BLE001 - handed to finish()
            out["error"] = e
        finally:
            entered.set()

    worker = threading.Thread(target=run)
    worker.start()
    assert entered.wait(30)

    def finish():
        worker.join(30)
        if "error" in out:
            raise out["error"]
        return out["sql"]

    return go.set, finish


def test_overlapping_executes_leave_no_depth_behind(spark, rw, monkeypatch):
    """One rewriter serves every handler thread. When two EXECUTEs
    overlap (A enters, B enters, A exits, B exits), neither may leave
    its nesting depth behind: 16 leaked levels would make every later
    EXECUTE fail with the recursion-limit error."""
    rw.rewrite("PREPARE uq_overlap AS SELECT $1 AS x")
    for _ in range(17):
        release_a, finish_a = _run_paused(
            rw, monkeypatch, "_substitute_prepared_params", "EXECUTE uq_overlap(1)"
        )
        monkeypatch.undo()
        release_b, finish_b = _run_paused(
            rw, monkeypatch, "_substitute_prepared_params", "EXECUTE uq_overlap(2)"
        )
        monkeypatch.undo()
        release_a()
        assert finish_a() == "SELECT (1) AS x"
        release_b()
        assert finish_b() == "SELECT (2) AS x"
    assert rw.rewrite("EXECUTE uq_overlap(3)") == "SELECT (3) AS x"


def test_concurrent_rewrite_keeps_pivot_column_names(spark, rw, monkeypatch):
    """A pivot column name that is not a plain identifier travels as a
    placeholder token until the end of its rewrite. Another request
    finishing its own rewrite meanwhile must not drop that token, or
    the pivot serves a column named ``uq_pvn_N``."""
    release, finish = _run_paused(
        rw, monkeypatch, "_pivot_name_token",
        "PIVOT (SELECT * FROM (VALUES ('a b', 1.0), ('c', 2.0)) t(a, x)) "
        "ON a USING sum(x)",
    )
    monkeypatch.undo()
    rw.rewrite("SELECT 1 AS other_request")
    release()
    df = spark.sql(finish())
    assert df.columns == ["a b", "c"]


def test_macro_defined_while_another_rewrite_expands_macros(spark, monkeypatch):
    """One rewriter serves every handler thread. A served CREATE MACRO
    that lands while another rewrite is expanding macros must not break
    that rewrite: it used to iterate the live macro dict and fail with
    "dictionary changed size during iteration" (a 500)."""
    rw = SqlRewriter(spark, allowed_dirs=[FIXTURES])
    rw.rewrite("CREATE MACRO uq_race_a(x) AS x + 1")
    rw.rewrite("CREATE MACRO uq_race_b(x) AS x * 2")
    entered, go, out = threading.Event(), threading.Event(), {}
    orig = rw._search_code

    def search(pat, *args):
        # pause the expanding thread at its first macro-call search
        if threading.current_thread() is worker and "uq_race_a" in pat.pattern:
            entered.set()
            assert go.wait(30)
        return orig(pat, *args)

    def run():
        try:
            out["sql"] = rw.rewrite("SELECT uq_race_a(1) + uq_race_b(2) AS v")
        except Exception as e:  # noqa: BLE001 - checked below
            out["error"] = e
        finally:
            entered.set()

    monkeypatch.setattr(rw, "_search_code", search)
    worker = threading.Thread(target=run)
    worker.start()
    assert entered.wait(30)
    rw.rewrite("CREATE MACRO uq_race_c(x) AS x - 1")
    go.set()
    worker.join(30)
    assert "error" not in out, out.get("error")
    assert spark.sql(out["sql"]).collect()[0].v == 6
    assert spark.sql(rw.rewrite("SELECT uq_race_c(1) AS v")).collect()[0].v == 0


def test_more_than_100_polymorphic_markers_resolve(spark, rw):
    """Each epoch() call leaves one polymorphic marker for the late
    probe pass. A select list with more markers than any fixed lap
    budget must still resolve every one: a marker left behind reaches
    Spark as an unresolvable routine."""
    import duckdb

    con = duckdb.connect()
    cols = [f"epoch(TIMESTAMP '2024-01-01 00:00:{i % 60:02d}') AS c{i}" for i in range(101)]
    sql = f"SELECT {', '.join(cols)}"
    out = rw.rewrite(sql)
    assert "uq_poly" not in out
    assert tuple(spark.sql(out).collect()[0]) == con.sql(sql).fetchall()[0]


@pytest.mark.parametrize("call", ["sha256('a')", "list_sort([3, 1, 2])"])
def test_a_thousand_calls_in_one_select_match_duckdb(spark, rw, call):
    """Sibling calls are walked with a loop: one statement holding a
    thousand calls of one translated function rewrites without growing
    the stack per call, and serves DuckDB's values."""
    import duckdb

    con = duckdb.connect()
    sql = "SELECT " + ", ".join(f"{call} AS c{i}" for i in range(1000))
    want = con.sql(sql).fetchall()[0]
    got = spark.sql(rw.rewrite(sql)).collect()[0]
    assert [list(v) if isinstance(v, list) else v for v in got] == list(want)


def test_probe_transport_failure_propagates(spark, rw, monkeypatch):
    """A LIMIT-0 probe answers "does not analyze" only for an analysis
    or parse failure. A dead gateway is a transport failure: it must
    fail the rewrite, not silently pick the fallback form."""
    from py4j.protocol import Py4JNetworkError

    class DeadGateway:
        def send_command(self, command):
            raise Py4JNetworkError("Answer from Java side is empty")

    class SqlMember:
        command_header, target_id, name = "", "o0", "sql"
        gateway_client = DeadGateway()

        def _build_args(self, *args):
            return "", []

    class DeadGatewaySpark:
        _jsparkSession = type("JSession", (), {"sql": SqlMember()})()

        def __getattr__(self, name):
            return getattr(spark, name)

    monkeypatch.setattr(rw, "spark", DeadGatewaySpark())
    with pytest.raises(Py4JNetworkError):
        rw.rewrite("SELECT len('abc') AS n")


def test_nested_case_mapping_calls_match_duckdb(spark, rw):
    """upper() inside upper() gets DuckDB's simple case mapping too, not
    Spark's full mapping ('ß' → 'SS'): the parity pass walks the
    arguments of a call it translates."""
    import duckdb

    con = duckdb.connect()
    sql = "SELECT upper(upper('straße')) AS a, ucase(ucase('ǆ')) AS b"
    assert tuple(spark.sql(rw.rewrite(sql)).collect()[0]) == con.sql(sql).fetchall()[0]


def test_map_literal_text_inside_a_string_is_kept(spark, rw):
    """``MAP {…}`` inside a string literal is text, not a map literal."""
    import duckdb

    con = duckdb.connect()
    sql = "SELECT 'MAP {1: 2}' AS s, MAP {1: 2}[1] AS v"
    assert tuple(spark.sql(rw.rewrite(sql)).collect()[0]) == con.sql(sql).fetchall()[0]


_LEXICAL_CASES = {
    # a comment ends no ORDER BY key: NULLS LAST goes after the key
    "order_by_trailing_comment": (
        "SELECT x FROM (VALUES (1), (NULL), (2)) v(x) ORDER BY x -- done"
    ),
    "line_comment_quote": "SELECT 'a' AS s -- don't\n, list_sort([3, 1, 2]) AS l",
    "block_comment_quote": "SELECT /* it's */ list_sort([3, 1, 2]) AS l",
    "comment_paren_in_call": "SELECT list_sort([3, 1, 2] -- (\n) AS l",
    "comment_comma_in_call": "SELECT list_sort([3, 1, 2] -- a, b\n) AS l",
    "comment_before_summarize": "-- c\nSUMMARIZE lex_t",
    "comment_before_pivot": "/* c */ PIVOT lex_t ON k USING sum(x)",
    "nested_block_comment": "SELECT /* a /* b */ it's */ list_sort([3, 1, 2]) AS l",
    "quoted_identifier_quote": "SELECT 1 AS \"it's\", list_sort([3, 1, 2]) AS l",
    "quoted_identifier_brackets": "SELECT \"a[0]\" + 1 AS v FROM lex_q",
    "quoted_identifier_operand": "SELECT \"a[0]\" ^ 2 AS v FROM lex_q",
    "quoted_macro_parameter": "SELECT lex_add1(41) AS v",
    # a qualified name with "…" parts is one operand
    "quoted_qualified_divisor": 'SELECT a / "t"."c" AS v FROM lex_n t',
    "quoted_qualified_modulo": 'SELECT a % "t".c AS v FROM lex_n t',
    "quoted_qualified_power": 'SELECT "t"."c" ^ 2 AS v FROM lex_n t',
    "quoted_qualified_in_subquery": 'SELECT "t"."c" IN (SELECT 2) AS v FROM lex_n t',
    "quoted_qualified_chain": 'SELECT "t"."s".upper() AS v FROM lex_n t',
    "quoted_qualified_factorial": 'SELECT "t"."c"! AS v FROM lex_n t',
    "literal_arbitrary": "SELECT 'arbitrary(x)' AS s",
    "literal_generate_series": "SELECT 'generate_series(1, 2)' AS s",
    "literal_columns": "SELECT 'COLUMNS(*)' AS s",
    "literal_using_sample": "SELECT 'orders USING SAMPLE 10' AS s",
    "literal_filter": "SELECT 'sum(x) FILTER (x > 1)' AS s",
    "literal_current_schema": "SELECT 'current_schema()' AS s",
    "literal_read_csv": "SELECT 'read_csv(''/etc/x.csv'')' AS s",
}


@pytest.mark.parametrize("case", sorted(_LEXICAL_CASES))
def test_comments_identifiers_and_literals_are_not_code(spark, rw, case):
    """DuckDB's lexer decides what is code: comments are whitespace, the
    text of a 'string literal' is never rewritten, and a "quoted
    identifier" is one token (never rewritten inside; an operand, or a
    macro parameter, as a whole). Each statement is served through the
    rewriter and compared with DuckDB."""
    import duckdb

    con = duckdb.connect()
    for name, rows in {
        "lex_t": "(VALUES ('a', 1), ('b', 2), ('a', 3)) v(k, x)",
        "lex_q": '(SELECT 2 AS "a[0]")',
        "lex_n": "(VALUES (7, 2, 'abc')) v(a, c, s)",
    }.items():
        con.sql(f"CREATE TABLE {name} AS SELECT * FROM {rows}")
        spark.sql(f"SELECT * FROM {rows}").createOrReplaceTempView(name)
    macro = 'CREATE MACRO lex_add1(x) AS "x" + 1'
    con.sql(macro)
    rw.rewrite(macro)
    sql = _LEXICAL_CASES[case]
    want = con.sql(sql)
    got = spark.sql(rw.rewrite(sql))
    if "SUMMARIZE" in sql:  # the stats DuckDB and Spark compute alike
        cols = ["column_name", "min", "max", "count"]
        want = con.sql(f"SELECT {', '.join(cols)} FROM ({sql.split(chr(10))[1]})")
        got = got.select(*cols)
    assert [tuple(r) for r in got.collect()] == want.fetchall(), sql


@pytest.mark.parametrize("sql", ["SELECT 'abc", 'SELECT "abc', "SELECT 1 /* abc"])
def test_unterminated_quote_or_comment_is_a_400(rw, sql):
    with pytest.raises(UQueryError) as ei:
        rw.rewrite(sql)
    assert ei.value.status == 400


def test_failed_recursive_union_step_drops_its_delta_view(spark, rw):
    """The UNION form of a recursive CTE binds each step's input as a
    temp view; a step that fails must not leave that view behind, where
    a client's SHOW TABLES would list it."""
    sql = "WITH RECURSIVE t(n) AS (SELECT 1 UNION SELECT nope FROM t) SELECT n FROM t"
    with pytest.raises(Exception):
        spark.sql(rw.rewrite(sql)).collect()
    views = [r.tableName for r in spark.sql("SHOW TABLES").collect()]
    assert not [v for v in views if re.fullmatch(r"uq_rec_\w+_delta", v)]


def test_empty_map_literal_like_duckdb(spark, rw):
    """``MAP {}`` is DuckDB's empty map: it rewrites to ``map()``, not to
    an unparsable ``map(, )``, alone and next to a non-empty map in a
    list."""
    import duckdb

    for sql in [
        "SELECT cardinality(MAP {}) AS v",
        "SELECT cardinality(MAP {  }) AS v",
        "SELECT len([MAP {}, MAP {'a': 1}]) AS v",
        "SELECT cardinality([MAP {}, MAP {'a': 1}][2]) AS v",
    ]:
        got = spark.sql(rw.rewrite(sql)).collect()[0].v
        assert got == duckdb.sql(sql).fetchall()[0][0], sql


_OPERAND_CASES = {
    # postfix ! binds looser than every arithmetic operator
    "factorial_after_plus": "SELECT 1 + 2! AS v",
    "factorial_after_times": "SELECT 2 * 3! AS v",
    "factorial_after_floordiv": "SELECT 7 // 2! AS v",
    "factorial_of_negative": "SELECT -3! AS v",
    # a unary sign binds tighter than power
    "negative_base_power": "SELECT -2 ^ 2 AS v",
    "negative_subscript_power": "SELECT -l[1] ^ 2 AS v FROM (SELECT [3] AS l)",
    # // is left-associative at the level of * / %
    "times_then_floordiv": "SELECT 2 * 7 // 2 AS v",
    "times_negative_then_floordiv": "SELECT 2 * -7 // 2 AS v",
    "divide_then_floordiv": "SELECT 7 / 2 // 2 AS v",
    "case_floordiv": "SELECT CASE WHEN true THEN 7.5 END // 2 AS v",
    "exponent_literal_floordiv": "SELECT 1e-5 // 2 AS v",
    # .field access is part of the operand on either side
    "field_power": "SELECT {'a': 2}.a ^ 2 AS v",
    "field_starstar": "SELECT {'a': 2}.a ** 2 AS v",
    "floordiv_by_field": "SELECT 7 // {'a': 2}.a AS v",
    "modulo_by_field": "SELECT 10 % {'a': 3}.a AS v",
    "divide_by_field": "SELECT 10 / {'a': 4}.a AS v",
    "starstar_field": "SELECT 2 ** {'a': 3}.a AS v",
    "field_in_subquery": "SELECT {'a': 2}.a IN (SELECT 2) AS v",
    "field_list_distance": "SELECT {'a': [1,2,3]}.a <-> [1,2,4] AS v",
    "subscript_field_power": "SELECT l[1].a ^ 2 AS v FROM (SELECT [{'a': 3}] AS l)",
    "group_field_floordiv": "SELECT (x).a // 2 AS v FROM (SELECT {'a': 7.5} AS x)",
    # a window or FILTER clause belongs to its call
    "window_floordiv": "SELECT sum(x) OVER () // 2 AS v FROM (SELECT 7.5 AS x)",
    "window_power": "SELECT sum(x) OVER () ^ 2 AS v FROM (SELECT 3 AS x)",
    "power_of_window": "SELECT 2 ^ sum(x) OVER () AS v FROM (SELECT 3 AS x)",
    "filter_floordiv": "SELECT count(*) FILTER (WHERE x > 1) // 2 AS v FROM (SELECT 7 AS x)",
    # a :: cast is part of the operand on either side
    "cast_power": "SELECT x::DOUBLE ^ 2 AS v FROM (SELECT '3' AS x)",
    "spaced_cast_power": "SELECT x :: DOUBLE ^ 2 AS v FROM (SELECT '3' AS x)",
    "decimal_cast_starstar": "SELECT x::DECIMAL(4,1) ** 2 AS v FROM (SELECT '1.5' AS x)",
    "power_of_cast": "SELECT 2 ^ x::DOUBLE AS v FROM (SELECT '3' AS x)",
    "cast_floordiv": "SELECT x::INT // 2 AS v FROM (SELECT '7' AS x)",
    "floordiv_by_subscript_cast": "SELECT 7 // l[1]::INT AS v FROM (SELECT ['2'] AS l)",
    # a typed literal is one operand; a keyword is none
    "typed_literal_cast": "SELECT DATE '2024-01-31'::VARCHAR AS v",
    "prefix_bitwise_not": "SELECT ~5 AS v",
    # shapes that already held
    "power_left_assoc": "SELECT 2 ^ 3 ^ 2 AS v",
    "times_power": "SELECT 2 * 3 ^ 2 AS v",
    "floordiv_then_times": "SELECT 7 // 2 * 2 AS v",
    "fractional_floordiv": "SELECT 7.5 // 2 AS v",
    "sum_in_subquery": "SELECT 1 + 2 IN (SELECT 3) AS v",
}


@pytest.mark.parametrize("case", sorted(_OPERAND_CASES))
def test_operands_take_duckdb_precedence(spark, rw, case):
    """Each operator finds its operands through one scanner with
    DuckDB's precedence; every statement is served and compared with
    DuckDB."""
    import duckdb

    sql = _OPERAND_CASES[case]
    want = duckdb.sql(sql).fetchall()
    assert [tuple(r) for r in spark.sql(rw.rewrite(sql)).collect()] == want, sql


def test_floordiv_by_exists_is_an_error(spark, rw):
    """``7 // EXISTS (…)`` is a binder error in DuckDB; a divisor that is
    no operand stays native and Spark's analysis rejects it (a 400)."""
    import duckdb
    from pyspark.errors import AnalysisException

    sql = "SELECT 7 // EXISTS (SELECT 1) AS v"
    with pytest.raises(duckdb.BinderException):
        duckdb.sql(sql)
    with pytest.raises(AnalysisException):
        spark.sql(rw.rewrite(sql))


_REGEX_MATCH_CASES = {
    "partial_is_no_match": "SELECT 'abc' ~ 'b' AS v",
    "negated_partial": "SELECT 'abc' !~ 'b' AS v",
    "full_match": "SELECT 'abc' ~ 'a.c' AS v",
    "alternation_is_anchored_whole": "SELECT 'abc' ~ 'a|abc' AS v",
    "column_pattern": "SELECT s ~ p AS v FROM (VALUES ('abc', 'b'), ('abc', 'a.*'), ('x', NULL)) t(s, p)",
    "concat_pattern_binds_looser": "SELECT 'ab' ~ 'a' || 'b' AS v",
    "concat_subject": "SELECT 'a' || 'b' ~ 'ab' AS v",
    "then_compared": "SELECT 'abc' ~ 'b' = false AS v",
    "under_not": "SELECT NOT 'abc' ~ 'b' AS v",
    "in_where": "SELECT count(*) AS v FROM (VALUES ('abc'), ('b'), ('xbx')) t(s) WHERE s ~ 'b'",
    "null_pattern": "SELECT 'x' ~ NULL AS v",
    # a :: cast binds tighter than ~ on either side
    "cast_subject": "SELECT id::VARCHAR ~ '[0-9]+' AS v FROM (VALUES (1), (23)) t(id)",
    "cast_literal_pattern": "SELECT 'abc' ~ 'a.c'::VARCHAR AS v",
    "cast_column_pattern": "SELECT s ~ p::VARCHAR AS v FROM (VALUES ('abc', 'a.c'), ('abc', 'b')) t(s, p)",
    "chained_cast_subject": "SELECT x::DECIMAL(10,2)::VARCHAR ~ '3\\.00' AS v FROM (VALUES (3)) t(x)",
    # $ before a final newline is no end of the string in RE2
    "trailing_newline": "SELECT ('ab' || chr(10)) ~ 'ab' AS v",
    "escaped_class": "SELECT '123' ~ '\\d+' AS v",
    "fn_trailing_newline": "SELECT regexp_full_match('ab' || chr(10), 'ab') AS v",
    "fn_escaped_class": "SELECT regexp_full_match('123', '\\d+') AS v",
    "fn_column_pattern": "SELECT regexp_full_match(s, p) AS v "
    "FROM (VALUES ('abc', 'b'), ('abc', 'a.*'), ('x', NULL)) t(s, p)",
    # SIMILAR TO and a bracketed GLOB anchor the same way
    "similar_trailing_newline": "SELECT ('ab' || chr(10)) SIMILAR TO 'ab' AS v",
    "not_similar_trailing_newline": "SELECT ('ab' || chr(10)) NOT SIMILAR TO 'ab' AS v",
    "similar_escaped_class": "SELECT '123' SIMILAR TO '\\d+' AS v",
    "glob_class_trailing_newline": "SELECT ('ab' || chr(10)) GLOB 'a[b]' AS v",
    "glob_class": "SELECT s GLOB 'a[bc]*' AS v FROM (VALUES ('abx'), ('adx')) t(s)",
}


@pytest.mark.parametrize("case", sorted(_REGEX_MATCH_CASES))
def test_regex_match_operator_is_a_full_match(spark, rw, case):
    """``~``/``!~`` are DuckDB's regexp_full_match, and SIMILAR TO and a
    bracketed GLOB full matches too: the whole string must match, where
    Spark's RLIKE finds the pattern anywhere, and only up to its very
    end (Java's ``$`` also matches before a final newline). Every
    statement is served and compared with DuckDB."""
    import duckdb

    sql = _REGEX_MATCH_CASES[case]
    want = duckdb.sql(sql).fetchall()
    assert [tuple(r) for r in spark.sql(rw.rewrite(sql)).collect()] == want, sql


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT x IN (SELECT -1) AS v FROM (SELECT -1 AS x)",
        "SELECT x NOT IN (SELECT +1) AS v FROM (SELECT 1 AS x)",
        "SELECT x IN (SELECT (1)) AS v FROM (SELECT 1 AS x)",
        "SELECT count(*) AS v FROM (SELECT -1 AS x) WHERE x IN (SELECT - 1 + 0)",
        "SELECT x = ANY(SELECT -1) AS v FROM (SELECT -1 AS x)",
    ],
)
def test_in_subquery_of_a_signed_select(spark, rw, sql):
    """A subquery after IN whose select list starts with a sign or a
    parenthesis is served (Spark reads ``(SELECT -1)`` there as the
    expression ``SELECT - 1``), and compared with DuckDB."""
    import duckdb

    want = duckdb.sql(sql).fetchall()
    assert [tuple(r) for r in spark.sql(rw.rewrite(sql)).collect()] == want, sql


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT count(*) AS v FROM (VALUES (3), (1)) t(n), unnest([n, 2])",
        "SELECT * FROM (VALUES (3), (1)) t(n), unnest([n, 2]) ORDER BY ALL",
        "SELECT n, u FROM (VALUES (3), (1)) t(n), unnest([n, 2]) AS x(u) ORDER BY ALL",
        "SELECT * FROM (VALUES (3), (1)) t(n) JOIN unnest([n, 2]) ON true ORDER BY ALL",
        "SELECT * FROM (VALUES (3), (1)) t(n) CROSS JOIN unnest([n, 2]) ORDER BY ALL",
        "SELECT a, unnest([1, 2]) AS u FROM (SELECT 1 AS a) ORDER BY ALL",
        "SELECT a IS DISTINCT FROM 2, unnest([1, 2]) AS u FROM (SELECT 1 AS a) ORDER BY ALL",
    ],
)
def test_from_unnest_reads_an_earlier_from_item(spark, rw, sql):
    """A FROM-position ``unnest`` after a comma or JOIN may read a column
    of an earlier FROM item (a LATERAL subquery); one in a SELECT list
    stays a generator. Compared with DuckDB."""
    import duckdb

    want = duckdb.sql(sql).fetchall()
    assert [tuple(r) for r in spark.sql(rw.rewrite(sql)).collect()] == want, sql


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT [w[i+1] FOR i IN range(len(w)) IF i > 0] AS k FROM (VALUES (['a','b','c'])) t(w)",
        "SELECT [w[i+1] FOR i IN range(len(w)) IF len(w[1]) = i] AS k "
        "FROM (VALUES (['a','bb','c'])) t(w)",
        "SELECT len(w) AS n, [x FOR x IN w IF len(x) > 1] AS k FROM (VALUES (['a','bb'])) t(w)",
        "SELECT [1, 2, 3][id] AS v FROM range(4) t(id) ORDER BY id",
        "SELECT [10, 20, 30][-id] AS v FROM range(1, 5) t(id) ORDER BY id",
        "SELECT [1, 2, 3][CAST(4294967297 AS BIGINT)] AS v",
        "SELECT 'abc'[id] AS v FROM range(1, 5) t(id) ORDER BY id",
    ],
)
def test_list_subscript_takes_a_bigint_index(spark, rw, sql):
    """A list subscript whose index is a BIGINT (a ``range`` element, say)
    is served: Spark's ``element_at`` takes only an INT index, so the
    index is ``try_cast`` to INT (out of INT range gives NULL, like
    DuckDB). Before, such a comprehension failed analysis in every
    ``len()`` probe, so ``len()`` of the list came out as ``length()``.
    Compared with DuckDB."""
    import duckdb

    want = duckdb.sql(sql).fetchall()
    assert [tuple(r) for r in spark.sql(rw.rewrite(sql)).collect()] == want, sql


def test_generate_series_is_empty_when_the_step_moves_away(spark, rw):
    """``generate_series`` (inclusive stop) is empty when its step does
    not move toward the stop and NULL when an argument is, like DuckDB's
    and through range()'s (exclusive stop) guard; Spark's sequence()
    would count down. (As a table function DuckDB rejects such constant
    bounds at bind time; served, it yields no rows.)"""
    import duckdb

    for sql in [
        "SELECT generate_series(3, 1) AS v",
        "SELECT generate_series(1, 3, -1) AS v",
        "SELECT generate_series(3, 1, -1) AS v",
        "SELECT generate_series(1, 3) AS v",
        "SELECT generate_series(1, 7, 3) AS v",
        "SELECT generate_series(2, 2) AS v",
        "SELECT generate_series(4) AS v",
        "SELECT generate_series(1, 3, 0) AS v",
        "SELECT generate_series(1, NULL) AS v",
        "SELECT range(1, NULL) AS v",
        "SELECT range(3, 1) AS v",
        "SELECT [x FOR x IN generate_series(1, len('') - 1)] AS v",
        "SELECT sum(generate_series) AS v FROM generate_series(6, 2, -2)",
        "SELECT sum(len(generate_series(n, 2))) AS v FROM (VALUES (3), (1)) t(n)",
    ]:
        got = spark.sql(rw.rewrite(sql)).collect()[0].v
        assert got == duckdb.sql(sql).fetchall()[0][0], sql


def test_repetition_stats_text_skips_documents_without_bigrams(spark):
    """The served ``text_repetition_stats`` text over an empty and a
    one-token document: they have no bigram, so DuckDB returns no row
    for them (``generate_series(1, 0)`` is empty)."""
    import duckdb

    from uquery_rs_spark import queries as Q

    from .conftest import served

    Q.load_all()
    sql = Q.REGISTRY["text_repetition_stats"].oracle
    rows = [(1, " ".join(["spam ham"] * 20)), (3, ""), (4, "solo")]
    con = duckdb.connect()
    con.sql("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = [(r.doc_id, float(r.top_bigram_frac)) for r in served(spark, sql, documents=docs)]
    assert got == [(d, float(f)) for d, f in con.sql(sql).fetchall()]
    assert [d for d, _ in got] == [1]
