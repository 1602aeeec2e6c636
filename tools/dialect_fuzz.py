"""Differential dialect fuzzer: random query trees, DuckDB as oracle.

The round-6 sweep methodology as a generator. Five axes; every
expression DuckDB evaluates must produce the same (normalized) value
through the gateway. Residual mismatch classes that are DOCUMENTED
deviations are listed in NOTES (decimal median discreteness,
arg-function ties, bare any_value input-order).

Usage:
    python tools/dialect_fuzz.py [expr|agg|window|rel|temporal|nested|pattern|all] [batches] [seed]

Catches credited to this harness (round 6): nested left/right/substr
negative windows, decimal list_sum folds, width-strict list_position,
arg_max NULL-value skip, null-keeping first/last ordering, avg DECIMAL
width, corr ANSI divide-by-zero, DATE±INTERVAL widening, age(),
datepart('dow') off-by-one, width-coercing list_append/prepend.
"""
import os
import sys
import random
import decimal
import datetime

sys.path.insert(0, ".")
import duckdb  # noqa: E402
from uquery_rs_spark.rewrite import SqlRewriter  # noqa: E402
from uquery_rs_spark.session import get_spark  # noqa: E402

STRS = ["'abc'", "'Héllo'", "'a,b,c'", "''", "'x y'", "'éx'", "'AbC dEf'",
        "'  pad  '", "'1234'", "'a.b'"]
INTS = ["0", "1", "2", "3", "7", "-3", "12", "-1", "5"]
DATES = ["DATE '2024-01-31'", "DATE '2023-12-01'", "DATE '2024-02-29'",
         "DATE '2024-03-01'", "DATE '1999-12-31'", "DATE '2024-07-04'"]
TSS = ["TIMESTAMP '2024-01-31 23:59:59.5'", "TIMESTAMP '2024-02-29 00:00:01'",
       "TIMESTAMP '2023-06-15 12:30:45.123'"]
UNITS = ["day", "week", "month", "quarter", "year", "hour", "minute", "second"]
IVALS = ["INTERVAL 1 DAY", "INTERVAL 3 MONTH", "INTERVAL 90 MINUTE",
         "INTERVAL 1 YEAR", "INTERVAL 2 WEEK", "INTERVAL 36 HOUR"]


def norm(v):
    if isinstance(v, decimal.Decimal):
        return int(v) if v == int(v) else round(float(v), 9)
    if isinstance(v, float):
        return int(v) if v == int(v) else round(v, 9)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return v


class Gen:
    def __init__(self, rnd):
        self.rnd = rnd

    def iexpr(self, d):
        r = self.rnd
        if d <= 0:
            return r.choice(INTS)
        a, b = self.iexpr(d - 1), self.iexpr(d - 1)
        s = self.sexpr(d - 1)
        dt = self.dexpr(d - 1)
        return r.choice([
            f"({a} + {b})", f"({a} - {b})", f"({a} * {b})", f"abs({a})",
            f"greatest({a}, {b})", f"least({a}, {b})", f"length({s})",
            f"list_sum([{a}, {b}])", f"ascii({s})", f"len({s})",
            f"sign({a})", f"floor({a} / 2.0)", f"instr({s}, 'a')",
            f"list_position([{a}, {b}], {a})",
            f"day({dt})", f"month({dt})", f"isodow({dt})",
        ])

    def sexpr(self, d):
        r = self.rnd
        if d <= 0:
            return r.choice(STRS)
        a, b = self.sexpr(d - 1), self.sexpr(d - 1)
        i = r.choice(INTS)
        dt = self.dexpr(d - 1)
        return r.choice([
            f"upper({a})", f"lower({a})", f"trim({a})", f"reverse({a})",
            f"substr({a}, {i}, 2)", f"left({a}, {i})", f"right({a}, {i})",
            f"split_part({a}, ',', 1)", f"concat({a}, {b})",
            f"repeat({a}, 2)", f"lpad({a}, 6, '*')", f"rpad({a}, 6, '*')",
            f"replace({a}, 'a', 'Z')", f"translate({a}, 'ab', 'xy')",
            f"array_to_string([{a}, {b}], '|')",
            f"list_last(string_split({a}, ','))",
            f"strftime({dt}, '%Y/%m/%d')", f"dayname(CAST({dt} AS DATE))",
        ])

    def dexpr(self, d):
        r = self.rnd
        if d <= 0:
            return r.choice(DATES + TSS)
        a = self.dexpr(d - 1)
        return r.choice([
            f"({a} + {r.choice(IVALS)})", f"({a} - {r.choice(IVALS)})",
            f"date_trunc('{r.choice(UNITS)}', {a})",
            f"last_day(CAST({a} AS DATE))",
            f"(CAST({a} AS DATE) + {r.choice(['1', '30', '-7'])})",
        ])

    def temporal_scalar(self):
        r = self.rnd
        a, b = self.dexpr(r.randint(0, 2)), self.dexpr(r.randint(0, 2))
        u = r.choice(UNITS)
        return r.choice([
            f"CAST({a} AS VARCHAR)",
            f"date_diff('{u}', CAST({a} AS TIMESTAMP), CAST({b} AS TIMESTAMP))",
            f"datepart('{r.choice(['year', 'month', 'day', 'hour', 'dow', 'doy', 'week'])}', {a})",
            f"strftime(CAST({a} AS TIMESTAMP), '%Y-%m-%d %H:%M')",
            # age via VARCHAR: the duckdb client lossily converts
            # calendar INTERVALs to timedelta (months → approx days)
            f"CAST(age(CAST({a} AS TIMESTAMP), CAST({b} AS TIMESTAMP)) AS VARCHAR)",
            f"epoch(CAST({a} AS TIMESTAMP))",
        ])

    def lexpr(self, d):
        r = self.rnd
        if d <= 0:
            return r.choice(["[1, 2, 3]", "[5, NULL, 7]", "['a', 'b']",
                             "[1.5, 2.5]", "string_split('p,q,r', ',')"])
        a = self.lexpr(d - 1)
        return r.choice([
            f"list_append({a}, 9)" if "'" not in a else f"list_sort({a})",
            # sort AFTER distinct: DuckDB's list_distinct SCRAMBLES
            # order (unspecified — [1,2,3] comes back [3,2,1]), the
            # repo-documented deviation; pre-sorting compares garbage
            f"list_sort(list_distinct({a}))", f"list_sort({a})",
            f"list_reverse({a})", f"list_slice({a}, 1, 2)",
            f"array_pop_back({a})", f"list_resize({a}, 4)",
            f"({a})[1:2]", f"list_concat({a}, {a})",
        ])

    def pattern_expr(self):
        r = self.rnd
        subj = "'" + r.choice(["abc", "a.c", "a*c", "[ab]", "a_c", "a%c", "",
                               "aaa", "xyz", "ABC", "a c", "a+b", "(a)"]) + "'"
        like = "".join(r.choice(["a", "b", "%", "_", "c", "x", ".", "*"])
                       for _ in range(r.randint(1, 4)))
        gl = "".join(r.choice(["a", "b", "*", "?", "c", "[ab]", "[!ab]", "x"])
                     for _ in range(r.randint(1, 4)))
        sim = "".join(r.choice(["a", "b", "c", ".", "a*", "b+", "(a|b)",
                                "[abc]", "x?"]) for _ in range(r.randint(1, 3)))
        rx = "".join(r.choice(["a", "b", ".", "a*", "(a|b)", "[abc]", "^a",
                               "c$", "\\d"]) for _ in range(r.randint(1, 3)))
        return r.choice([
            f"({subj} LIKE '{like}')", f"({subj} NOT LIKE '{like}')",
            f"({subj} GLOB '{gl}')", f"({subj} SIMILAR TO '{sim}')",
            f"regexp_matches({subj}, '{rx}')",
            f"regexp_extract({subj}, '{rx}')",
            f"regexp_replace({subj}, '{rx}', 'Z')",
        ])

    def nested_scalar(self):
        r = self.rnd
        l = self.lexpr(r.randint(0, 2))
        return r.choice([
            f"array_to_string({l}, '|')", f"len({l})",
            f"({l})[1] IS NULL",
            f"{{'a': {l}}}.a[1] IS NOT NULL",
            f"struct_pack(x := 1, y := 'b').y",
            f"{{'p': {{'q': 7}}}}.p.q",
            f"map_keys(MAP {{'a': 1, 'b': 2}})[2]",
            f"map_values(MAP {{'a': 5}})[1]",
            f"to_json({{'a': 1, 'b': [1,2]}})",
            f"array_to_string(list_filter({l}, x -> x IS NOT NULL), ',')",
        ])

    def div_expr(self, d):
        """Round-7 axis: division/modulo trees with zero-heavy divisors
        (DuckDB x/0, x%0, x//0 are NULL in every numeric type; Spark
        ANSI raises — the nullif-divisor wrap must make them agree),
        plus the decimal-operand '/' (DuckDB always returns DOUBLE)."""
        r = self.rnd
        if d <= 0:
            return r.choice(["0", "1", "-7", "2.5", "-0.5", "3", "NULL",
                             "12", "0.0", "100", "-1"])
        a, b = self.div_expr(d - 1), self.div_expr(d - 1)
        ia = r.choice(INTS + ["0", "0", "NULL"])
        ib = r.choice(INTS + ["0", "0", "NULL"])
        return r.choice([
            f"({a} / {b})", f"({a} % {b})", f"({a} / {b})",
            f"({a} + {b})", f"({a} * {b})", f"({a} - {b})",
            f"({ia} // {ib})",
            f"round({a} / {b}, 3)",
            f"(CASE WHEN {a} IS NULL THEN {b} ELSE {a} END / {b})",
            f"abs({a} % {b})",
        ])

    def subq_pred(self, outer, inner_tbl, tag):
        """Round-7 axis: subquery predicates in BOTH projected and
        filter positions — IN/NOT IN (three-valued with NULL-bearing
        subqueries; the r7 projected-IN close), EXISTS/NOT EXISTS,
        scalar subqueries. ``inner_tbl`` is a full VALUES relation
        text, re-aliased per use so the same generated table can
        appear in several subqueries of one statement."""
        r = self.rnd
        t = f"{inner_tbl} {tag}(i, s, d)"
        sub = r.choice([
            f"SELECT i FROM {t} WHERE i IS NOT NULL",
            f"SELECT i FROM {t}",  # may contain NULLs → 3VL
            f"SELECT i FROM {t} WHERE i > 1",
            f"SELECT i FROM {t} WHERE i < -90",  # usually empty
        ])
        neg = r.choice(["", "NOT "])
        return r.choice([
            f"({outer}.i {neg}IN ({sub}))",
            f"({neg}EXISTS (SELECT 1 FROM {t} WHERE {tag}.i = {outer}.i))",
            f"({outer}.i = (SELECT max(i) FROM {t}))",
            f"({outer}.i < (SELECT count(*) FROM {t}))",
        ])

    def time_atom(self):
        r = self.rnd
        return r.choice([
            "TIME '23:30:00'", "TIME '00:00:00'", "TIME '12:34:56.789'",
            "TIME '01:15:00'", "TIME '23:59:59.5'", "TIME '06:00:00'",
            f"CAST({r.choice(TSS)} AS TIME)",
            "make_time(7, 30, 15.25)",
        ])

    def timemix_scalar(self):
        """Round-9 axis (r8 verdict item 4): TIME/TIMESTAMP mixed-type
        scalars — the TIME surface is one round old, and the new
        ± INTERVAL wraparound path needs adversarial coverage."""
        r = self.rnd
        t1, t2 = self.time_atom(), self.time_atom()
        iv = r.choice(IVALS)
        sgn = r.choice(["+", "-"])
        return r.choice([
            f"CAST({t1} {sgn} {iv} AS VARCHAR)",
            f"CAST({iv} + {t1} AS VARCHAR)",
            f"CAST({t1} {sgn} {iv} {sgn} {r.choice(IVALS)} AS VARCHAR)",
            f"({t1} < {t2})", f"({t1} = {t2})", f"({t1} >= {t2})",
            f"CAST(greatest({t1}, {t2}) AS VARCHAR)",
            f"CAST(least({t1}, {t2}) AS VARCHAR)",
            f"extract(hour FROM {t1})",
            f"extract(minute FROM {t1})",
            f"extract(second FROM {t1})",
            f"round(extract(epoch FROM {t1}), 3)",
            f"CAST(CASE WHEN {t1} < {t2} THEN {t1} ELSE {t2} END AS VARCHAR)",
            f"(CAST({t1} AS VARCHAR) = CAST({t2} AS VARCHAR))",
            f"CAST({r.choice(DATES)} {sgn} {iv} AS VARCHAR)",
            f"CAST({r.choice(TSS)} {sgn} {iv} AS VARCHAR)",
        ])

    def values_body(self):
        r = self.rnd
        rows = []
        for _ in range(r.randint(1, 8)):
            i = r.choice(["1", "2", "3", "7", "-3", "NULL", "0", "12"])
            s = r.choice(["'a'", "'b'", "'abc'", "NULL", "'x y'", "''"])
            dd = r.choice(["1.5", "2.25", "-0.5", "NULL", "3.0"])
            rows.append(f"({i}, {s}, {dd})")
        return f"(VALUES {', '.join(rows)})"

    def values_table(self, alias="t"):
        return f"{self.values_body()} {alias}(i, s, d)"


AGGS = [
    "sum(i)", "avg(i)", "min(i)", "max(i)", "count(i)", "count(*)",
    "sum(d)", "avg(d)", "min(d)", "max(d)", "sum(DISTINCT i)",
    "count(DISTINCT s)", "min(s)", "max(s)", "bool_and(i > 0)",
    "bool_or(i > 2)", "string_agg(s, '|' ORDER BY s)", "median(i)",
    "first(s ORDER BY s)", "last(i ORDER BY i)",
    "sum(i) FILTER (WHERE i > 0)", "var_pop(i)", "stddev_samp(d)",
    "product(i)", "bit_and(i)", "bit_or(i)", "bit_xor(i)",
    "quantile_disc(i, 0.25)", "count_if(i > 1)", "corr(i, d)",
    "covar_pop(i, d)",
    # min_by/max_by keys made tie-free: with duplicate minimal i both
    # engines may pick different rows (unspecified) — latent flake
    # exposed when the round-8 entries shifted the RNG stream
    "max_by(s, concat(lpad(CAST(i + 1000 AS VARCHAR), 6, '0'), "
    "coalesce(s, '~')))",
    "min_by(s, concat(lpad(CAST(i + 1000 AS VARCHAR), 6, '0'), "
    "coalesce(s, '~')))",
    # round-8 list/array_agg NULL-keeping forms (string-serialized with
    # an explicit NULL marker so kept-vs-dropped shows in the compare)
    "array_to_string(list_transform(list(i ORDER BY i), "
    "x -> coalesce(CAST(x AS VARCHAR), 'N')), ',')",
    "array_to_string(list_transform(list_sort(list(i)), "
    "x -> coalesce(CAST(x AS VARCHAR), 'N')), ',')",
    "array_to_string(list_transform(list(DISTINCT i ORDER BY i), "
    "x -> coalesce(CAST(x AS VARCHAR), 'N')), ',')",
    "array_to_string(list_transform(list(s ORDER BY s DESC) "
    "FILTER (WHERE i > 0), x -> coalesce(x, 'N')), ',')",
    "array_to_string(list_transform(list_sort(array_agg(s) "
    "FILTER (WHERE i IS NOT NULL)), x -> coalesce(x, 'N')), ',')",
    # round-8 nested-agg FILTER / DISTINCT forms
    "CAST(mad(i) FILTER (WHERE i > 0) AS DOUBLE)",
    "CAST(mad(DISTINCT i) AS DOUBLE)",
    "round(entropy(s) FILTER (WHERE i >= 0), 6)",
    "round(entropy(DISTINCT i), 6)",
]

WFRAMES = ["", " ROWS BETWEEN 1 PRECEDING AND CURRENT ROW",
           " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
           " RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"]


ALL_AXES = ["expr", "agg", "window", "rel", "temporal", "nested", "pattern",
            "div", "subq", "timemix", "multirel", "pivotfz", "saggfz",
            "macrofz", "psfz", "jsonfz"]


def run_axis(axis, batches, rnd, spark, rw, con):
    g = Gen(rnd)
    checked = mismatch = 0
    fails = []

    def compare_scalar_batch(exprs):
        nonlocal checked, mismatch
        keep, want = [], []
        for e in exprs:
            try:
                want.append(con.sql(f"SELECT {e}").fetchall()[0][0])
                keep.append(e)
            except Exception:
                continue
        if not keep:
            return
        sel = ", ".join(f"{e} AS c{i}" for i, e in enumerate(keep))
        try:
            row = list(spark.sql(rw.rewrite(f"SELECT {sel}")).collect()[0])
        except Exception:
            for e, w in zip(keep, want):
                checked += 1
                try:
                    gv = spark.sql(rw.rewrite(f"SELECT {e} AS v")).collect()[0][0]
                except Exception as exc:
                    mismatch += 1
                    fails.append((e, w, "REJECT " + str(exc).split("\n")[0][:90]))
                    continue
                if norm(gv) != norm(w):
                    mismatch += 1
                    fails.append((e, w, gv))
            return
        for e, w, gv in zip(keep, want, row):
            checked += 1
            if norm(gv) != norm(w):
                mismatch += 1
                fails.append((e, w, gv))

    for _ in range(batches):
        if axis == "expr":
            compare_scalar_batch(
                [g.iexpr(rnd.randint(1, 3)) if rnd.random() < 0.5
                 else g.sexpr(rnd.randint(1, 3)) for _ in range(12)]
            )
        elif axis == "temporal":
            compare_scalar_batch([g.temporal_scalar() for _ in range(8)])
        elif axis == "nested":
            compare_scalar_batch([g.nested_scalar() for _ in range(5)])
        elif axis == "pattern":
            compare_scalar_batch([g.pattern_expr() for _ in range(10)])
        elif axis == "div":
            compare_scalar_batch(
                [g.div_expr(rnd.randint(1, 3)) for _ in range(12)]
            )
        elif axis == "subq":
            a = g.values_table("a")
            body = g.values_body()
            proj = g.subq_pred("a", body, "sq1")
            filt = g.subq_pred("a", body, "sq2")
            q = (f"SELECT a.i, a.s, {proj} AS p FROM {a} "
                 f"WHERE a.i IS NULL OR {filt} OR a.i > -100 "
                 if rnd.random() < 0.5 else
                 f"SELECT a.i, {proj} AS p FROM {a} WHERE {filt}")
            skey = lambda r: tuple((x is None, str(x)) for x in r)  # noqa: E731
            try:
                want = sorted((tuple(norm(x) for x in r)
                              for r in con.sql(q).fetchall()), key=skey)
            except Exception:
                continue
            try:
                got = sorted((tuple(norm(x) for x in r)
                             for r in spark.sql(rw.rewrite(q)).collect()), key=skey)
            except Exception as e:
                mismatch += 1
                fails.append((q[:120], None, "REJECT " + str(e).split("\n")[0][:80]))
                continue
            checked += 1
            if want != got:
                mismatch += 1
                fails.append((q[:160], want[:3], got[:3]))
        elif axis == "agg":
            tbl = g.values_table()
            aggs = rnd.sample(AGGS, 6)
            keep, want = [], []
            for a in aggs:
                try:
                    want.append(con.sql(f"SELECT {a} FROM {tbl}").fetchall()[0][0])
                    keep.append(a)
                except Exception:
                    continue
            if not keep:
                continue
            sel = ", ".join(f"{a} AS c{i}" for i, a in enumerate(keep))
            try:
                row = list(
                    spark.sql(rw.rewrite(f"SELECT {sel} FROM {tbl}")).collect()[0]
                )
            except Exception as e:
                mismatch += 1
                fails.append((sel[:90], None, "REJECT " + str(e).split("\n")[0][:90]))
                continue
            for a, w, gv in zip(keep, want, row):
                checked += 1
                if norm(gv) != norm(w):
                    mismatch += 1
                    fails.append((a, w, gv))
        elif axis == "window":
            tbl = g.values_table()
            over = "OVER (PARTITION BY s ORDER BY i)"
            ws = [rnd.choice([
                f"row_number() {over}", f"rank() {over}", f"lag(d) {over}",
                f"sum(d) OVER (PARTITION BY s ORDER BY i{rnd.choice(WFRAMES)})",
                f"min(i) OVER (PARTITION BY s ORDER BY i{rnd.choice(WFRAMES)})",
                # round-8 EXCLUDE GROUP/TIES (RANGE frames; non-unique
                # ORDER BY key i makes real peer groups)
                f"sum(d) OVER (PARTITION BY s ORDER BY i RANGE BETWEEN "
                f"UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE "
                f"{rnd.choice(['GROUP', 'TIES'])})",
                f"count(i) OVER (PARTITION BY s ORDER BY i RANGE BETWEEN "
                f"UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE "
                f"{rnd.choice(['GROUP', 'TIES'])})",
                f"first_value(d) {over}", f"ntile(2) {over}",
            ]) for _ in range(4)]
            sel = ", ".join(f"{w} AS c{i}" for i, w in enumerate(ws))
            q = f"SELECT i, s, d, {sel} FROM {tbl} ORDER BY ALL"
            try:
                want = [tuple(norm(x) for x in r) for r in con.sql(q).fetchall()]
            except Exception:
                continue
            try:
                got = [tuple(norm(x) for x in r)
                       for r in spark.sql(rw.rewrite(q)).collect()]
            except Exception as e:
                mismatch += 1
                fails.append((q[:90], None, "REJECT " + str(e).split("\n")[0][:80]))
                continue
            checked += 1
            skey = lambda r: tuple((x is None, x) for x in r)  # noqa: E731
            if sorted(want, key=skey) != sorted(got, key=skey):
                mismatch += 1
                fails.append((q[:120], want[:3], got[:3]))
        elif axis == "timemix":
            compare_scalar_batch([g.timemix_scalar() for _ in range(8)])
            # column-based forms: TIME built from table ints via
            # make_time — exercises the wrap dispatch where the operand
            # is a column expression resolved through FROM context
            tbl = g.values_table()
            iv1, iv2 = rnd.choice(IVALS), rnd.choice(IVALS)
            sgn = rnd.choice(["+", "-"])
            tcol = "make_time(abs(i) % 24, abs(i * 7) % 60, abs(i) % 60)"
            exprs = [
                f"CAST({tcol} {sgn} {iv1} AS VARCHAR) AS c0",
                f"CAST({tcol} + {iv1} {sgn} {iv2} AS VARCHAR) AS c1",
                f"extract(hour FROM {tcol} {sgn} {iv1}) AS c2",
            ]
            q = (f"SELECT i, {', '.join(exprs)} FROM {tbl} "
                 f"WHERE i IS NOT NULL")
            skey = lambda r: tuple((x is None, str(x)) for x in r)  # noqa: E731
            try:
                want = sorted((tuple(norm(x) for x in r)
                              for r in con.sql(q).fetchall()), key=skey)
            except Exception:
                continue
            try:
                got = sorted((tuple(norm(x) for x in r)
                             for r in spark.sql(rw.rewrite(q)).collect()), key=skey)
            except Exception as e:
                mismatch += 1
                fails.append((q[:120], None, "REJECT " + str(e).split("\n")[0][:80]))
                continue
            checked += 1
            if want != got:
                mismatch += 1
                fails.append((q[:160], want[:3], got[:3]))
        elif axis == "multirel":
            # round-9 axis: random join/set-op TREES over 2-3 relations
            # (the rel axis is single-level; composition order and
            # NULL-key propagation through nested ops is untested there)
            def leaf():
                return f"(SELECT i, s FROM {g.values_table('t' + str(rnd.randrange(10_000)))})"

            def tree(d):
                if d <= 0:
                    return leaf()
                l, rr = tree(d - 1), tree(d - 1)
                k = rnd.randrange(3)
                if k == 0:
                    op = rnd.choice(["UNION", "UNION ALL", "INTERSECT",
                                     "EXCEPT", "INTERSECT ALL", "EXCEPT ALL"])
                    return f"({l} {op} {rr})"
                if k == 1:
                    jt = rnd.choice(["JOIN", "LEFT JOIN", "FULL JOIN"])
                    a = f"j{rnd.randrange(10_000)}"
                    b = f"j{rnd.randrange(10_000)}"
                    return (
                        f"(SELECT {a}.i AS i, coalesce({a}.s, {b}.s) AS s "
                        f"FROM {l} {a} {jt} {rr} {b} ON {a}.i = {b}.i)"
                    )
                return f"(SELECT i + 1 AS i, s FROM {l} WHERE i IS NULL OR i > -50)"

            if rnd.random() < 0.3:
                # aggregate on top of the tree: grouping keys and agg
                # results must survive composed set-op/join NULL flows
                q = (f"SELECT s, count(*) AS n, sum(i) AS si, "
                     f"min(i) AS mi FROM {tree(2)} uq_q GROUP BY s")
            else:
                q = f"SELECT i, s FROM {tree(2)} uq_q"
            skey = lambda r: tuple((x is None, str(x)) for x in r)  # noqa: E731
            try:
                want = sorted((tuple(norm(x) for x in r)
                              for r in con.sql(q).fetchall()), key=skey)
            except Exception:
                continue
            try:
                got = sorted((tuple(norm(x) for x in r)
                             for r in spark.sql(rw.rewrite(q)).collect()), key=skey)
            except Exception as e:
                mismatch += 1
                fails.append((q[:120], None, "REJECT " + str(e).split("\n")[0][:80]))
                continue
            checked += 1
            if want != got:
                mismatch += 1
                fails.append((q[:160], want[:3], got[:3]))
        elif axis == "saggfz":
            # round-10 axis: string_agg(... ORDER BY) in the presence of
            # DISTINCT aggregates takes the comparator-sorted collect
            # fold instead of listagg (Spark 4.1 ListAgg ClassCast bug
            # dodge) — fuzz the fold's ordering surface: random key
            # sets, ASC/DESC, NULLS FIRST/LAST, grouped and global.
            tbl = g.values_table()
            keys = []
            for _ in range(rnd.randint(1, 2)):
                k = rnd.choice(["i", "d", "s", "i % 3", "coalesce(s, 'zz')"])
                dirn = rnd.choice(["", " ASC", " DESC"])
                nl = rnd.choice(["", " NULLS FIRST", " NULLS LAST"])
                keys.append(f"{k}{dirn}{nl}")
            # tie-break on the aggregated VALUE itself: ties among equal
            # keys are scan-order in DuckDB (unspecified under
            # parallelism in both engines), so the differential only
            # compares fully-determined orders — the fold's own value
            # tie-break makes the remaining equal-value ties invisible
            keys.append("s NULLS LAST")
            sep = rnd.choice(["'|'", "','", "'--'"])
            sagg = f"string_agg(s, {sep} ORDER BY {', '.join(keys)})"
            neighbors = rnd.sample(
                ["count(DISTINCT s)", "sum(DISTINCT i)",
                 "count(DISTINCT d)", "min(i)", "max(d)"],
                rnd.randint(2, 3),
            )
            gb = rnd.choice(["", " GROUP BY i % 2"])
            head = ("i % 2 AS grp, " if gb else "")
            q = (f"SELECT {head}{sagg} AS sa, "
                 + ", ".join(f"{n} AS n{j}" for j, n in enumerate(neighbors))
                 + f" FROM {tbl}{gb}")
            skey = lambda r: tuple((x is None, str(x)) for x in r)  # noqa: E731
            try:
                want = sorted((tuple(norm(x) for x in r)
                              for r in con.sql(q).fetchall()), key=skey)
            except Exception:
                continue
            try:
                got = sorted((tuple(norm(x) for x in r)
                             for r in spark.sql(rw.rewrite(q)).collect()), key=skey)
            except Exception as e:
                mismatch += 1
                fails.append((q[:160], None, "REJECT " + str(e).split("\n")[0][:80]))
                continue
            checked += 1
            if want != got:
                mismatch += 1
                fails.append((q[:160], want[:3], got[:3]))
        elif axis == "pivotfz":
            # round-9 axis: PIVOT/UNPIVOT statement forms over random
            # VALUES relations (the registry pins two fixed shapes; the
            # value-discovery probe and column naming need variety)
            tbl = g.values_table()
            if rnd.random() < 0.5:
                agg = rnd.choice(
                    ["sum(i)", "count(*)", "min(d)", "max(i)",
                     "round(avg(d), 6)"]
                )
                gb = rnd.choice([" GROUP BY grp", ""])
                inlist = rnd.choice(["", " IN ('a', 'b', 'n', 'zz')"])
                if rnd.random() < 0.4:
                    agg2 = rnd.choice(
                        ["count(*)", "max(d) AS mx", "sum(i) AS si2"]
                    )
                    agg = f"{agg} AS a1, {agg2}"
                    onsp = f"s{inlist}"
                elif rnd.random() < 0.4:
                    # round-9 general forms: multi-column cross product
                    # or expression ON (single aggregate)
                    onsp = rnd.choice(
                        ["s, grp", "s || 'Q'", "s, grp IN (0, 1, 5)"]
                    )
                else:
                    onsp = f"s{inlist}"
                s_expr = "coalesce(s, 'n')"
                if "," in onsp and "IN (" in onsp:
                    # DuckDB 1.0.0 oracle bug (round-10, NOTES 1): a
                    # multi-ON PIVOT where '' is a DISCOVERED value of
                    # one column and another column has an explicit IN
                    # list silently DROPS the ''-rows (single-ON + IN,
                    # IN-list-containing-'', and all-discovered forms
                    # fill them). Our translation keeps them — map ''
                    # out of this shape so the differential compares
                    # sane oracle output.
                    s_expr = "coalesce(nullif(s, ''), 'n')"
                q = (f"PIVOT (SELECT {s_expr} AS s, i % 2 AS grp, "
                     f"i, d FROM {tbl}) ON {onsp} USING {agg}{gb}")
            else:
                q = (f"UNPIVOT (SELECT i AS a, CAST(i * 2 AS BIGINT) AS b, "
                     f"d FROM {tbl}) "
                     f"ON a, b INTO NAME k VALUE v")
            try:
                rel = con.sql(q)
                wcols = sorted(d[0] for d in rel.description)
                worder = [d[0] for d in rel.description]
                skey = lambda r: tuple((x is None, str(x)) for x in r)  # noqa: E731
                want = sorted(
                    (tuple(norm(r[worder.index(c)]) for c in wcols)
                     for r in rel.fetchall()),
                    key=skey,
                )
            except Exception:
                continue
            try:
                df = spark.sql(rw.rewrite(q))
                gcols = sorted(df.columns)
                got = sorted(
                    (tuple(norm(r[c]) for c in gcols) for r in df.collect()),
                    key=skey,
                )
            except Exception as e:
                mismatch += 1
                fails.append((q[:120], None, "REJECT " + str(e).split("\n")[0][:80]))
                continue
            checked += 1
            if wcols != gcols or want != got:
                mismatch += 1
                fails.append((q[:160], (wcols, want[:2]), (gcols, got[:2])))
        elif axis == "macrofz":
            # Round 11: macros through the gateway vs DuckDB's native
            # CREATE MACRO — shadowed builtin names (macros win at bind
            # time), param names occurring inside body string literals,
            # bracket-literal call arguments, dialect idioms in bodies,
            # macro-calls-macro chains. Fresh DuckDB connection per
            # batch; gateway macros cleaned from rw._macros after.
            shadow = ["mod", "add", "divide", "xor", "fdiv", "fmod",
                      "even", "list_unique", "format", "sign", "hash",
                      "greatest"]
            n1 = (rnd.choice(shadow) if rnd.random() < 0.6
                  else f"uqm{rnd.randrange(100)}")
            n2 = f"uqn{rnd.randrange(100)}"
            p, q2 = rnd.sample(["a", "b", "s", "x"], 2)
            kind = rnd.randrange(5)
            if kind == 0:
                body1 = f"{p} * 100 + {q2}"
            elif kind == 1:
                body1 = f"({p} % nullif({q2}, 0)) + 1"
            elif kind == 2:
                # param names inside the literal must NOT substitute
                body1 = f"length(concat({p}, ' it''s {p} {q2} '))+{q2}"
            elif kind == 3:
                body1 = f"list_unique([{p}, {q2}, {p}])"
            else:
                body1 = (f"CASE WHEN {p} > {q2} THEN {p} - {q2} "
                         f"ELSE {q2} // nullif({p}, 0) END")
            body2 = f"{n1}({p} + 1, {q2}) * 2" if rnd.random() < 0.5 else f"{p} - {q2}"
            a1, a2 = rnd.choice(INTS), rnd.choice(INTS)
            calls = [f"{n1}({a1}, {a2})", f"{n2}({a2}, {a1})"]
            if rnd.random() < 0.4:
                calls.append(f"{n1}({n2}({a1}, 2), {a2})")
            sel = ", ".join(f"{c} AS c{i}" for i, c in enumerate(calls))
            bcon = duckdb.connect()
            try:
                bcon.execute(f"CREATE MACRO {n1}({p}, {q2}) AS {body1}")
                bcon.execute(f"CREATE MACRO {n2}({p}, {q2}) AS {body2}")
                want = bcon.sql(f"SELECT {sel}").fetchall()[0]
            except Exception:
                bcon.close()
                continue
            rw.add_scalar_macro(n1, [p, q2], body1)
            rw.add_scalar_macro(n2, [p, q2], body2)
            try:
                got = spark.sql(rw.rewrite(f"SELECT {sel}")).collect()[0]
            except Exception as e:
                mismatch += len(calls)
                fails.append((sel[:120], want, "REJECT " + str(e).split("\n")[0][:80]))
                continue
            finally:
                rw._macros.pop(n1.lower(), None)
                rw._macros.pop(n2.lower(), None)
                bcon.close()
            for c, w, gv in zip(calls, want, list(got)):
                checked += 1
                if norm(gv) != norm(w):
                    mismatch += 1
                    fails.append((c, w, gv))
        elif axis == "jsonfz":
            # Round 12: the JSON surface grew fast (from_json coercion,
            # [#-n] from-end paths, json-null extraction, ::JSON casts,
            # json_group_structure) — generate random documents and
            # random path/function compositions over them.
            def jval(depth):
                r = rnd.random()
                if depth <= 0 or r < 0.35:
                    return rnd.choice([
                        "1", "-3", "2.5", "true", "false", "null",
                        '"s"', '"x y"', '"5"', "9007199254740993",
                    ])
                if r < 0.7:
                    n = rnd.randint(0, 3)
                    return "[" + ",".join(jval(depth - 1) for _ in range(n)) + "]"
                keys = rnd.sample(["a", "b", "c", "d"], rnd.randint(1, 3))
                return ("{" + ",".join(
                    f'"{k}":{jval(depth - 1)}' for k in keys) + "}")

            def jpath():
                segs = []
                for _ in range(rnd.randint(1, 3)):
                    if rnd.random() < 0.5:
                        segs.append("." + rnd.choice(["a", "b", "c", "d"]))
                    elif rnd.random() < 0.6:
                        segs.append(f"[{rnd.randint(0, 3)}]")
                    else:
                        segs.append(f"[#-{rnd.randint(0, 3)}]")
                return "$" + "".join(segs)

            exprs = []
            for _ in range(10):
                doc = jval(3).replace("'", "''")
                kind = rnd.randrange(6)
                if kind == 0:
                    exprs.append(f"json_extract('{doc}', '{jpath()}')")
                elif kind == 1:
                    exprs.append(f"json_extract_string('{doc}', '{jpath()}')")
                elif kind == 2:
                    exprs.append(f"json_structure('{doc}')")
                elif kind == 3:
                    exprs.append(f"json_type('{doc}')")
                elif kind == 4:
                    exprs.append(f"json_array_length('{doc}')")
                else:
                    exprs.append(f"CAST(json_valid('{doc}') AS INTEGER)")
            # documented deviation: an extracted sub-OBJECT carries the
            # same data with Spark's variant key order (alphabetical)
            # vs DuckDB's insertion order — compare JSON text
            # structurally, everything else exactly
            import json as _json

            def _jnorm(v):
                if isinstance(v, str):
                    try:
                        parsed = _json.loads(v)
                    except Exception:
                        return v
                    if isinstance(parsed, (dict, list)):
                        return _json.dumps(parsed, sort_keys=True)
                return norm(v)

            keep, want = [], []
            for e in exprs:
                try:
                    want.append(con.sql(f"SELECT {e}").fetchall()[0][0])
                    keep.append(e)
                except Exception:
                    continue
            if keep:
                sel = ", ".join(f"{e} AS c{i}" for i, e in enumerate(keep))
                try:
                    row = list(spark.sql(rw.rewrite(f"SELECT {sel}")).collect()[0])
                except Exception as exc:
                    mismatch += len(keep)
                    fails.append((sel[:120], None,
                                  "REJECT " + str(exc).split("\n")[0][:90]))
                    continue
                for e, w, gv in zip(keep, want, row):
                    checked += 1
                    if _jnorm(gv) != _jnorm(w):
                        mismatch += 1
                        fails.append((e, w, gv))
        elif axis == "psfz":
            # Round 12: PREPARE/EXECUTE wrappers around the expr axis —
            # parameter substitution touches literal parsing, exactly
            # the bug class macrofz caught twice in round 11. $n
            # repeats/reorders, ? positional, '$1'/'?' INSIDE string
            # literals staying text, params composed with generated
            # expressions, redefinition. DuckDB runs the identical
            # PREPARE/EXECUTE natively as the oracle.
            name = f"uqp{rnd.randrange(1000)}"
            base = g.iexpr(rnd.randint(1, 2))
            a1, a2 = rnd.choice(INTS), rnd.choice(INTS)
            style = rnd.randrange(4)
            if style == 0:  # $n repeat + reorder + compose
                body = (f"SELECT ($1 + $2) AS c0, ($2 * 10 + $1) AS c1, "
                        f"({base}) + $1 AS c2")
            elif style == 1:  # ? positional
                body = f"SELECT (? + 1) AS c0, (? * 2) AS c1, ({base}) AS c2"
            elif style == 2:  # param markers inside literals stay text
                body = (f"SELECT concat('it''s $1 or ? x', "
                        f"CAST($1 AS VARCHAR)) AS c0, "
                        f"CASE WHEN $2 > $1 THEN '$2 gt' ELSE 'le ?' END AS c1")
            else:  # redefinition: second PREPARE wins
                body = f"SELECT ($1 - $2) AS c0, ({base}) AS c1"
            argtxt = f"{a1}, {a2}"
            bcon = duckdb.connect()
            try:
                if style == 3:
                    bcon.execute(f"PREPARE {name} AS SELECT $1 AS c0, $2 AS c1")
                bcon.execute(f"PREPARE {name} AS {body}")
                want = bcon.sql(f"EXECUTE {name}({argtxt})").fetchall()[0]
            except Exception:
                bcon.close()
                continue
            try:
                if style == 3:
                    rw.rewrite(f"PREPARE {name} AS SELECT $1 AS c0, $2 AS c1")
                rw.rewrite(f"PREPARE {name} AS {body}")
                got = spark.sql(
                    rw.rewrite(f"EXECUTE {name}({argtxt})")
                ).collect()[0]
            except Exception as e:
                mismatch += 1
                fails.append((body[:120], want,
                              "REJECT " + str(e).split("\n")[0][:80]))
                continue
            finally:
                getattr(rw, "_prepared", {}).pop(name, None)
                bcon.close()
            for i, (w, gv) in enumerate(zip(want, list(got))):
                checked += 1
                if norm(gv) != norm(w):
                    mismatch += 1
                    fails.append((f"{name} c{i}: {body[:90]}", w, gv))
        elif axis == "rel":
            a, b = g.values_table("a"), g.values_table("b")
            kind = rnd.randrange(4)
            if kind == 0:
                jt = rnd.choice(["JOIN", "LEFT JOIN", "FULL JOIN",
                                 "SEMI JOIN", "ANTI JOIN"])
                cols = ("a.i, a.s" if "SEMI" in jt or "ANTI" in jt
                        else "a.i, a.s, b.i, b.s")
                q = f"SELECT {cols} FROM {a} {jt} {b} ON a.i = b.i"
            elif kind == 1:
                op = rnd.choice(["UNION", "UNION ALL", "INTERSECT",
                                 "EXCEPT", "INTERSECT ALL", "EXCEPT ALL"])
                q = f"SELECT i, s FROM {a} {op} SELECT i, s FROM {b}"
            elif kind == 2:
                q = (f"SELECT i, count(*) AS n, min(s) AS mv FROM {a} "
                     f"GROUP BY i HAVING count(*) >= 1")
            else:
                q = (f"SELECT i, s FROM {a} WHERE i IN "
                     f"(SELECT i FROM {b} WHERE i IS NOT NULL)")
            skey = lambda r: tuple((x is None, x) for x in r)  # noqa: E731
            try:
                want = sorted((tuple(norm(x) for x in r)
                              for r in con.sql(q).fetchall()), key=skey)
            except Exception:
                continue
            try:
                got = sorted((tuple(norm(x) for x in r)
                             for r in spark.sql(rw.rewrite(q)).collect()), key=skey)
            except Exception as e:
                mismatch += 1
                fails.append((q[:90], None, "REJECT " + str(e).split("\n")[0][:80]))
                continue
            checked += 1
            if want != got:
                mismatch += 1
                fails.append((q[:120], want[:3], got[:3]))
    return checked, mismatch, fails


def main():
    axis = sys.argv[1] if len(sys.argv) > 1 else "all"
    batches = int(sys.argv[2]) if len(sys.argv) > 2 else 30
    seed = int(sys.argv[3]) if len(sys.argv) > 3 else 42
    # the engine's session recipe: with Spark's default 1g driver heap
    # the `div` axis stalls in Catalyst for many minutes
    os.environ.setdefault("UQ_DRIVER_MEMORY", "4g")
    spark = get_spark("dialect-fuzz", cpus=4)
    rw = SqlRewriter(spark)
    con = duckdb.connect()
    axes = ALL_AXES if axis == "all" else [axis]
    total_mm = 0
    for ax in axes:
        checked, mm, fails = run_axis(ax, batches, random.Random(seed), spark, rw, con)
        total_mm += mm
        print(f"{ax}: checked={checked} mismatch={mm}")
        for f in fails[:5]:
            print("  FAIL:", str(f)[:220])
    sys.exit(1 if total_mm else 0)


if __name__ == "__main__":
    main()
