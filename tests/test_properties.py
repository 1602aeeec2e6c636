"""Property-based tests (hypothesis) — beyond the reference's test
strategy (SURVEY §5 notes it has none): randomized inputs checking
algebraic invariants of the custom operators and rewrites.

Spark-session properties use few, larger examples (each example pays JVM
round-trip latency); pure-Python properties (rewriter) run the default
profile.
"""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from uquery_rs_spark.rewrite import SqlRewriter

# ---------------------------------------------------------------------------
# Pure-Python: rewriter invariants
# ---------------------------------------------------------------------------

ident = st.from_regex(r"[a-z][a-z0-9_]{0,10}", fullmatch=True)


@given(st.text(alphabet=st.characters(blacklist_characters="'\\"), max_size=80))
def test_rewrite_plain_select_literal_is_identity(s):
    """A SELECT of a quoted literal (no FROM/paths/macros) is untouched."""
    rw = SqlRewriter.__new__(SqlRewriter)  # no Spark needed for this path
    rw.allowed_dirs, rw.allow_remote, rw._views = [], True, {}
    rw._macros, rw._table_macros = {}, set()
    sql = f"SELECT '{s}' AS v"
    assert rw.rewrite(sql) == sql


@given(ident, st.lists(ident, min_size=1, max_size=3, unique=True))
@example(
    name='mod',
    params=['a'],
).via('discovered failure')
def test_macro_expansion_substitutes_every_param(name, params):
    rw = SqlRewriter.__new__(SqlRewriter)
    rw.allowed_dirs, rw.allow_remote, rw._views = [], True, {}
    rw._macros, rw._table_macros = {}, set()
    body = " + ".join(params)
    rw.add_scalar_macro(name, list(params), body)
    args = [str(i) for i in range(len(params))]
    out = rw.rewrite(f"SELECT {name}({', '.join(args)}) AS v")
    for p, a in zip(params, args):
        assert f"({a})" in out
    assert name + "(" not in out


# ---------------------------------------------------------------------------
# Spark-backed: operator invariants (few examples, deterministic data)
# ---------------------------------------------------------------------------

spark_settings = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

rows = st.lists(
    st.tuples(st.integers(0, 50), st.integers(0, 5)), min_size=1, max_size=30
)


@spark_settings
@given(left=rows, right=rows)
def test_salted_join_equals_plain_join(spark, left, right):
    from uquery_rs_spark.operators.skew import salted_join

    ldf = spark.createDataFrame([(k, v) for k, v in left], "k int, lv int")
    rdf = spark.createDataFrame([(k, v) for k, v in right], "k int, rv int")
    plain = sorted(map(tuple, ldf.join(rdf, "k").collect()))
    salted = sorted(map(tuple, salted_join(ldf, rdf, "k", salt=4).collect()))
    assert salted == plain


@spark_settings
@given(
    texts=st.lists(
        st.text(alphabet="ab c", min_size=0, max_size=40), min_size=1, max_size=12
    )
)
def test_lsh_pairs_subset_of_exact_pairs(spark, texts):
    """Every LSH-verified pair IS an exact-threshold pair (verification is
    exact, so no false positives regardless of banding)."""
    from uquery_rs_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    exact = {(r.x, r.y) for r in D.jaccard_pairs_exact(docs, 0.5).collect()}
    lsh = {(r.x, r.y) for r in D.minhash_lsh_pairs(docs, 0.5).collect()}
    assert lsh <= exact


@spark_settings
@given(
    vals=st.lists(
        st.tuples(st.integers(0, 3), st.integers(-100, 100)),
        min_size=1,
        max_size=25,
    )
)
def test_qualify_rewrite_equals_window_filter(spark, vals):
    from uquery_rs_spark.rewrite import SqlRewriter as RW

    df = spark.createDataFrame(vals, "g int, x int")
    df.createOrReplaceTempView("uq_prop_t")
    rw = RW(spark)
    sql = rw.rewrite(
        "SELECT g, x FROM uq_prop_t "
        "QUALIFY row_number() OVER (PARTITION BY g ORDER BY x, g) = 1"
    )
    got = sorted((r.g, r.x) for r in spark.sql(sql).collect())
    expected = sorted(
        (r.g, r.x)
        for r in spark.sql(
            "SELECT g, x FROM (SELECT g, x, row_number() OVER "
            "(PARTITION BY g ORDER BY x, g) AS rn FROM uq_prop_t) WHERE rn = 1"
        ).collect()
    )
    assert got == expected


@spark_settings
@given(
    a=st.text(alphabet="abcdefgh ", min_size=0, max_size=60),
    b=st.text(alphabet="abcdefgh ", min_size=0, max_size=60),
    shared=st.text(alphabet="qrstuvwx", min_size=40, max_size=50),
)
def test_winnowing_guarantee_shared_substring(spark, a, b, shared):
    """The winnowing guarantee (Schleimer et al. §2): two documents
    sharing a substring of length >= window + k - 1 (= 40 at defaults)
    must share at least one selected fingerprint. The shared block uses
    a disjoint alphabet so the guarantee is exercised, not luck."""
    from uquery_rs_spark.operators.dedup import winnowing_fingerprints
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, a + shared + a), (2, b + shared + b)], "doc_id long, text string"
    )
    fps = {
        r.doc_id: set(r.f)
        for r in docs.select(
            "doc_id", winnowing_fingerprints(F.col("text")).alias("f")
        ).collect()
    }
    assert fps[1] & fps[2]


@spark_settings
@given(lens=st.lists(st.integers(1, 300), min_size=1, max_size=25))
def test_pack_sequences_accounting(spark, lens):
    """Conservation laws of concat-and-chop packing, on the served
    ``corpus_pack_sequences`` text (256-token windows): every doc is
    FIRST counted in exactly one window (sum of non-boundary
    memberships = n_docs), windows are contiguous from 0, and total
    window-memberships equal the sum of per-doc window spans."""
    from uquery_rs_spark import queries as Q

    from .conftest import served

    Q.load_all()
    budget = 256
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in enumerate(lens)],
        "doc_id long, text string",
    )
    out = served(spark, Q.REGISTRY["corpus_pack_sequences"].oracle, documents=docs)
    assert sum(r.n_docs - r.n_boundary for r in out) == len(lens)
    wids = sorted(r.window_id for r in out)
    total_tokens = sum(lens)
    assert wids == list(range((total_tokens + budget - 1) // budget))
    start, spans = 0, 0
    for n in lens:
        spans += (start + n - 1) // budget - start // budget + 1
        start += n
    assert sum(r.n_docs for r in out) == spans


@spark_settings
@given(
    lens=st.lists(st.integers(1, 40), min_size=1, max_size=25),
    budget=st.sampled_from([8, 16, 32]),
)
def test_pack_sequences_emit_reconstructs_stream(spark, lens, budget):
    """The materialized packer's ground truth: concatenating every
    window's tokens in window order reproduces EXACTLY the token stream
    of all docs concatenated in key order; every window but the last is
    exactly `budget` tokens; per-window doc counts match the windows
    each doc's token span covers. Distinct per-doc tokens make any
    fragment mis-ordering or off-by-one slice visible."""
    from uquery_rs_spark.operators.corpus import pack_sequences_emit

    docs = spark.createDataFrame(
        [(i, " ".join(f"d{i}t{j}" for j in range(n))) for i, n in enumerate(lens)],
        "doc_id long, text string",
    )
    out = sorted(
        pack_sequences_emit(docs, context_tokens=budget).collect(),
        key=lambda r: r.window_id,
    )
    stream = [f"d{i}t{j}" for i, n in enumerate(lens) for j in range(n)]
    got = [t for r in out for t in r.tokens]
    assert got == stream
    assert all(r.n_tokens == len(r.tokens) for r in out)
    assert all(r.n_tokens == budget for r in out[:-1])
    spanned, start = {}, 0
    for n in lens:
        for w in range(start // budget, (start + n - 1) // budget + 1):
            spanned[w] = spanned.get(w, 0) + 1
        start += n
    assert {r.window_id: r.n_docs for r in out} == spanned


@spark_settings
@given(
    lens=st.lists(st.integers(1, 40), min_size=1, max_size=20),
    budget=st.sampled_from([8, 32]),
)
def test_pack_sequences_key_sparsity_invariance(spark, lens, budget):
    """Packing must depend only on key ORDER, not key density: hashed /
    widely-shifted doc ids (sparse keys) yield the same windows as dense
    0..n ids — and the range-width bucketing keeps the driver-side
    per-bucket collect bounded instead of O(n_docs) (the `key div
    bucket_docs` regression this test pins). Per-doc tokens name the doc
    by position, so a window's tokens show which docs it holds."""
    from uquery_rs_spark.operators.corpus import pack_sequences_emit

    def run(key_of):
        docs = spark.createDataFrame(
            [(key_of(i), " ".join([f"d{i}"] * n)) for i, n in enumerate(lens)],
            "doc_id long, text string",
        )
        return {
            r.window_id: (r.n_docs, r.n_tokens, list(r.tokens))
            for r in pack_sequences_emit(docs, context_tokens=budget).collect()
        }

    sparse = lambda i: i * 1_000_003_571 + 12_345  # monotone, ~1e9-spaced
    # full signed-64 span: (_k - mn) would overflow long under ANSI —
    # the bucketing must not subtract (review catch)
    extreme = lambda i: (i - len(lens) // 2) * ((1 << 62) // max(len(lens), 1))
    dense_out = run(lambda i: i)
    for key_of in (sparse, extreme):
        assert run(key_of) == dense_out


@spark_settings
@given(
    left=st.lists(st.integers(0, 100), min_size=1, max_size=15, unique=True),
    right=st.lists(st.integers(0, 100), min_size=1, max_size=15, unique=True),
    direction=st.sampled_from(["backward", "forward", "nearest"]),
)
def test_asof_matches_pandas_merge_asof(spark, left, right, direction):
    """Differential: all three as-of directions equal pandas.merge_asof
    on random single-key data (the de-facto reference semantics,
    including tie-to-backward for nearest)."""
    import pandas as pd
    from uquery_rs_spark.operators import asof_join

    ldf = spark.createDataFrame([(t,) for t in left], "t int")
    rdf = spark.createDataFrame([(t, float(t)) for t in right], "t int, v double")
    got = {
        r.t: r.v
        for r in asof_join(ldf, rdf, on="t", direction=direction).collect()
    }
    exp_df = pd.merge_asof(
        pd.DataFrame({"t": sorted(left)}),
        pd.DataFrame({"t": sorted(right), "v": [float(t) for t in sorted(right)]}),
        on="t",
        direction=direction,
    )
    exp = {int(r.t): (None if pd.isna(r.v) else r.v) for r in exp_df.itertuples()}
    assert got == exp


# ---------------------------------------------------------------------------
# Differential fuzz: random dialect expressions, DuckDB as the oracle
# (round 6 — the sweep's methodology as a generator: any expression
# DuckDB accepts must evaluate to the SAME value through the gateway)
# ---------------------------------------------------------------------------

_SAFE_STRS = ["'abc'", "'Héllo'", "'a,b,c'", "''", "'x y'", "'éx'"]
_INTS = ["0", "1", "2", "3", "7", "-3", "12"]


def _int_expr(draw, depth):
    if depth <= 0:
        return draw(st.sampled_from(_INTS))
    kind = draw(st.integers(0, 9))
    a = _int_expr(draw, depth - 1)
    b = _int_expr(draw, depth - 1)
    s = _str_expr(draw, depth - 1)
    if kind == 0:
        return f"({a} + {b})"
    if kind == 1:
        return f"({a} - {b})"
    if kind == 2:
        return f"({a} * {b})"
    if kind == 3:
        return f"abs({a})"
    if kind == 4:
        return f"greatest({a}, {b})"
    if kind == 5:
        return f"least({a}, {b})"
    if kind == 6:
        return f"length({s})"
    if kind == 7:
        return f"list_sum([{a}, {b}])"
    if kind == 8:
        return f"ascii({s})"
    return f"len({s})"


def _str_expr(draw, depth):
    if depth <= 0:
        return draw(st.sampled_from(_SAFE_STRS))
    kind = draw(st.integers(0, 9))
    a = _str_expr(draw, depth - 1)
    i = _int_expr(draw, 0)
    if kind == 0:
        return f"upper({a})"
    if kind == 1:
        return f"lower({a})"
    if kind == 2:
        return f"trim({a})"
    if kind == 3:
        return f"reverse({a})"
    if kind == 4:
        return f"substr({a}, {i}, 2)"
    if kind == 5:
        return f"left({a}, {i})"
    if kind == 6:
        return f"right({a}, {i})"
    if kind == 7:
        return f"split_part({a}, ',', 1)"
    if kind == 8:
        return f"concat({a}, {a})"
    return f"repeat({a}, 2)"


@st.composite
def _expr_batch(draw):
    out = []
    for _ in range(12):
        depth = draw(st.integers(1, 3))
        if draw(st.booleans()):
            out.append(_int_expr(draw, depth))
        else:
            out.append(_str_expr(draw, depth))
    return out


def _norm(v):
    import decimal

    if isinstance(v, decimal.Decimal):
        return int(v) if v == int(v) else float(v)
    return v


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(_expr_batch())
def test_differential_expression_fuzz(spark, exprs):
    """Any randomly generated expression DuckDB evaluates successfully
    must produce the SAME value through the gateway (the dialect
    sweep's contract, property-tested). DuckDB-side errors skip the
    expression (overflow, factorial range, …)."""
    import duckdb

    rw = SqlRewriter(spark)
    con = duckdb.connect()
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
        row = spark.sql(rw.rewrite(f"SELECT {sel}")).collect()[0]
    except Exception:
        # identify the offender one by one for a useful failure message
        for e, w in zip(keep, want):
            try:
                got = spark.sql(rw.rewrite(f"SELECT {e} AS v")).collect()[0][0]
            except Exception as exc:
                raise AssertionError(
                    f"gateway rejects DuckDB-valid expression {e!r}: {exc}"
                ) from exc
            assert _norm(got) == _norm(w), f"{e}: {got!r} != {w!r}"
        raise
    for e, w, got in zip(keep, want, row):
        assert _norm(got) == _norm(w), f"{e}: {got!r} != {w!r}"


@spark_settings
@given(
    a=st.lists(st.integers(-50, 50), min_size=0, max_size=8),
    b=st.lists(st.integers(-50, 50), min_size=0, max_size=8),
)
def test_list_zip_matches_python_zip_pad(spark, a, b):
    """Round-12 list_zip translation == NULL-padded python zip, with
    the truncate flag == plain zip (DuckDB-probed semantics)."""
    rw = SqlRewriter(spark)
    la = "[" + ",".join(map(str, a)) + "]"
    lb = "[" + ",".join(map(str, b)) + "]"
    row = spark.sql(rw.rewrite(
        f"SELECT list_zip({la}, {lb}) AS p, list_zip({la}, {lb}, true) AS t"
    )).collect()[0]
    n = max(len(a), len(b))
    pad = [(a[i] if i < len(a) else None, b[i] if i < len(b) else None)
           for i in range(n)]
    assert [tuple(r) for r in row.p] == pad
    assert [tuple(r) for r in row.t] == list(zip(a, b))


@spark_settings
@given(
    m1=st.dictionaries(st.sampled_from("abcd"), st.integers(0, 9), max_size=4),
    m2=st.dictionaries(st.sampled_from("abcd"), st.integers(0, 9), max_size=4),
)
def test_map_concat_last_wins(spark, m1, m2):
    """Round-12 map_concat translation == python {**m1, **m2}."""
    rw = SqlRewriter(spark)

    def lit(m):
        if not m:
            return "MAP {'zz': -1}"  # empty map literals need a type; pad
        return "MAP {" + ", ".join(f"'{k}': {v}" for k, v in m.items()) + "}"

    m1 = m1 or {"zz": -1}
    m2 = m2 or {"zz": -1}
    got = spark.sql(rw.rewrite(
        f"SELECT map_concat({lit(m1)}, {lit(m2)}) AS v"
    )).collect()[0].v
    assert got == {**m1, **m2}


@spark_settings
@given(
    vals=st.lists(st.integers(-100, 100), min_size=1, max_size=20),
    n=st.integers(1, 5),
)
def test_topn_minmax_matches_sorted(spark, vals, n):
    """Round-12 max(x, n)/min(x, n) == sorted slices."""
    rw = SqlRewriter(spark)
    rows = ", ".join(f"({v})" for v in vals)
    got = spark.sql(rw.rewrite(
        f"SELECT max(x, {n}) AS mx, min(x, {n}) AS mn "
        f"FROM (VALUES {rows}) t(x)"
    )).collect()[0]
    assert got.mx == sorted(vals, reverse=True)[:n]
    assert got.mn == sorted(vals)[:n]
