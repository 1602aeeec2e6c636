"""Deduplication operators for large-scale text corpora.

Beyond-reference surface (driver north star, BASELINE.json): exact dedup,
exact-by-hash, n-gram Jaccard all-pairs, MinHash+LSH near-dedup, SimHash.
All JVM-side (built-in functions + higher-order lambdas) — no Python in
the hot path.

Scale design:
- exact: group on sha256(text) — 32-byte shuffle keys instead of full
  documents; at 100 TB the shuffle moves hashes, not bodies.
- n-gram Jaccard (exact): shingle-inverted-index self-join. Exact but
  O(Σ df(shingle)²) — the scale path is MinHash-LSH below; kept as the
  correctness oracle and for small/medium corpora.
- MinHash-LSH: per-doc signatures computed as array expressions (no
  shingle-row explosion), banded into (band, key) buckets; only bucket
  collisions generate candidate pairs, then exact Jaccard verifies.
  Cost O(n·perms + candidates), shuffles bounded by bucket sizes.
- SimHash: 64-bit fingerprints; banding on 16-bit chunks for candidate
  generation (hamming ≤ 3 ⇒ at least one of 4 chunks equal), verify via
  bit_count(xor).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.expr import bind, cached_expr, spread as _spread

# Affine minwise-hash permutations (Broder) over the Mersenne prime 2^31-1.
# All arithmetic stays < 2^62, so it is exact int64 — safe under Spark 4's
# default ANSI mode (which rejects silent overflow) and oracle-replicable.
_MINHASH_P = 2_147_483_647
_MINHASH_A = 2_654_435_761  # Knuth multiplicative constant
_MINHASH_B = 40_503


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a whitespace-tokenized text.

    Texts shorter than n tokens yield an empty array — guarded explicitly
    because F.sequence(1, 0) produces a DESCENDING [1, 0] (not empty),
    which would index out of bounds under ANSI mode.

    The token split is bound once per row (see functions.expr.bind) — the
    gram builder reads it 3n times per shingle, which would otherwise
    re-tokenize at every reference.
    """

    def build(toks: Column) -> Column:
        idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
        gram = lambda i: F.concat_ws("_", *[F.element_at(toks, i + k) for k in range(n)])  # noqa: E731
        return F.when(
            F.size(toks) >= n, F.array_distinct(F.transform(idx, gram))
        ).otherwise(F.array().cast("array<string>"))

    return bind(F.split(text, " "), build)


def _shingles_cached(text_col: str, n: int) -> Column:
    """Process-wide memo of the word_shingles expression tree for a named
    column (functions.expr.cached_expr): the tree depends only on
    (column name, n) and costs ~50 ms of py4j traffic to build."""
    return cached_expr(
        ("word_shingles", text_col, n), lambda: word_shingles(F.col(text_col), n)
    )


def winnowing_fingerprints(text: Column, k: int = 25, window: int = 16) -> Column:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken 2003 —
    the MOSS local fingerprinting scheme, used for substring-level code
    dedup in large-scale corpus curation): hash every character k-gram,
    slide a w-window over the hash sequence, keep each window's minimum,
    return the DISTINCT selected hashes.

    Guarantee: any shared substring of length >= w + k - 1 (40 chars at
    the defaults) contributes at least one IDENTICAL fingerprint to both
    documents, while the index stores only ~2/(w+1) of all k-gram
    hashes — what makes substring-level dedup feasible at corpus scale.
    MOSS-style k (25) matters: short k-grams (5 chars) degenerate on
    natural text — measured 124k of 125k possible pairs flagged at k=5
    on the sf0.01 corpus vs exactly the 25 planted near-dup pairs at
    k=25.

    The k-gram hash is the first 8 hex chars of md5 — identical in Spark
    and DuckDB, so fingerprint sets are oracle-checkable. Pure
    higher-order array expressions: no row explosion, no UDF.
    """
    n_g = F.length(text) - (k - 1)
    gram_hash = lambda i: F.conv(  # noqa: E731
        F.substring(F.md5(text.substr(i, F.lit(k))), 1, 8), 16, 10
    ).cast("long")
    hs = F.transform(F.sequence(F.lit(1), n_g), gram_hash)
    mins = lambda h: F.transform(  # noqa: E731
        F.sequence(F.lit(1), F.size(h) - (window - 1)),
        lambda j: F.array_min(F.slice(h, j, window)),
    )
    return F.when(
        n_g >= window,
        bind(hs, lambda h: F.array_distinct(mins(h))),
    ).otherwise(F.array().cast("array<long>"))


def winnowing_pairs(
    docs: DataFrame,
    min_shared: int = 3,
    k: int = 25,
    window: int = 16,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """Substring-level near-dup pairs from shared winnowing fingerprints:
    docs sharing >= min_shared selected hashes. Same inverted-index shape
    as jaccard_pairs_exact but over the winnowed (≈2/(w+1)-sized) index.
    Columns: x, y, n_shared, nx, ny.
    """
    sh = _spread(docs).select(
        F.col(key_col).alias("id"),
        cached_expr(
            ("winnowing_fingerprints", text_col, k, window),
            lambda: winnowing_fingerprints(F.col(text_col), k, window),
        ).alias("s"),
    )
    # explode_outer + null filter: see _shingle_intersections — a plain
    # explode's inferred `size(s) > 0` filter would run the whole
    # winnowing expression below the spread() exchange, serially.
    post = sh.select(
        F.struct("id", F.size("s").alias("nsh")).alias("m"),
        F.explode_outer("s").alias("g"),
    ).filter(F.col("g").isNotNull())
    pairs_in = _pairs_in_bucket(F.col("ms"), memo_name="ms")
    return (
        post.groupBy("g")
        .agg(F.sort_array(F.collect_list("m")).alias("ms"))
        .filter(F.size("ms") > 1)
        .select(F.explode(pairs_in).alias("p"))
        .groupBy(
            F.col("p.x.id").alias("x"),
            F.col("p.y.id").alias("y"),
            F.col("p.x.nsh").alias("nx"),
            F.col("p.y.nsh").alias("ny"),
        )
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .select("x", "y", "n_shared", "nx", "ny")
    )


def _pairs_in_bucket(ids: Column, memo_name: str | None = None) -> Column:
    """All (x, y) pairs with x < y from an ascending-sorted id array.
    ``memo_name``: pass the column NAME to reuse the expression tree
    process-wide (functions.expr.cached_expr, ~29 ms of py4j per build)."""
    if memo_name is not None:
        return cached_expr(
            ("pairs_in_bucket", memo_name),
            lambda: _pairs_in_bucket(F.col(memo_name)),
        )
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("x"), y.alias("y")),
            ),
        )
    )


def _bucket_pairs(buckets: DataFrame, *key_cols: str) -> DataFrame:
    """Distinct co-bucketed id pairs via groupBy + in-bucket pair expansion.

    Equivalent to a self-equi-join on the bucket key with id < id, but the
    bucket-key projection runs ONCE (a self-join recomputes it for both
    sides) and the only shuffle is the groupBy on the bucket key. Bucket
    membership lists stay small by LSH construction; exact-duplicate
    clusters are the exception — dedupe those first (sha256 grouping) at scale.
    """
    return (
        buckets.groupBy(*key_cols)
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") > 1)
        .select(F.explode(_pairs_in_bucket(F.col("ids"), memo_name="ids")).alias("p"))
        .select(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
        .distinct()
    )


def normalize_text(text: Column) -> Column:
    """Canonical text form for normalization-aware dedup: lowercase,
    strip everything but [a-z0-9] and spaces, collapse whitespace runs,
    trim. Pure codegen expressions, SQL-replicable bit-for-bit
    (DuckDB: lower + regexp_replace 'g' + trim)."""
    cleaned = F.regexp_replace(F.lower(text), "[^a-z0-9 ]", "")
    return F.trim(F.regexp_replace(cleaned, " +", " "))


def _shingle_intersections(docs: DataFrame, n: int, text_col: str, key_col: str) -> DataFrame:
    """Inverted-index pair intersections: x, y (x<y), nx, ny, inter.

    Explode postings (set size riding alongside the id), group by
    shingle, expand in-posting pairs, count shared postings per pair =
    |intersection|. The shingle projection runs ONCE and there are no
    size-lookup joins (a size join would recompute it; a shingle
    self-join would recompute it twice).
    """
    sh = _spread(docs).select(
        F.col(key_col).alias("id"), _shingles_cached(text_col, n).alias("s")
    )
    # explode_outer (not explode) + post-generate null filter: a plain
    # explode makes Catalyst infer `size(s) > 0 AND isnotnull(s)` and push
    # it below the spread() exchange, where `s` inlines to the FULL shingle
    # expression — the whole tokenize+shingle pass then runs serially on
    # the unsplit scan before the repartition that was meant to
    # parallelize it (measured: the single pre-exchange filter task
    # dominated the stage). The outer generate infers nothing; empty-set
    # docs surface as one null-g row each and die in the cheap column
    # filter.
    post = sh.select(
        F.struct("id", F.size("s").alias("nsh")).alias("m"),
        F.explode_outer("s").alias("g"),
    ).filter(F.col("g").isNotNull())
    pairs_in = _pairs_in_bucket(F.col("ms"), memo_name="ms")
    return (
        post.groupBy("g")
        .agg(F.sort_array(F.collect_list("m")).alias("ms"))
        .filter(F.size("ms") > 1)
        .select(F.explode(pairs_in).alias("p"))
        .groupBy(
            F.col("p.x.id").alias("x"),
            F.col("p.y.id").alias("y"),
            F.col("p.x.nsh").alias("nx"),
            F.col("p.y.nsh").alias("ny"),
        )
        .agg(F.count("*").alias("inter"))
    )


def jaccard_pairs_exact(
    docs: DataFrame,
    threshold: float,
    n: int = 3,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """All pairs with n-gram-shingle Jaccard >= threshold (exact), via the
    single-projection inverted index (_shingle_intersections). Columns:
    x, y (x<y), inter, nx, ny, jaccard."""
    inter = _shingle_intersections(docs, n, text_col, key_col)
    return (
        inter.withColumn(
            "jaccard", F.col("inter") / (F.col("nx") + F.col("ny") - F.col("inter"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("x", "y", "inter", "nx", "ny", F.round("jaccard", 4).alias("jaccard"))
    )


def dedup_funnel(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """Staged dedup pipeline report: how many documents each dedup tier
    removes — the funnel a production pipeline logs per corpus build.
    Rows (stage, n_in, n_removed, n_out): raw → exact (sha256) →
    normalized (case/punct/ws-collapsed sha) → near-dup (shingle
    Jaccard >= threshold clusters collapsed to their canonical member).

    Stages compose: tier k runs on tier k-1's survivors. Exact and
    normalized survivor counts are countDistinct over digests (one agg,
    32-byte shuffle keys); near-dup runs the MinHash-LSH production
    kernel (cost-dispatched pipelined/staged; recall 1.0 vs the exact
    kernel at these parameters, asserted in tests) on the NORMALIZED
    canonicals only (already deduped — the exact-cluster explosion that
    breaks bucket joins is gone by construction) and counts
    non-canonical members of the connected components. Output is 4 rows
    assembled from two 1-row aggregate frames — nothing corpus-sized
    leaves the executors. Measured scaling (1x vs 8x sf0.1 docs, see
    NOTES.md): e = 0.70 with the LSH tier (29 s at 8x) — the
    exact-kernel variant measured e = 1.26 (104 s at 8x), which is why
    the funnel ships on LSH despite its higher 1x constant.
    """
    raw = docs.select(F.col(key_col), F.col(text_col))
    nrm = normalize_text(F.col(text_col))
    canon = raw.groupBy(nrm.alias("nrm")).agg(
        F.min(key_col).alias(key_col),
        F.min_by(text_col, key_col).alias(text_col),
    )
    pairs = minhash_lsh_auto(
        canon, threshold=threshold, n=n, text_col=text_col, key_col=key_col
    )
    clusters = dup_clusters(pairs)
    counts = raw.agg(
        F.count("*").alias("n_raw"),
        F.countDistinct(F.sha2(F.col(text_col), 256)).alias("n_exact"),
        F.countDistinct(nrm).alias("n_norm"),
    )
    near = clusters.agg(
        F.coalesce(
            F.sum((F.col("canonical") != F.col("id")).cast("long")), F.lit(0).cast("long")
        ).alias("n_near_removed")
    )
    j = counts.crossJoin(F.broadcast(near))

    def stage(name: str, n_in: Column, removed: Column) -> Column:
        return F.struct(
            F.lit(name).alias("stage"),
            n_in.cast("long").alias("n_in"),
            removed.cast("long").alias("n_removed"),
            (n_in - removed).cast("long").alias("n_out"),
        )

    stages = F.array(
        stage("1_raw", F.col("n_raw"), F.lit(0)),
        stage("2_exact", F.col("n_raw"), F.col("n_raw") - F.col("n_exact")),
        stage("3_normalized", F.col("n_exact"), F.col("n_exact") - F.col("n_norm")),
        stage("4_near_dup", F.col("n_norm"), F.col("n_near_removed")),
    )
    return j.select(F.explode(stages).alias("s")).select(
        "s.stage", "s.n_in", "s.n_removed", "s.n_out"
    )


def _affine_min(base: Column, j: Column, p: Column) -> Column:
    """min over `base` of the j-th affine permutation (a_j*h + b_j) mod p.

    a_j and b_j depend only on j, so they are bound ONCE per permutation
    (functions.expr.bind) instead of being re-derived inside the
    per-element lambda — the interpreter otherwise evaluates the two
    pmod/multiply subtrees |shingles| times per permutation (~9 node
    evals per element instead of 3). Same affine map, same operand
    order: keys are bit-identical. a_j, b_j < p and base < p ⇒ products
    < 2^62: exact int64, safe under ANSI mode.
    """
    return bind(
        F.pmod(F.lit(_MINHASH_A) * (j.cast("long") + 1), p),
        lambda aj: bind(
            F.pmod(F.lit(_MINHASH_B) * (j.cast("long") + 7), p),
            lambda bj: F.array_min(
                F.transform(base, lambda h: F.pmod(aj * h + bj, p))
            ),
        ),
    )


def minhash_band_keys(shingles: Column, bands: int, rows_per_band: int) -> Column:
    """Array of `bands` LSH bucket keys, one projection, each perm hashed once.

    Equivalent to hashing rows_per_band-sized slices of the full minhash
    signature (one min per permutation), but built as a single nested
    expression in which
    every permutation j appears exactly once. Materializing the signature
    in a separate select() and slicing it per band looks equivalent but is
    48x slower: Catalyst's CollapseProject inlines the full signature
    expression into every band's slice() lambda, recomputing all perms
    once per band.
    """
    p = F.lit(_MINHASH_P).cast("long")

    # The base-hash array is bound once per row; without bind() every
    # permutation's expression holds its own copy and re-hashes all
    # shingles (96x the xxhash work). Each permutation's affine
    # coefficients are likewise bound once per (row, perm) — see
    # _affine_min.
    return bind(
        F.transform(shingles, lambda s: F.pmod(F.xxhash64(s), p)),
        lambda base: F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.hash(
                F.transform(
                    F.sequence(F.lit(0), F.lit(rows_per_band - 1)),
                    lambda r: _affine_min(base, b * rows_per_band + r, p),
                ),
                b,
            ),
        ),
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float,
    n: int = 3,
    bands: int = 48,
    rows_per_band: int = 2,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """Near-duplicate pairs via MinHash-LSH candidates + exact verification.

    With r=2, b=48: P(candidate | J=0.5) ≈ 1-(1-0.25)^48 ≈ 1-1e-6, so the
    verified output equals the exact jaccard_pairs_exact result with
    overwhelming probability — which is how the oracle checks it.
    Columns: x, y, jaccard (rounded 4).
    """
    # empty shingle sets are excluded: they'd collide in every band (null
    # signatures) and their Jaccard is 0/0 — not a near-duplicate by def.
    # The filter is the CHEAP equivalent token-count test (word_shingles
    # yields empty iff the doc has < n tokens), applied to the raw text:
    # filtering on size(s) > 0 made Catalyst push the full shingle
    # expression below the spread() exchange, running the whole
    # tokenize+shingle pass serially on the unsplit scan — once per
    # consumer of sh (candidates + both verify sides = 3x).
    sh = _spread(docs.filter(F.size(F.split(F.col(text_col), " ")) >= n)).select(
        F.col(key_col).alias("id"), _shingles_cached(text_col, n).alias("s")
    )
    band_keys = cached_expr(
        ("minhash_band_keys", "s", bands, rows_per_band),
        lambda: minhash_band_keys(F.col("s"), bands, rows_per_band),
    )
    buckets = sh.select("id", F.posexplode(band_keys).alias("band", "bkey"))
    candidates = _bucket_pairs(buckets, "band", "bkey")
    sets_x = sh.select(F.col("id").alias("x"), F.col("s").alias("sx"))
    sets_y = sh.select(F.col("id").alias("y"), F.col("s").alias("sy"))
    return (
        candidates.join(sets_x, "x")
        .join(sets_y, "y")
        .withColumn("inter", F.size(F.array_intersect("sx", "sy")))
        .withColumn(
            "jaccard", F.col("inter") / (F.size("sx") + F.size("sy") - F.col("inter"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("x", "y", F.round("jaccard", 4).alias("jaccard"))
    )


SIMHASH_BITS = 60  # 15 md5 hex digits — exact in a signed 64-bit long


def simhash60(tokens: Column) -> Column:
    """60-bit SimHash of a token array (JVM-side bit arithmetic).

    bit k of the fingerprint = majority sign over tokens of bit k of the
    token hash. The token hash is the first 15 hex digits of md5 — chosen
    over xxhash64 deliberately: md5 is bit-identical in every engine, so a
    SQL oracle can recompute the fingerprints exactly (DuckDB:
    ``('0x' || substr(md5(t), 1, 15))::BIGINT``), where xxhash64 exists
    only in Spark. Quality is equivalent — SimHash only needs uniform
    independent bits. Bit positions are unrolled at plan-build time
    (static Python loop); the token-hash array is bound once per row so
    the 60 bit-voters read it instead of each re-hashing every token.
    Tie votes (sum == 0, possible with even token counts) resolve to 0.
    """

    def voter(mask):  # closure factory: PySpark introspects lambda arity
        return lambda acc, h: acc + F.when(h.bitwiseAND(mask) != 0, 1).otherwise(-1)

    def build(hashes: Column) -> Column:
        fp = F.lit(0).cast("long")
        for k in range(SIMHASH_BITS):
            mask = F.shiftleft(F.lit(1).cast("long"), k)
            vote = F.aggregate(hashes, F.lit(0).cast("long"), voter(mask))
            fp = fp.bitwiseOR(F.when(vote > 0, mask).otherwise(F.lit(0).cast("long")))
        return fp

    return bind(
        F.transform(
            tokens, lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
        ),
        build,
    )


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """Pairs with SimHash hamming distance <= max_hamming.

    Candidate generation by 15-bit chunk banding (pigeonhole: hamming <= 3
    ⇒ one of the 4 chunks of the 60-bit fingerprint identical),
    verification via bit_count(xor). Columns: x, y, hamming.
    """
    fp = _spread(docs).select(
        F.col(key_col).alias("id"),
        cached_expr(
            ("simhash60", text_col),
            lambda: simhash60(F.split(F.col(text_col), " ")),
        ).alias("fp"),
    )
    chunks = fp.select(
        "id",
        "fp",
        F.posexplode(
            F.array(*[F.shiftrightunsigned("fp", 15 * c).bitwiseAND(F.lit(0x7FFF)) for c in range(4)])
        ).alias("chunk", "ckey"),
    )
    # fingerprints ride along in the bucket structs so the expensive
    # simhash projection runs once (a self-join would run it twice).
    members = (
        chunks.groupBy("chunk", "ckey")
        .agg(F.sort_array(F.collect_list(F.struct("id", "fp"))).alias("ms"))
        .filter(F.size("ms") > 1)
    )
    pairs = F.flatten(
        F.transform(
            F.col("ms"),
            lambda x, i: F.transform(
                F.slice(F.col("ms"), i + 2, F.size(F.col("ms"))),
                lambda y: F.struct(
                    x["id"].alias("x"),
                    y["id"].alias("y"),
                    F.bit_count(x["fp"].bitwiseXOR(y["fp"])).alias("hamming"),
                ),
            ),
        )
    )
    return (
        members.select(F.explode(pairs).alias("p"))
        .select("p.x", "p.y", "p.hamming")
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def dup_clusters(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over near-duplicate pairs: each doc maps to
    the MINIMUM doc id reachable through the pair graph — the canonical
    representative a dedup pipeline keeps. Columns: id, canonical.

    Iterative min-label propagation (the alternating large/small-star
    idea reduced to its undirected-min essence): each round joins current
    labels across edges and keeps the per-node minimum, stopping early
    when a round changes nothing. Rounds = O(component diameter) — near-dup
    clusters are shallow (most are pairs/triangles), so 3-4 rounds close
    real corpora; `max_iter` bounds adversarial chains. Each round is one
    shuffle on id; edges stay partitioned by the join key throughout.
    """
    edges = (
        pairs.select(F.col("x").alias("a"), F.col("y").alias("b"))
        .union(pairs.select(F.col("y").alias("a"), F.col("x").alias("b")))
        .distinct()
        # Materialize ONCE before the loop: edges' lineage embeds the
        # whole upstream pair pipeline (for LSH callers, the full
        # candidate+verify job), and every round's propagation join —
        # plus the changed-check action — would re-execute it from the
        # scan. The labels checkpoint below truncates only the label
        # lineage; this one truncates the expensive input exactly once.
        .localCheckpoint()
    )
    labels = edges.select(F.col("a").alias("id")).distinct().withColumn("lbl", F.col("id"))
    for _ in range(max_iter):
        # min label among self and neighbors' labels
        prop = (
            edges.join(labels.withColumnRenamed("id", "b").withColumnRenamed("lbl", "nlbl"), "b")
            .groupBy(F.col("a").alias("id"))
            .agg(F.min("nlbl").alias("plbl"))
        )
        nxt = (
            labels.join(prop, "id", "left")
            .select("id", F.least("lbl", F.coalesce("plbl", "lbl")).alias("lbl"))
            # truncate lineage each round — without this, round k re-executes
            # every previous round's joins (the classic iterative-DAG trap)
            .localCheckpoint()
        )
        changed = (
            labels.withColumnRenamed("lbl", "old")
            .join(nxt, "id")
            .filter(F.col("old") != F.col("lbl"))
            .limit(1)
            .count()
        )
        labels = nxt
        if changed == 0:
            break
    return labels.select("id", F.col("lbl").alias("canonical"))


def contamination_hits(
    docs: DataFrame,
    bench_pred: Column,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing at least one
    word ``n``-gram with the benchmark subset (``bench_pred``), with the
    count of distinct contaminated grams per document.

    Scale shape: the benchmark side (eval sets — megabytes against a
    100 TB corpus) reduces to a DISTINCT gram set and is broadcast, so
    the corpus side streams through a map-side hash join on its exploded
    grams — no corpus shuffle until the final per-doc count, which
    carries only the (rare) hit rows.
    """
    grams = _shingles_cached(text_col, n)
    bench_grams = (
        docs.filter(bench_pred)
        .select(F.explode(grams).alias("g"))
        .distinct()
    )
    corpus_grams = docs.filter(~bench_pred).select(
        id_col, F.explode(grams).alias("g")
    )
    return (
        corpus_grams.join(F.broadcast(bench_grams), "g")
        .groupBy(id_col)
        .agg(F.countDistinct("g").alias("n_hit"))
    )


# Input-size cutover for minhash_lsh_auto: below this the fully-pipelined
# operator wins (recompute is cheaper than any checkpoint barrier; AQE
# keeps optimizing one job); above it the 3x shingle recompute costs more
# than materializing the sparse candidate list once, and restartability
# starts to matter (a failed verify resumes from the candidate parquet,
# not hour one). 1 GiB is conservative: the crossover measured at local
# scale is far above the test corpora, and at 100 TB staged is clearly
# right — anything in between only pays one extra small parquet write.
MINHASH_STAGED_ABOVE_BYTES = 1 << 30


def minhash_lsh_auto(
    docs: DataFrame,
    threshold: float,
    n: int = 3,
    bands: int = 48,
    rows_per_band: int = 2,
    text_col: str = "text",
    key_col: str = "doc_id",
    workdir: str | None = None,
    staged_above_bytes: int = MINHASH_STAGED_ABOVE_BYTES,
) -> DataFrame:
    """Cost-based dispatch between the pipelined and staged MinHash-LSH
    paths. Input size comes from optimizer plan statistics (parquet file
    sizes — no job is launched to decide), the same signal Spark's own
    join-strategy selection uses. Both paths share one output contract
    and are asserted equal in tests; this wrapper just picks the shape
    that survives the input scale."""
    size = int(docs._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    # Plans with no real statistics (RDD-backed inputs, post-UDF stages)
    # report spark.sql.defaultSizeInBytes — effectively Long.Max — which
    # would force tiny corpora onto the staged path. Unknown size means
    # "can't justify a materialization barrier": stay pipelined.
    stats_unknown = size >= (1 << 60)
    if size >= staged_above_bytes and not stats_unknown:
        import atexit
        import shutil
        import tempfile

        wd = workdir or tempfile.mkdtemp(prefix="uq_minhash_stage_")
        if workdir is None:
            # Caller gave no workdir to manage, so the temp staging area
            # is ours to reap at interpreter exit (it only needs to
            # outlive the verify job's lazy execution).
            atexit.register(shutil.rmtree, wd, ignore_errors=True)
        return minhash_lsh_staged(
            docs, wd, threshold, n, bands, rows_per_band, text_col, key_col
        )
    return minhash_lsh_pairs(docs, threshold, n, bands, rows_per_band, text_col, key_col)


def minhash_lsh_staged(
    docs: DataFrame,
    workdir: str,
    threshold: float,
    n: int = 3,
    bands: int = 48,
    rows_per_band: int = 2,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """minhash_lsh_pairs as a two-job staged pipeline: candidates are
    MATERIALIZED to parquet, then verified by a second job.

    The fully-pipelined operator recomputes the shingle projection three
    times (candidate side + both verify sides) — measured CHEAPER at
    local scale than any checkpoint barrier, because Spark pipelines the
    recompute and AQE keeps working. At 100 TB the trade flips:
    re-tokenizing the corpus 3x costs more than writing the (small,
    near-dup-sparse) candidate list once, the verify job joins candidates
    back against only the documents that appear in them, and a failed
    verify step restarts from the candidate parquet instead of hour one.
    Same output contract as minhash_lsh_pairs: x, y, jaccard (rounded 4).
    """
    # Cheap token-count filter instead of size(s) > 0 — same rationale as
    # minhash_lsh_pairs: the shingle-sized filter would be pushed below
    # the spread() exchange and run the full shingle pass serially.
    sh = _spread(docs.filter(F.size(F.split(F.col(text_col), " ")) >= n)).select(
        F.col(key_col).alias("id"), _shingles_cached(text_col, n).alias("s")
    )
    band_keys = cached_expr(
        ("minhash_band_keys", "s", bands, rows_per_band),
        lambda: minhash_band_keys(F.col("s"), bands, rows_per_band),
    )
    buckets = sh.select("id", F.posexplode(band_keys).alias("band", "bkey"))
    # Job 1: candidate pairs to disk (checkpoint of the expensive stage).
    _bucket_pairs(buckets, "band", "bkey").write.mode("overwrite").parquet(
        f"{workdir}/candidates"
    )
    # Job 2: verify. Semi-join first so only candidate documents are
    # re-shingled — at scale that's the near-dup-suspect sliver, not the
    # corpus.
    cands = docs.sparkSession.read.parquet(f"{workdir}/candidates")
    ids = cands.select(F.col("x").alias("cid")).union(
        cands.select(F.col("y").alias("cid"))
    ).distinct()
    sh_c = sh.join(ids, sh["id"] == ids["cid"], "left_semi")
    sets_x = sh_c.select(F.col("id").alias("x"), F.col("s").alias("sx"))
    sets_y = sh_c.select(F.col("id").alias("y"), F.col("s").alias("sy"))
    return (
        cands.join(sets_x, "x")
        .join(sets_y, "y")
        .withColumn("inter", F.size(F.array_intersect("sx", "sy")))
        .withColumn(
            "jaccard", F.col("inter") / (F.size("sx") + F.size("sy") - F.col("inter"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("x", "y", F.round("jaccard", 4).alias("jaccard"))
    )


def bloom_membership(
    delta: DataFrame,
    base: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    m_bits: int = 1 << 20,
    k_hashes: int = 5,
) -> DataFrame:
    """Bloom-filter ingestion membership: build a bit-array over the BASE
    corpus' exact-text hashes, probe each DELTA document against it.
    Columns: key, bloom_hit.

    The 100 TB shape for "have we seen this document before": the base
    never re-shuffles — one pass explodes each doc's k bit positions
    into a distinct-collect bounded by m_bits (the filter's SIZE, ~128 MB
    at m=2^30 — broadcast-class, and 10,000x smaller than the corpus);
    the delta probes a broadcast numpy bitmap batch-at-a-time. Bloom
    guarantees NO false negatives (a genuine duplicate always hits) at a
    tunable false-positive rate (~(1-e^(-kn/m))^k); pair with an exact
    verify of the (few) hits, as the registered entry's oracle does.

    Bit positions: pmod(xxhash64(text, seed_i), m) — k independent
    seeded hashes, all JVM-side.
    """
    import numpy as np
    import pandas as pd

    # NULL text has no membership semantics: dropped from the base (it
    # sets no bits) and reported bloom_hit=false on the delta side.
    # The isNotNull guard collapses the whole positions array to NULL —
    # xxhash64(NULL) would otherwise yield an array OF nulls, crashing
    # the int64 conversion in both kernels.
    raw_positions = F.transform(
        F.sequence(F.lit(1), F.lit(k_hashes)),
        lambda i: F.pmod(F.xxhash64(F.col(text_col), i), F.lit(m_bits)),
    )
    positions = F.when(F.col(text_col).isNotNull(), raw_positions)
    set_bits = [
        r[0]
        for r in base.filter(F.col(text_col).isNotNull())
        .select(F.explode(positions).alias("p"))
        .distinct()
        .collect()
    ]
    bitmap = np.zeros(m_bits, dtype=bool)
    if set_bits:
        bitmap[np.array(set_bits, dtype="int64")] = True
    bc = delta.sparkSession.sparkContext.broadcast(bitmap)

    def probe(batches):
        bm = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            hits = [
                p is not None and bool(bm[np.asarray(p, dtype="int64")].all())
                for p in pdf["pos"]
            ]
            yield pd.DataFrame({"key": pdf["key"], "bloom_hit": hits})

    probed = delta.select(
        F.col(key_col).alias("key"), positions.alias("pos")
    ).mapInPandas(probe, "key long, bloom_hit boolean")
    return probed
