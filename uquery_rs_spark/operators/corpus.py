"""Corpus-composition operators for training-data pipelines.

Splitting, ordering, sampling and packing a pretraining corpus. Every
choice here is a pure function of the document key (a hash of it, or its
order), never rand(): the result is reproducible across runs, engines
and partitionings, composes with incremental ingestion (a re-run keeps
the same documents), and is oracle-checkable row-for-row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hash_split(
    docs: DataFrame,
    key_col: str = "doc_id",
    threshold_hex2: str = "f3",
    names: tuple[str, str] = ("train", "val"),
) -> DataFrame:
    """Deterministic train/val assignment from an md5 prefix of the key.

    A row lands in ``names[0]`` iff the first two hex chars of
    md5(key) sort below ``threshold_hex2`` — e.g. 'f3' keeps 243/256 ≈
    94.9% for training. md5 hex is identical across engines (the oracle
    runs the same expression in DuckDB), and unlike rand()-splits the
    assignment is a pure row function: reproducible across runs,
    engines, partitionings, and incremental ingestion, with no shuffle.
    """
    h2 = F.substring(F.md5(F.col(key_col).cast("string")), 1, 2)
    return docs.withColumn(
        "split", F.when(h2 < F.lit(threshold_hex2), names[0]).otherwise(F.lit(names[1]))
    )


def leakage_safe_split(
    docs: DataFrame,
    clusters: DataFrame,
    key_col: str = "doc_id",
    threshold_hex2: str = "f3",
    names: tuple[str, str] = ("train", "val"),
) -> DataFrame:
    """Train/val split that never cuts a near-duplicate cluster.

    A plain hash split leaks: two near-duplicate documents can land on
    opposite sides, and the eval half then scores memorized training
    text. Here every document is keyed by its CLUSTER CANONICAL (the
    minimum doc id reachable through the near-dup pair graph —
    ``dedup.dup_clusters`` output), unclustered docs by their own id,
    and the md5-prefix split (``hash_split``) runs on that key — so a
    whole cluster shares one split by construction, while the split
    stays a pure deterministic row function of the canonical key
    (reproducible across runs, engines and incremental ingestion).

    Adds ``split_key`` (the canonical) and ``split`` columns.

    100 TB: ``clusters`` holds only documents that appear in a near-dup
    pair — a small fraction of the corpus for deduplicated web data —
    so the LEFT join is broadcast-able when the cluster map fits, and
    otherwise a single shuffle on the corpus' primary key; the split
    itself adds no shuffle.
    """
    canon = clusters.select(
        F.col("id").alias(key_col), F.col("canonical")
    )
    keyed = (
        docs.join(canon, key_col, "left")
        .withColumn("split_key", F.coalesce("canonical", F.col(key_col)))
        .drop("canonical")
    )
    return hash_split(
        keyed, key_col="split_key", threshold_hex2=threshold_hex2, names=names
    )


def shuffle_order(
    docs: DataFrame, key_col: str = "doc_id", n_buckets: int = 256, epoch: int = 0
) -> DataFrame:
    """Deterministic global training order: contiguous rank by md5(key).

    Epoch shuffling for a 100 TB corpus can't be rand() (irreproducible)
    or a driver-side permutation (doesn't fit) — hashing the key gives a
    pseudo-random yet reproducible total order (salt the key with the
    epoch for different epochs). A bare row_number() OVER (ORDER BY ...)
    would drag every row into ONE partition (Spark's unpartitioned
    WindowExec). repartitionByRange is also out: its range bounds come
    from a SAMPLE whose seed includes the RDD id, so the two passes this
    rank needs would see DIFFERENT partitionings (measured: same plan,
    different per-partition counts run to run).

    Instead the hash's own uniformity replaces sampling: bucket =
    equi-width range of the first-four-hex-chars value of md5 —
    ``(v * n_buckets) div 65536`` is monotone in the hash prefix, so
    bucket order IS hash order for ANY n_buckets up to 65536 (not just
    divisors), and uniform hashes balance buckets by construction.
    Pass 1 counts rows per bucket (an n_buckets-row collect); pass 2
    ranks within each bucket (distributed window) and adds the bucket's
    prefix-sum offset. Raise n_buckets (max 65536) so each bucket fits
    one task at corpus scale.
    """
    from pyspark.sql import Window as W

    if not 1 <= n_buckets <= 65536:
        raise ValueError(f"n_buckets must be in [1, 65536], got {n_buckets}")
    # epoch != 0 salts the hashed key so every training epoch sees a
    # DIFFERENT (but equally reproducible) order; epoch 0 hashes the
    # bare key, preserving the original contract.
    hash_input = (
        F.col(key_col).cast("string")
        if epoch == 0
        else F.concat(F.col(key_col).cast("string"), F.lit(f":{epoch}"))
    )
    h = F.md5(hash_input)
    prefix = F.conv(F.substring(h, 1, 4), 16, 10).cast("long")
    # v*n <= 65535*65536 < 2^63: exact in long arithmetic.
    bucket = (prefix * F.lit(n_buckets)) / F.lit(65536)
    bucket = F.floor(bucket).cast("long")
    hashed = docs.withColumn("_h", h).withColumn("_b", bucket)
    counts = {
        r["_b"]: r["cnt"]
        for r in hashed.groupBy("_b").agg(F.count("*").alias("cnt")).collect()
    }
    if not counts:
        return docs.withColumn("shuffle_rank", F.lit(None).cast("long"))
    offsets, acc = {}, 0
    for b in sorted(counts):
        offsets[b] = acc
        acc += counts[b]
    mapping = F.create_map(*[F.lit(x) for b_off in offsets.items() for x in b_off])
    w = W.partitionBy("_b").orderBy("_h", key_col)
    return (
        hashed.withColumn(
            "shuffle_rank",
            F.row_number().over(w).cast("long") + mapping[F.col("_b")],
        )
        .drop("_h", "_b")
    )


def importance_sample(
    docs: DataFrame, prob: Column, key_col: str = "doc_id"
) -> DataFrame:
    """Deterministic importance sampling: keep each row with its OWN
    probability ``prob`` (a per-row column, clamped to [0,1]) — the
    quality-weighted acceptance step of data-mixing pipelines (keep good
    documents with high probability, weak ones rarely).

    The accept decision compares the row's md5-prefix fraction against
    prob, so it is a pure row function like hash_split: reproducible
    across runs, engines, and partitionings, consistent under
    incremental ingestion, and oracle-checkable row-for-row — none of
    which rand() sampling gives you. Filter-only: no shuffle.
    """
    h = F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 4), 16, 10).cast(
        "long"
    )
    p = F.greatest(F.lit(0.0), F.least(F.lit(1.0), prob))
    return docs.filter(h < p * 65536)


def pack_sequences_emit(
    docs: DataFrame,
    context_tokens: int = 256,
    text_col: str = "text",
    key_col: str = "doc_id",
    bucket_docs: int = 1000,
) -> DataFrame:
    """GPT-style sequence packing, MATERIALIZED: concatenate documents
    in key order, chop the token stream into fixed ``context_tokens``
    windows, and emit each packed window's actual token sequence — the
    last-mile step that turns a curated corpus into training examples
    (the ``corpus_pack_sequences`` query reports the same windows as
    stats only).

    Columns: window_id, n_docs, n_tokens, tokens (array<string>; the
    final window may be short).

    Scale shape: a two-phase prefix sum (per-bucket token totals over
    equal key-range buckets, collected as offsets; no global window), then each document emits one
    ARRAY-SLICE fragment per window it spans (fan-out = spanned windows,
    ~1 + n_tokens/context — never token-level rows), and one groupBy on
    window_id flattens fragments in offset order. Token arrays shuffle
    exactly once; a window's fragments are bounded by the docs that
    straddle it. Tokens here are the whitespace split — chain after
    :func:`~uquery_rs_spark.operators.text.bpe_apply` and map the
    slice over its `tokens` column for id-level packing.
    """
    from pyspark.sql import Window as W

    L = int(context_tokens)
    toks = F.split(F.col(text_col), " ")
    base = docs.select(
        F.col(key_col).alias("_k"),
        toks.alias("_t"),
        F.size(toks).cast("long").alias("_n"),
    )
    st = base.agg(
        F.min("_k").alias("mn"), F.max("_k").alias("mx"), F.count("*").alias("n")
    ).first()
    if st["n"] == 0:
        schema = "window_id long, n_docs long, n_tokens long, tokens array<string>"
        return docs.sparkSession.createDataFrame([], schema)
    n_buckets = min(max(1, -(-int(st["n"]) // bucket_docs)), 65536)
    width = min(
        max(1, -(-(int(st["mx"]) - int(st["mn"]) + 1) // n_buckets)), 1 << 62
    )
    bucketed = base.withColumn("_b", F.expr(f"_k div {width}L"))
    per_bucket = {
        r["_b"]: r["tok"]
        for r in bucketed.groupBy("_b").agg(F.sum("_n").alias("tok")).collect()
    }
    offsets, acc = {}, 0
    for b in sorted(per_bucket):
        offsets[b] = acc
        acc += per_bucket[b]
    mapping = F.create_map(*[F.lit(x) for b_off in offsets.items() for x in b_off])
    w = W.partitionBy("_b").orderBy("_k")
    cum = (F.sum("_n").over(w) + mapping[F.col("_b")]).alias("_cum")
    off = (F.col("_cum") - F.col("_n")).alias("_off")
    spanned = (
        bucketed.select("_t", "_n", cum, off)
        .select(
            "_t",
            "_n",
            "_off",
            F.explode(
                F.sequence(
                    F.floor(F.col("_off") / L), F.floor((F.col("_off") + F.col("_n") - 1) / L)
                )
            ).alias("window_id"),
        )
        .select(
            "window_id",
            F.greatest(F.col("_off"), F.col("window_id") * L).alias("_fs"),
            F.least(F.col("_off") + F.col("_n"), (F.col("window_id") + 1) * L).alias(
                "_fe"
            ),
            "_t",
            "_off",
        )
        .select(
            "window_id",
            F.struct(
                F.col("_fs").alias("fo"),
                F.slice(
                    F.col("_t"),
                    (F.col("_fs") - F.col("_off") + 1).cast("int"),
                    (F.col("_fe") - F.col("_fs")).cast("int"),
                ).alias("frag"),
            ).alias("_sf"),
        )
    )
    return (
        spanned.groupBy("window_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list("_sf")), lambda s: s["frag"]
                )
            ).alias("tokens"),
        )
        .select(
            "window_id",
            "n_docs",
            F.size("tokens").cast("long").alias("n_tokens"),
            "tokens",
        )
    )


def dsir_importance_weights(
    docs: DataFrame,
    is_target: Column,
    n_buckets: int = 4096,
    alpha: float = 1.0,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, arXiv:2302.03169 §3 —
    Data Selection for Language Models via Importance Resampling):
    hashed unigram+bigram bag-of-ngrams generative models for the
    TARGET distribution (rows where ``is_target``) and the RAW corpus;
    each document's weight is the log-likelihood ratio

        w(doc) = sum_g  ln p_target(b(g)) - ln p_raw(b(g))

    over its grams g, with buckets b(g) = md5-prefix(g) mod n_buckets
    (the hashing trick; md5 so the DuckDB oracle reproduces the bucket
    assignment bit-for-bit) and add-``alpha`` smoothing over the
    ``n_buckets`` vocabulary. Positive weight = more target-like than
    raw. Beyond-reference operator (the reference gateway has no corpus
    ops, src/core/duckdb.rs:87-88).

    100 TB shape: ONE bucket-grained aggregation (shuffle of at most
    n_buckets x partitions partial rows, map-side combined) produces
    the only global state — two B-dim count vectors (B <= 65536, the
    repo's bounded-collect budget) — which returns to the plan as a
    single ARRAY LITERAL, so scoring is a zero-shuffle scan: per doc,
    a higher-order aggregate over the gram array indexing the log-ratio
    array. No per-doc join, no second pass over text, no driver loop.

    Columns: key, n_grams, weight (raw double; callers round for
    display / chain importance_sample on a normalized transform).
    """
    w = F.split(F.col(text_col), " ")
    n = F.size(w)
    # bigrams: zip_with pads the shorter side with NULL -> slice to n-1
    bigrams = F.when(
        n >= 2,
        F.slice(
            F.zip_with(w, F.slice(w, 2, n - 1), lambda a, b: F.concat_ws(" ", a, b)),
            1,
            n - 1,
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = F.concat(w, bigrams)

    def bucket(g: Column) -> Column:
        return F.conv(F.substring(F.md5(g), 1, 4), 16, 10).cast("int") % n_buckets

    base = docs.select(
        F.col(key_col), is_target.alias("uq_t"), grams.alias("uq_g")
    )
    counts = (
        base.select(F.col("uq_t"), F.explode("uq_g").alias("g"))
        .select("uq_t", bucket(F.col("g")).alias("b"))
        .groupBy("b")
        .agg(
            F.count("*").alias("r"),
            F.sum(F.when(F.col("uq_t"), 1).otherwise(0)).alias("t"),
        )
        .collect()  # bounded: <= n_buckets rows
    )
    import math

    t_counts = [0] * n_buckets
    r_counts = [0] * n_buckets
    for row in counts:
        t_counts[row["b"]] = int(row["t"])
        r_counts[row["b"]] = int(row["r"])
    t_tot = sum(t_counts) + alpha * n_buckets
    r_tot = sum(r_counts) + alpha * n_buckets
    lam = [
        math.log((t_counts[i] + alpha) / t_tot) - math.log((r_counts[i] + alpha) / r_tot)
        for i in range(n_buckets)
    ]
    lam_lit = F.lit(lam)  # ONE ArrayType literal node, not n_buckets nodes
    weight = F.aggregate(
        F.col("uq_g"),
        F.lit(0.0),
        lambda acc, g: acc + F.element_at(lam_lit, bucket(g) + 1),
    )
    return base.select(
        F.col(key_col),
        F.size("uq_g").alias("n_grams"),
        weight.alias("weight"),
    )
