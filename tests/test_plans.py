"""Plan-shape tests — catch scale regressions at sf0.001.

These pin the physical-plan properties that matter at 100 TB: predicate
pushdown into the parquet scan, broadcast joins for dimensions, column
pruning for wide binary payloads.
"""

from __future__ import annotations

import re

from uquery_rs_spark import queries as Q
from uquery_rs_spark.plans.inspect import formatted_plan, pushed_filters

from .conftest import SF_SMALL

Q.load_all()


def test_q1_filter_pushed_to_scan(spark):
    df = Q.REGISTRY["q1_pricing_summary"].spark_fn(spark, SF_SMALL)
    pushed = pushed_filters(df)
    assert "l_shipdate" in pushed, f"shipdate filter not pushed: {pushed}"


def test_q1_partial_aggregation(spark):
    plan = formatted_plan(Q.REGISTRY["q1_pricing_summary"].spark_fn(spark, SF_SMALL))
    assert "partial" in plan.lower(), "no map-side partial aggregation"


def test_q3_broadcasts_dimension(spark):
    plan = formatted_plan(Q.REGISTRY["q3_shipping_priority"].spark_fn(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan


def test_q5_star_join_broadcasts(spark):
    plan = formatted_plan(Q.REGISTRY["q5_local_supplier_volume"].spark_fn(spark, SF_SMALL))
    assert plan.count("BroadcastHashJoin") >= 1


def test_metadata_query_prunes_payload(spark):
    df = Q.REGISTRY["multimodal_metadata"].spark_fn(spark, SF_SMALL)
    plan = formatted_plan(df)
    # only doc_id + text should be read; the scan must not materialize
    # other document columns like lang/source
    assert "ReadSchema" in plan
    read_schema_line = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "lang" not in read_schema_line and "source" not in read_schema_line


def test_topk_uses_take_ordered(spark):
    plan = formatted_plan(Q.REGISTRY["q3_shipping_priority"].spark_fn(spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan


def test_lsh_no_cartesian_product(spark):
    """LSH candidate generation must stay a bucket groupBy — an accidental
    plan change to a cross join would be catastrophic at corpus scale."""
    plan = formatted_plan(Q.REGISTRY["dedup_minhash_lsh"].spark_fn(spark, SF_SMALL))
    assert "CartesianProduct" not in plan


def test_q14_broadcasts_part_dimension(spark):
    plan = formatted_plan(Q.REGISTRY["q14_promo_revenue_ratio"].spark_fn(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan


def test_events_filter_pushdown(spark):
    pushed = pushed_filters(Q.REGISTRY["asof_join_purchase_view"].spark_fn(spark, SF_SMALL))
    assert "event_type" in pushed, f"event_type filter not pushed: {pushed}"


def test_salted_join_is_hash_join(spark):
    plan = formatted_plan(Q.REGISTRY["salted_join_order_counts"].spark_fn(spark, SF_SMALL))
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_q21_single_aggregation_plan(spark):
    """Round-13 rewrite (r12 verdict #3): the EXISTS + NOT EXISTS
    self-join pair is replaced by ONE per-orderkey min/max aggregate —
    the plan must contain NO semi/anti joins (the old shape shuffled
    lineitem three times), exactly one lineitem aggregation with
    map-side partial aggregation (HashAggregate pairs), and no
    cartesian fallback. Equivalence to the EXISTS form is pinned by
    the entry's oracle hash every round."""
    plan = formatted_plan(Q.REGISTRY["q21_suppliers_kept_waiting"].spark_fn(spark, SF_SMALL))
    assert "LeftSemi" not in plan and "LeftAnti" not in plan
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_q8_broadcasts_dimensions(spark):
    """The 8-way market-share join must broadcast the dim tables (nation/
    region/supplier at this scale), never fall to a cartesian product."""
    plan = formatted_plan(Q.REGISTRY["q8_market_share"].spark_fn(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q4_date_filter_pushed(spark):
    df = Q.REGISTRY["q4_order_priority"].spark_fn(spark, SF_SMALL)
    assert "o_orderdate" in pushed_filters(df)


def test_timestamp_range_filters_pushed(spark):
    """Timestamp predicates must reach the parquet scan as PushedFilters
    (row-group min/max pruning). This regressed in round 3 when nanos
    testdata forced a timestamp_micros(col div 1000) wrapper; with micros
    testdata load_tables reads timestamps natively and every time-ranged
    scan prunes. At 100 TB a time-ranged query that can't prune row
    groups is a full-table read — this is a scale gate, not a nicety."""
    cases = {
        "q3_shipping_priority": "o_orderdate",
        "q5_local_supplier_volume": "o_orderdate",
        "q10_returned_items": "o_orderdate",
    }
    for name, col in cases.items():
        df = Q.REGISTRY[name].spark_fn(spark, SF_SMALL)
        _assert_range_pushed(pushed_filters(df), col, name)


def test_events_ts_range_pushed(spark):
    """A time-ranged scan of the events table through load_tables must
    prune at the parquet scan (no registry query carries a ts literal, so
    the table path is pinned directly)."""
    from pyspark.sql import functions as F

    ev = Q.load_tables(spark, SF_SMALL)["events"]
    df = ev.filter(F.col("ts") >= F.lit("2024-01-15 00:00:00").cast("timestamp_ntz")).select(
        "event_id"
    )
    _assert_range_pushed(pushed_filters(df), "ts", "events ts scan")


def _assert_range_pushed(pushed: str, col: str, name: str) -> None:
    # Accept either a range comparison or equality on the column;
    # IsNotNull alone does not count as a pushed range predicate.
    lines = [l for l in pushed.splitlines() if col in l]
    assert any(
        any(op in l for op in ("GreaterThan", "LessThan", "EqualTo")) for l in lines
    ), f"{name}: no range predicate on {col} pushed: {pushed!r}"


def test_q17_decorrelates_scalar_subquery(spark):
    """The per-part correlated average must become an aggregate+join, not
    a per-row subquery re-execution."""
    plan = formatted_plan(Q.REGISTRY["q17_small_quantity_revenue"].spark_fn(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_contamination_broadcasts_benchmark_side(spark):
    # the benchmark gram set (eval suites: MBs vs a 100 TB corpus) must be
    # the broadcast side; a sort-merge join here would shuffle every
    # corpus gram.
    df = Q.REGISTRY["decontaminate_benchmark_overlap"].spark_fn(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_repetition_stats_is_shuffle_free(spark):
    # per-row array expressions: the only exchange allowed is the final
    # presentation orderBy's range partitioning.
    from uquery_rs_spark.operators.text import repetition_stats

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    plan = formatted_plan(repetition_stats(docs))
    assert "Exchange" not in plan


def test_bucketed_join_colocates_without_shuffle(spark):
    # The 100 TB co-location strategy: fact tables bucketed on the join
    # key join WITHOUT any Exchange — each task reads matching buckets
    # from both sides. This is the written-form of the repartition-reuse
    # advice in SURVEY.md; pinned here so the session conf keeps
    # bucketing enabled and the reader honors bucket metadata.
    for t in ("uq_orders_b", "uq_lineitem_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    lineitem = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    try:
        (orders.write.mode("overwrite").bucketBy(4, "o_orderkey")
         .sortBy("o_orderkey").format("parquet").saveAsTable("uq_orders_b"))
        (lineitem.write.mode("overwrite").bucketBy(4, "l_orderkey")
         .sortBy("l_orderkey").format("parquet").saveAsTable("uq_lineitem_b"))
        a, b = spark.table("uq_orders_b"), spark.table("uq_lineitem_b")
        j = (a.hint("merge")  # force SMJ so absence of Exchange proves co-location
             .join(b, a.o_orderkey == b.l_orderkey)
             .select("o_orderkey", "l_quantity"))
        plan = formatted_plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
    finally:
        for t in ("uq_orders_b", "uq_lineitem_b"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_tfidf_reuses_tf_exchange(spark):
    # The served tf-idf text joins tf against df-per-term derived FROM
    # tf. The df aggregate keeps sum(tf) (surfaced as ttf) precisely so
    # Catalyst cannot prune the branch into a DISTINCT with a
    # non-matching subplan: with identical subplans AQE reuses the
    # (doc, term) shuffle and the corpus is exploded ONCE.
    # Executed-plan assertion — reuse is decided at runtime under AQE.
    df = Q.REGISTRY["text_tfidf_top_terms"].spark_fn(spark, SF_SMALL)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan


def test_bm25_is_take_ordered(spark):
    # Global top-k must be TakeOrdered (per-partition heaps + driver
    # merge), never a full rangepartition sort of the corpus.
    plan = formatted_plan(Q.REGISTRY["text_bm25_search"].spark_fn(spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan


def test_intra_doc_dedup_is_shuffle_free(spark):
    """Round 7: within-doc dedup is a pure per-row expression tree —
    no Exchange anywhere (the e≈0 scan-fused class)."""
    plan = formatted_plan(
        Q.REGISTRY["text_intra_doc_dedup"].spark_fn(spark, SF_SMALL)
    )
    body = plan.split("== Physical Plan ==")[-1]
    # the trailing orderBy(doc_id) is presentation; assert the dedup
    # itself adds no hash exchange
    assert "hashpartitioning" not in body, body[:400]


def test_ngram_topk_is_take_ordered(spark):
    """Round 7: corpus top-k n-grams ends in TakeOrdered (k rows to the
    driver, no global sort) over ONE gram-keyed exchange with map-side
    partial aggregation."""
    plan = formatted_plan(Q.REGISTRY["text_ngram_topk"].spark_fn(spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan
    assert "partial" in plan.lower()


def test_leakage_safe_split_no_cartesian(spark):
    """Round 8: the cluster-canonical join must stay a hash/broadcast
    join (cluster map is small relative to the corpus) and the split
    itself adds no exchange beyond it."""
    plan = formatted_plan(
        Q.REGISTRY["corpus_leakage_safe_split"].spark_fn(spark, SF_SMALL)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bpe_apply_is_shuffle_free(spark):
    """Round 9: BPE APPLY is the nightly full-corpus pass — it must be
    a narrow mapInPandas over the scan (broadcast merge table), with
    no Exchange introduced by the encode itself."""
    from uquery_rs_spark.operators.text import bpe_apply

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    plan = formatted_plan(bpe_apply(docs, [("a", "a"), ("aa", "aa")]))
    body = plan.split("== Physical Plan ==")[-1]
    assert "hashpartitioning" not in body, body[:400]
    assert "rangepartitioning" not in body, body[:400]


def test_tumbling_approx_single_exchange(spark):
    """Round 10: the documented 100 TB tumbling plan. Exact
    count(DISTINCT) shuffles every distinct (window, event_type,
    user_id) TRIPLE through a first exchange before the per-group one
    (the named per-row shuffle bound in NOTES 22); the
    approx_count_distinct replacement must plan as an ordinary
    two-phase aggregate — partial HLL sketches map-side, ONE exchange
    keyed by the group, shuffle volume ∝ groups."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    approx = (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.expr("approx_count_distinct(user_id, 0.01)").alias("u"))
    )
    body = formatted_plan(approx).split("== Physical Plan ==")[-1]
    n_ex = lambda b: len(  # noqa: E731  (detail headers: "(5) Exchange")
        re.findall(r"\(\d+\) Exchange\b", b)
    )
    assert n_ex(body) == 1, body[:600]
    assert "partial_approx_count_distinct" in body
    exact = (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.countDistinct("user_id").alias("u"))
    )
    exact_body = formatted_plan(exact).split("== Physical Plan ==")[-1]
    # the bound being dodged is real: a second, per-triple exchange
    assert n_ex(exact_body) == 2
    assert "user_id" in exact_body.split(") Exchange")[1][:400]


def test_dsir_scoring_is_shuffle_free(spark):
    """Round 11: DSIR scoring (after the one bounded bucket-count
    aggregation builds the log-ratio array literal) must be a narrow
    zero-shuffle scan — no per-doc join against the bucket table, no
    explode surviving into the scoring plan."""
    from pyspark.sql import functions as F

    from uquery_rs_spark.operators.corpus import dsir_importance_weights

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    plan = formatted_plan(
        dsir_importance_weights(docs, F.col("lang") == "en", n_buckets=256)
    )
    body = plan.split("== Physical Plan ==")[-1]
    assert "hashpartitioning" not in body, body[:400]
    assert "SortMergeJoin" not in body and "BroadcastHashJoin" not in body, body[:400]


def test_pca_projection_is_shuffle_free(spark):
    """Round 11: the PCA projection scan (components as array literals)
    must not shuffle or join — the only distributed work is the
    partial-moment pass that already ran at build time."""
    from uquery_rs_spark.operators.similarity import pca_project

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    plan = formatted_plan(pca_project(emb, n_components=2))
    body = plan.split("== Physical Plan ==")[-1]
    assert "hashpartitioning" not in body, body[:400]
    assert "Join" not in body, body[:400]


def test_hll_sketch_rollup_partial_aggregates(spark):
    """Round 11: hll_sketch_agg must fold into the ordinary two-phase
    aggregate path (partial sketches map-side) — the property that
    makes shuffle volume ∝ groups, not rows."""
    plan = formatted_plan(
        Q.REGISTRY["events_hll_sketch_rollup"].spark_fn(spark, SF_SMALL)
    )
    body = plan.split("== Physical Plan ==")[-1].lower()
    assert "partial" in body, body[:400]
    assert "hll_sketch_agg" in body, body[:400]


def test_hll_sliding_window_runs_over_sketches(spark):
    """Round 12: the 7-day rolling distinct must window over the DAILY
    SKETCH rows (one hll_sketch_agg aggregate below the window), not
    re-read raw events per frame — raw events are scanned once on the
    estimate side."""
    plan = formatted_plan(
        Q.REGISTRY["events_hll_sliding_uniques"].spark_fn(spark, SF_SMALL)
    )
    body = plan.split("== Physical Plan ==")[-1]
    assert "hll_union_agg" in body and "Window" in body, body[:600]
    assert "partial_hll_sketch_agg" in body, body[:600]


def test_kn_bigram_scoring_stays_jvm_side(spark):
    """Round 12: the KN-LM estimator must be pure joins + aggregates —
    no Python evaluation anywhere in the plan (training and scoring
    both run inside codegen/exchange operators)."""
    plan = formatted_plan(
        Q.REGISTRY["text_lm_kn_bigram"].spark_fn(spark, SF_SMALL)
    )
    body = plan.split("== Physical Plan ==")[-1]
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in body, body[:600]
    assert "Join" in body
