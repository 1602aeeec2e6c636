"""Unit tests for the custom operators (edge cases the corpus can't hit).

Where a registry query is SQL text, its served text is the one
implementation, so its edge cases run that text over hand-made tables.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from uquery_rs_spark import queries as Q
from uquery_rs_spark.operators import asof_join
from uquery_rs_spark.operators import dedup as D
from uquery_rs_spark.operators import multimodal as MM
from uquery_rs_spark.operators import similarity as S
from uquery_rs_spark.operators import text as TX

from .conftest import SF_SMALL, served

Q.load_all()


def _served_entry(spark, name, **tables):
    """Rows of registry entry ``name``'s served text over hand-made tables."""
    return served(spark, Q.REGISTRY[name].oracle, **tables)


class TestAsofJoin:
    def test_backward_inclusive(self, spark):
        left = spark.createDataFrame([(1, 10), (1, 20), (1, 5)], "k int, t int")
        right = spark.createDataFrame([(1, 10, "a"), (1, 15, "b")], "k int, t int, v string")
        rows = {r.t: r.v for r in asof_join(left, right, on="t", by="k").collect()}
        assert rows == {5: None, 10: "a", 20: "b"}  # t=10 matches its own ts

    def test_empty_right_keeps_left(self, spark):
        left = spark.createDataFrame([(1, 10, 1.0)], "k int, t int, x double")
        right = spark.createDataFrame([], "k int, t int, y double")
        out = asof_join(left, right, on="t", by="k").collect()
        assert len(out) == 1 and out[0].y is None

    def test_no_by_keys(self, spark):
        left = spark.createDataFrame([(1, 10), (2, 20)], "id int, t int")
        right = spark.createDataFrame([(15, 9.9)], "t int, y double")
        got = sorted((r.t, r.y) for r in asof_join(left, right, on="t").collect())
        assert got == [(10, None), (20, 9.9)]

    def test_per_key_isolation(self, spark):
        left = spark.createDataFrame([(1, 10), (2, 10)], "k int, t int")
        right = spark.createDataFrame([(1, 5, "only-k1")], "k int, t int, v string")
        rows = {r.k: r.v for r in asof_join(left, right, on="t", by="k").collect()}
        assert rows == {1: "only-k1", 2: None}


class TestDedup:
    def test_minhash_equals_exact(self, spark):
        docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        exact = {
            (r.x, r.y) for r in D.jaccard_pairs_exact(docs, threshold=0.5).collect()
        }
        lsh = {(r.x, r.y) for r in D.minhash_lsh_pairs(docs, threshold=0.5).collect()}
        assert lsh == exact and len(exact) > 0

    def test_minhash_affine_binding_bit_identical(self, spark):
        """The bound-coefficient kernel (_affine_min, r13) must emit band
        keys bit-identical to the naive per-element affine form it
        replaced: same constants, same operand order, so LSH candidates
        (and every oracle hash downstream) are unchanged."""
        from uquery_rs_spark.operators.dedup import (
            _MINHASH_A,
            _MINHASH_B,
            _MINHASH_P,
        )

        docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        sh = D.word_shingles(F.col("text"), 3)
        p = F.lit(_MINHASH_P).cast("long")
        bands, rows = 8, 2

        def naive_min(j):
            return F.array_min(
                F.transform(
                    F.transform(sh, lambda s: F.pmod(F.xxhash64(s), p)),
                    lambda h: F.pmod(
                        F.pmod(F.lit(_MINHASH_A) * (j.cast("long") + 1), p) * h
                        + F.pmod(F.lit(_MINHASH_B) * (j.cast("long") + 7), p),
                        p,
                    ),
                )
            )

        naive = F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.hash(
                F.transform(
                    F.sequence(F.lit(0), F.lit(rows - 1)),
                    lambda r: naive_min(b * rows + r),
                ),
                b,
            ),
        )
        mismatches = (
            docs.select(
                D.minhash_band_keys(sh, bands, rows).alias("opt"), naive.alias("ref")
            )
            .filter(~F.expr("opt <=> ref"))
            .count()
        )
        assert mismatches == 0

    def test_exact_dedup_keeps_one_per_text(self, spark):
        docs = spark.createDataFrame(
            [(1, "a b c", "s"), (2, "a b c", "s"), (3, "x y z", "s")],
            "doc_id long, text string, source string",
        )
        out = _served_entry(spark, "dedup_exact_stats", documents=docs)
        assert [tuple(r) for r in out] == [("s", 3, 2, 1)]

    def test_exact_substring_dedup_spans(self, spark):
        """ExactSubstr semantics pinned: a k-gram repeated across docs
        removes BOTH covered spans (+ overhang positions covered by the
        shifted grams), within-doc repeats count toward min_count, docs
        shorter than k are untouched, and a fully-covered doc reconstructs
        to ''."""
        docs = spark.createDataFrame(
            [
                # docs 1/2 share the 3-gram "q w e" (plus unique tails)
                (1, "q w e a b", "s"),
                (2, "x q w e y", "s"),
                # doc 3 repeats "m n o" twice WITHIN itself
                (3, "m n o z m n o", "s"),
                # doc 4 is shorter than k — no grams, never removed
                (4, "a b", "s"),
                # doc 5 duplicates doc 1 entirely -> both fully covered
                (5, "q w e a b", "s"),
            ],
            "doc_id long, text string, source string",
        )
        out = {
            r.doc_id: (r.n_words, r.n_removed, r.cleaned_text)
            for r in TX.exact_substring_dedup(docs, k=3).collect()
        }
        # doc1/5 identical: every 3-gram occurs twice -> all 5 words covered
        assert out[1] == (5, 5, "")
        assert out[5] == (5, 5, "")
        # doc2: only "q w e" (start 1) duplicated -> positions 1..3 removed
        assert out[2] == (5, 3, "x y")
        # doc3: "m n o" occurs twice in one doc -> both spans removed
        assert out[3] == (7, 6, "z")
        assert out[4] == (2, 0, "a b")

    def test_normalized_dedup_collapses_cosmetic_variants(self, spark):
        """Case / punctuation / whitespace-only edits group together; a
        real word change does not. The entry adds one mutated variant
        per doc, so each group holds twice its docs."""
        docs = spark.createDataFrame(
            [
                (1, "Hello, World!"),
                (2, "  hello   world "),
                (3, "HELLO WORLD"),
                (4, "hello there world"),
            ],
            "doc_id long, text string",
        )
        out = {r.doc_id: r.n_copies for r in _served_entry(spark, "dedup_normalized", documents=docs)}
        assert out == {1: 6, 4: 2}

    def test_simhash_identical_docs_zero_hamming(self, spark):
        docs = spark.createDataFrame(
            [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta")],
            "doc_id long, text string",
        )
        pairs = D.simhash_pairs(docs, max_hamming=0).collect()
        assert [(p.x, p.y, p.hamming) for p in pairs] == [(1, 2, 0)]


class TestSimilarity:
    def test_topk_self_excluded_and_ranked(self, spark):
        emb = spark.createDataFrame(
            [(i, [1.0 * (i == j) for j in range(4)], 0) for i in range(4)]
            + [(9, [1.0, 0.001, 0.0, 0.0], 0)],
            "vec_id long, embedding array<float>, label int",
        )
        out = S.cosine_topk_bruteforce(emb.filter("vec_id = 0"), emb, k=1).collect()
        assert [(r.query_id, r.neighbor_id, r.rank) for r in out] == [(0, 9, 1)]

    def test_ivf_recall_on_real_embeddings(self, spark):
        # isotropic corpus (mean pairwise cos = 0) — IVF's hardest case;
        # the registered probe budget (nprobe=12/16) must clear 0.9.
        emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
        queries = emb.filter(F.col("vec_id") < 30)
        exact = {(r.query_id, r.neighbor_id) for r in S.cosine_topk_bruteforce(queries, emb, k=5).collect()}
        approx = {(r.query_id, r.neighbor_id) for r in S.ivf_topk(queries, emb, k=5, n_cells=16, nprobe=12).collect()}
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.9, f"IVF recall@5 below bound: {recall}"

    def test_ivf_recall_on_clustered_data(self, spark):
        # clustered corpus — where k-means centroids earn the pruning: a
        # small probe budget (4/16 cells = 4x less distance compute)
        # must keep recall@5 >= 0.9.
        import numpy as np

        rng = np.random.default_rng(7)
        centers = rng.standard_normal((16, 32)) * 5.0
        rows = []
        for i in range(800):
            c = i % 16
            v = centers[c] + rng.standard_normal(32)
            rows.append((i, [float(x) for x in v]))
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        queries = emb.filter(F.col("vec_id") < 40)
        exact = {(r.query_id, r.neighbor_id) for r in S.cosine_topk_bruteforce(queries, emb, k=5).collect()}
        approx = {(r.query_id, r.neighbor_id) for r in S.ivf_topk(queries, emb, k=5, n_cells=16, nprobe=4).collect()}
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.9, f"IVF recall@5 on clustered data: {recall}"

    def test_blocked_pairs_equal_exact_broadcast(self, spark):
        emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
        exact = {(r.x, r.y, round(r.sim, 6)) for r in S.cosine_pairs_threshold(emb, 0.4).collect()}
        blocked = {(r.x, r.y, round(r.sim, 6)) for r in S.cosine_pairs_blocked(emb, 0.4, n_blocks=5).collect()}
        assert blocked == exact and len(exact) > 0

    def test_lsh_empty_input_yields_empty_pairs(self, spark):
        emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").limit(0)
        assert _served_entry(spark, "dedup_embedding_lsh", embeddings=emb) == []


class TestText:
    def test_fingerprint_matches_python_reference(self, spark):
        text = "spark rolling hash check"
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        got = _served_entry(spark, "text_fingerprint", documents=df)[0].fp
        fp = 0
        for tok in text.split(" "):
            fp = (fp * 31 + ord(tok[0]) * 7 + len(tok)) % 1_000_000_007
        assert got == fp

    def test_language_id_picks_stopword_language(self, spark):
        df = spark.createDataFrame(
            [(1, "the cat and the dog is in the house"), (2, "el gato y la casa es de un perro")],
            "doc_id long, text string",
        )
        scored = TX.with_language_struct(TX.with_tokens(df))
        p = TX.language_struct_argmax(F.col(TX.LANG_ST)).alias("p")
        out = {r.doc_id: r.p for r in scored.select("doc_id", p).collect()}
        assert out == {1: "en", 2: "es"}


class TestRelevance:
    def test_tfidf_prefers_rare_terms(self, spark):
        """A term unique to one doc outranks the corpus-wide filler term
        even at equal tf; ranks are 1..k dense per doc."""
        docs = spark.createDataFrame(
            [(1, "common rare"), (2, "common common common"), (3, "common other common")],
            "doc_id long, text string",
        )
        out = _served_entry(spark, "text_tfidf_top_terms", documents=docs)
        by_doc = {}
        for r in out:
            by_doc.setdefault(r.doc_id, []).append((r.rank, r.term))
        assert sorted(by_doc[1]) == [(1, "rare"), (2, "common")]
        assert [t for _, t in sorted(by_doc[2])] == ["common"]  # only one distinct term
        for ranks in by_doc.values():
            assert [i for i, _ in sorted(ranks)] == list(range(1, len(ranks) + 1))

    def test_bm25_orders_by_match_and_saturates(self, spark):
        """More matching terms → higher score; tf saturation keeps a
        keyword-stuffed doc from dominating a doc matching MORE query
        terms; non-matching docs score 0. The entry's query terms are
        spark, vector and stream."""
        docs = spark.createDataFrame(
            [
                (1, "spark stream join"),  # 2 query terms
                (2, "spark spark spark spark spark join"),  # 1 term, stuffed
                (3, "table join group"),  # 0 terms
                (4, "spark join group"),  # 1 term
            ],
            "doc_id long, text string",
        )
        out = {r.doc_id: r.bm25 for r in _served_entry(spark, "text_bm25_search", documents=docs)}
        assert out[1] > out[2] > out[4] > out[3] == 0.0


class TestCompressionRatio:
    def test_repetitive_compresses_below_random(self, spark):
        import random

        rng = random.Random(7)
        noise = " ".join("".join(rng.choices("abcdefghij", k=8)) for _ in range(200))
        docs = spark.createDataFrame(
            [(1, "spam ham " * 800), (2, noise), (3, "spam ham " * 800)],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in TX.compression_ratio(docs).collect()}
        assert out[1].ratio < out[2].ratio  # boilerplate compresses far better
        assert out[1].n_compressed == out[3].n_compressed  # determinism
        assert all(0 < r.ratio <= 1.1 for r in out.values())
        assert out[2].n_bytes == len(noise.encode())


class TestCorpusAudit:
    def test_stats_card_values(self, spark):
        docs = spark.createDataFrame(
            [
                (1, "a b c", "en"),
                (2, "a b c", "en"),  # exact dup
                (3, "x y", "de"),
                (4, "p q r s", "en"),
            ],
            "doc_id long, text string, lang string",
        )
        (r,) = _served_entry(spark, "corpus_stats_card", documents=docs)
        assert (r.n_docs, r.total_tokens, r.n_unique_texts) == (4, 12, 3)
        assert r.dup_rate == 0.25
        assert (r.n_langs, r.top_lang, r.top_lang_frac) == (2, "en", 0.75)
        assert r.p50_tokens == 3.0  # interpolated over [2,3,3,4]

    def test_version_diff_all_statuses(self, spark):
        """The entry derives the new snapshot from the old: doc_id % 7 = 0
        is removed, % 5 = 0 gets ' v2' appended, and % 11 = 0 also gains a
        shifted copy (an added doc)."""
        docs = spark.createDataFrame(
            [(1, "a", "s1"), (5, "b", "s1"), (7, "c", "s2"), (11, "d", "s2")],
            "doc_id long, text string, source string",
        )
        out = {
            (r.source, r.status): r.n_docs
            for r in _served_entry(spark, "corpus_version_diff", documents=docs)
        }
        assert out == {
            ("s1", "unchanged"): 1,
            ("s1", "modified"): 1,
            ("s2", "removed"): 1,
            ("s2", "added"): 1,
            ("s2", "unchanged"): 1,
        }

    def test_version_diff_null_text_classified_by_presence(self, spark):
        """NULL-text docs present in both snapshots are unchanged (not
        'added' — digest nullness must not masquerade as absence), even
        where the derived snapshot's ' v2' edit touches them (doc 5)."""
        docs = spark.createDataFrame(
            [(1, None, "s"), (5, None, "s")], "doc_id long, text string, source string"
        )
        out = {
            (r.source, r.status): r.n_docs
            for r in _served_entry(spark, "corpus_version_diff", documents=docs)
        }
        assert out == {("s", "unchanged"): 2}

    def test_dedup_funnel_stage_accounting(self, spark):
        """Each tier removes exactly its own duplication mode and the
        funnel telescopes (n_out of k == n_in of k+1)."""
        docs = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta eps"),
                (2, "alpha beta gamma delta eps"),  # exact dup of 1
                (3, "Alpha, beta GAMMA  delta eps!"),  # normalized dup of 1
                (4, "alpha beta gamma delta zeta"),  # near dup of 1 (jaccard>=0.5)
                (5, "one two three four five six"),  # unique
            ],
            "doc_id long, text string",
        )
        rows = {r.stage: r for r in D.dedup_funnel(docs, threshold=0.5).collect()}
        assert (rows["1_raw"].n_in, rows["1_raw"].n_out) == (5, 5)
        assert (rows["2_exact"].n_removed, rows["2_exact"].n_out) == (1, 4)
        assert (rows["3_normalized"].n_removed, rows["3_normalized"].n_out) == (1, 3)
        assert (rows["4_near_dup"].n_removed, rows["4_near_dup"].n_out) == (1, 2)
        for a, b in (("1_raw", "2_exact"), ("2_exact", "3_normalized"), ("3_normalized", "4_near_dup")):
            assert rows[a].n_out == rows[b].n_in

    def test_per_source_cap_deterministic_and_capped(self, spark):
        """The entry keeps the 15 docs of each source first in md5(key)
        order, so the kept set does not depend on partitioning."""
        import hashlib

        docs = spark.createDataFrame(
            [(i, f"t{i}", "big" if i < 40 else "small") for i in range(60)],
            "doc_id long, text string, source string",
        )
        a = _served_entry(spark, "corpus_per_source_cap", documents=docs)
        b = _served_entry(spark, "corpus_per_source_cap", documents=docs.repartition(7))
        assert a == b  # partitioning-invariant selection
        by_src = {r.source: (r.n_kept, r.n_even) for r in a}
        for src, ids in (("big", range(40)), ("small", range(40, 60))):
            kept = sorted(ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))[:15]
            assert by_src[src] == (15, sum(i % 2 == 0 for i in kept))

    def test_centroid_outliers_flags_planted_vector(self, spark):
        """A vector pointing away from its tight cluster is the only
        flagged outlier; a clean cluster yields none."""
        rows = []
        # label 0: 20 near-identical vectors + 1 inverted outlier
        for i in range(20):
            rows.append((i, [1.0, 0.01 * i], 0))
        rows.append((99, [-1.0, 0.0], 0))
        # label 1: clean cluster only
        for i in range(10):
            rows.append((200 + i, [0.0, 1.0 + 0.001 * i], 1))
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
        out = _served_entry(spark, "emb_outlier_zscore", embeddings=emb)
        assert [(r.label, r.vec_id) for r in out] == [(0, 99)]
        assert out[0].z <= -2.0 and out[0].cos < 0


class TestMultimodal:
    def test_feature_histogram_matches_numpy(self, spark):
        import numpy as np

        docs = spark.createDataFrame([(1, "abc", "s")], "doc_id long, text string, source string")
        (out,) = _served_entry(spark, "multimodal_features", documents=docs)
        expected = np.bincount(np.frombuffer(b"abc", dtype=np.uint8) % 16, minlength=16)
        assert [out[f"f{i:02d}"] for i in range(16)] == expected.tolist()
        assert out.n_bytes == 3

    def test_frame_sampling_offsets(self, spark):
        docs = spark.createDataFrame([(1, "x" * 200, "s")], "doc_id long, text string, source string")
        frames = MM.frame_sample_plan(MM.synthesize_binary_docs(docs), every_n_bytes=64).collect()
        assert [(f.frame_idx, f.byte_offset) for f in frames] == [(0, 0), (1, 64), (2, 128)]

    def test_ppm_roundtrip_and_bmp_decode_agree(self):
        import numpy as np

        rng = np.random.default_rng(7)
        img = rng.integers(0, 256, (5, 3, 3), dtype=np.uint8)
        assert (MM.decode_image(MM.encode_ppm(img)) == img).all()
        # hand-built 24-bit bottom-up BI_RGB BMP of the same pixels
        h, w = img.shape[:2]
        stride = (w * 3 + 3) & ~3
        px = bytearray()
        for row in img[::-1]:  # bottom-up
            line = bytearray()
            for r, g, b in row:
                line += bytes([b, g, r])  # BGR
            px += line.ljust(stride, b"\0")
        header = (
            b"BM" + (54 + len(px)).to_bytes(4, "little") + b"\0\0\0\0"
            + (54).to_bytes(4, "little") + (40).to_bytes(4, "little")
            + w.to_bytes(4, "little") + h.to_bytes(4, "little")
            + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
            + b"\0" * 24
        )
        assert (MM.decode_image(header + bytes(px)) == img).all()

    def test_resize_nearest_and_codec_errors(self):
        import numpy as np
        import pytest as _pytest

        img = np.arange(8 * 4 * 3, dtype=np.uint8).reshape(8, 4, 3)
        small = MM.resize_nearest(img, 4)
        assert small.shape == (4, 2, 3) and (small[0, 0] == img[0, 0]).all()
        # truncated JPEG: clear error from the native codec
        with _pytest.raises(ValueError, match="JPEG"):
            MM.decode_image(b"\xff\xd8\xff\xe0rest")

    def test_png_roundtrip_all_filters(self):
        import numpy as np

        rng = np.random.default_rng(11)
        # 7 rows: filter cycle None,Sub,Up,Average,Paeth,None,Sub
        img = rng.integers(0, 256, (7, 5, 3), dtype=np.uint8)
        assert (MM.decode_image(MM.encode_png(img, cycle_filters=True)) == img).all()
        assert (MM.decode_image(MM.encode_png(img)) == img).all()

    def test_jpeg_roundtrip(self):
        import numpy as np
        from uquery_rs_spark.operators import jpeg as J

        # constant color at quality 100 is EXACT (the oracle-query property)
        img = np.full((16, 24, 3), 137, dtype=np.uint8)
        assert (J.decode_jpeg(J.encode_jpeg(img, quality=100)) == img).all()
        # odd (non-multiple-of-8) dims stay exact for constant content
        img = np.full((5, 11, 3), 200, dtype=np.uint8)
        dec = J.decode_jpeg(J.encode_jpeg(img, quality=100))
        assert dec.shape == (5, 11, 3) and (dec == 200).all()
        # smooth gradient: normal lossy error, bounded
        y, x = np.mgrid[0:40, 0:56]
        img = np.stack([(x * 3) % 256, (y * 4) % 256, ((x + y) * 2) % 256], 2).astype(np.uint8)
        dec = J.decode_jpeg(J.encode_jpeg(img, quality=90))
        mse = float(np.mean((dec.astype(np.float64) - img) ** 2))
        assert 10 * np.log10(255**2 / mse) > 35  # PSNR dB
        # decode_image dispatches on the JPEG magic
        assert MM.decode_image(J.encode_jpeg(img, quality=90)).shape == img.shape

    def test_jpeg_rejects_lossless(self):
        import pytest as _pytest
        from uquery_rs_spark.operators import jpeg as J

        sof3 = b"\xff\xd8" + b"\xff\xc3" + (10).to_bytes(2, "big") + b"\x08" + b"\x00" * 7
        with _pytest.raises(NotImplementedError, match="progressive"):
            J.decode_jpeg(sof3)

    def test_jpeg_progressive_matches_baseline_exactly(self):
        """Progressive (SOF2) is a reordering of the same quantized
        coefficients, so with every successive-approximation bit
        transmitted the decoded pixels must be IDENTICAL to the baseline
        encoding — a bit-exact cross-mode oracle for both codec paths."""
        import numpy as np
        from uquery_rs_spark.operators import jpeg as J

        rng = np.random.default_rng(42)
        for h, w, q in [(16, 16, 90), (23, 17, 75), (5, 11, 100), (64, 48, 50), (32, 32, 10)]:
            img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
            base = J.decode_jpeg(J.encode_jpeg(img, quality=q))
            prog = J.decode_jpeg(J.encode_jpeg_progressive(img, quality=q))
            assert (base == prog).all(), f"{h}x{w} q={q}"
        # smooth gradient: long zero runs exercise ZRL + EOB-run coding
        y, x = np.mgrid[0:48, 0:64]
        img = np.stack([(y * 3) % 256, (x * 5) % 256, ((x + y) * 2) % 256], 2).astype(np.uint8)
        base = J.decode_jpeg(J.encode_jpeg(img, quality=85))
        prog = J.decode_jpeg(J.encode_jpeg_progressive(img, quality=85))
        assert (base == prog).all()

    def test_jpeg_progressive_constant_exact(self):
        """Quality-100 constant images survive the progressive path
        exactly (the closed-form oracle property)."""
        import numpy as np
        from uquery_rs_spark.operators import jpeg as J

        for i in (3, 77, 200, 255):
            img = np.full((i % 7 + 4, i % 13 + 4, 3), i % 256, dtype=np.uint8)
            dec = J.decode_jpeg(J.encode_jpeg_progressive(img, quality=100))
            assert (dec == img).all()
        # decode_image dispatches progressive JPEGs on the same magic
        img = np.full((6, 9, 3), 90, dtype=np.uint8)
        assert (MM.decode_image(J.encode_jpeg_progressive(img, quality=100)) == img).all()

    def test_png_color_types(self):
        import numpy as np
        import zlib

        def chunk(tag, body):
            return (
                len(body).to_bytes(4, "big") + tag + body
                + (zlib.crc32(tag + body) & 0xFFFFFFFF).to_bytes(4, "big")
            )

        # 2x2 palette PNG (color type 3): indexes 0..3 into a 4-color PLTE
        plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 9, 9, 9])
        raw = bytes([0, 0, 1, 0, 2, 3])  # 2 scanlines, filter 0
        png = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", (2).to_bytes(4, "big") * 2 + bytes([8, 3, 0, 0, 0]))
            + chunk(b"PLTE", plte)
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )
        out = MM.decode_image(png)
        assert out.shape == (2, 2, 3)
        assert out[0, 0].tolist() == [255, 0, 0] and out[1, 1].tolist() == [9, 9, 9]

        # 2x1 gray+alpha (color type 4): alpha dropped, gray replicated
        raw = bytes([0, 10, 200, 250, 0])
        png = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", (2).to_bytes(4, "big") + (1).to_bytes(4, "big") + bytes([8, 4, 0, 0, 0]))
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )
        out = MM.decode_image(png)
        assert out.shape == (1, 2, 3)
        assert out[0, 0].tolist() == [10, 10, 10] and out[0, 1].tolist() == [250, 250, 250]

    def test_resize_images_reencodes_decodable_payloads(self, spark):
        import numpy as np

        img = np.arange(20 * 10 * 3, dtype=np.uint8).reshape(20, 10, 3)
        df = spark.createDataFrame(
            [(1, bytearray(MM.encode_ppm(img)), (0, "image/x-portable-pixmap", 10, 20))],
            "doc_id long, payload binary, meta struct<n_bytes: long, mime: string, width: int, height: int>",
        )
        out = MM.resize_images(df, max_dim=5).collect()[0]
        assert (out.meta.width, out.meta.height) == (2, 5)
        decoded = MM.decode_image(bytes(out.payload))
        assert decoded.shape == (5, 2, 3)
        assert (decoded == MM.resize_nearest(img, 5)).all()


class TestSkew:
    def test_salted_join_matches_plain_join(self, spark):
        from uquery_rs_spark.operators.skew import salted_join

        orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        customer = spark.read.parquet(f"{SF_SMALL}/customer.parquet")
        plain = orders.join(customer, orders.o_custkey == customer.c_custkey).select(
            "o_orderkey", "c_name"
        )
        salted = salted_join(
            orders.withColumnRenamed("o_custkey", "k"),
            customer.withColumnRenamed("c_custkey", "k"),
            on="k",
        ).select("o_orderkey", "c_name")
        assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))

    def test_salted_left_join_keeps_unmatched(self, spark):
        from uquery_rs_spark.operators.skew import salted_join

        left = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
        right = spark.createDataFrame([(1, "x")], "k int, w string")
        rows = {(r.k, r.v, r.w) for r in salted_join(left, right, "k", how="left").collect()}
        assert rows == {(1, "a", "x"), (2, "b", None)}

    def test_skew_stats_profile(self, spark):
        from uquery_rs_spark.operators.skew import skew_stats

        df = spark.createDataFrame([(1,)] * 98 + [(2,), (3,)], "k int")
        top = skew_stats(df, "k", top=1).collect()[0]
        assert top.k == 1 and top.n_rows == 98 and abs(top.pct_of_total - 98.0) < 0.01

    def test_top_key_share_detects_hot_key(self, spark):
        from uquery_rs_spark.operators.skew import top_key_share

        skewed = spark.createDataFrame([(1,)] * 300 + [(i,) for i in range(2, 102)], "k int")
        uniform = spark.createDataFrame([(i,) for i in range(400)], "k int")
        # denom=1 samples every row: exact shares
        assert top_key_share(skewed, "k", denom=1) > 0.5
        assert top_key_share(uniform, "k", denom=1) < 0.01
        # sample below min_sample -> no diagnosis
        assert top_key_share(uniform, "k", denom=1, min_sample=1000) == 0.0

    def test_plan_join_row_identical_both_paths(self, spark):
        from uquery_rs_spark.operators.skew import plan_join

        left_skew = spark.createDataFrame([(1, i) for i in range(300)] + [(2, 0)], "k int, v int")
        left_flat = spark.createDataFrame([(i, i) for i in range(300)], "k int, v int")
        right = spark.createDataFrame([(i, str(i)) for i in range(300)], "k int, w string")
        for left, threshold in ((left_skew, 0.2), (left_flat, 0.2)):
            planned = plan_join(left, right, "k")
            plain = left.join(right, "k")
            assert sorted(map(tuple, planned.collect())) == sorted(map(tuple, plain.collect()))

    def test_plan_join_salts_when_skewed(self, spark):
        from uquery_rs_spark.operators import skew

        left = spark.createDataFrame([(1, i) for i in range(300)], "k int, v int")
        right = spark.createDataFrame([(1, "x")], "k int, w string")
        picked = []
        orig = skew.salted_join

        def spy(*a, **kw):
            picked.append(True)
            return orig(*a, **kw)

        skew.salted_join = spy
        try:
            # denom=1, min_sample=1: sample everything -> 100% hot key
            out = skew.plan_join(left, right, "k", skew_threshold=0.5, denom=1, min_sample=1)
            # default denom=1000 on 300 rows: sample too small -> plain join
            plain_out = skew.plan_join(left, right, "k", skew_threshold=0.5)
        finally:
            skew.salted_join = orig
        assert picked == [True]
        assert sorted(r.v for r in out.collect()) == list(range(300))
        assert sorted(r.v for r in plain_out.collect()) == list(range(300))


class TestMultimodalResize:
    def test_resize_scales_meta_keeps_payload(self, spark):
        docs = spark.createDataFrame(
            [(1, "x" * 2000), (2, "y")], "doc_id long, text string"
        )
        binary = MM.synthesize_binary_docs(docs)
        out = {r.doc_id: r for r in MM.resize_images(binary, max_dim=100).collect()}
        orig = {r.doc_id: r for r in binary.collect()}
        for i in (1, 2):
            assert out[i].payload == orig[i].payload  # stub: payload untouched
            assert out[i].meta.width <= 100 and out[i].meta.height <= 100
            assert out[i].meta.n_bytes == orig[i].meta.n_bytes


class TestSimilarityEdges:
    def test_empty_query_side(self, spark):
        from uquery_rs_spark.operators import similarity as S

        emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
        empty = emb.filter("vec_id < 0")
        assert S.cosine_topk_bruteforce(empty, emb, k=3).count() == 0
        assert S.ivf_topk(empty, emb, k=3, n_cells=4, nprobe=2).count() == 0

    def test_empty_corpus_side(self, spark):
        from uquery_rs_spark.operators import similarity as S

        emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
        queries = emb.filter("vec_id < 5")
        empty = emb.filter("vec_id < 0")
        assert S.cosine_topk_bruteforce(queries, empty, k=3).count() == 0
        assert S.ivf_topk(queries, empty, k=3, n_cells=4, nprobe=2).count() == 0


class TestCorpusOps:
    def test_stratified_sample_deterministic_and_rated(self, spark):
        """The entry keeps src1 at 50% and any unlisted source at 5%."""
        docs = spark.range(10000).select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") % 2 == 0, "src1").otherwise("src9").alias("source"),
        )
        rows1 = _served_entry(spark, "corpus_stratified_mix", documents=docs)
        rows2 = _served_entry(spark, "corpus_stratified_mix", documents=docs.repartition(7))
        assert rows1 == rows2  # deterministic
        kept = {r.source: r.n_kept for r in rows1}
        assert 0.4 < kept["src1"] / 5000 < 0.6  # ~50% of src1
        assert 0.02 < kept["src9"] / 5000 < 0.08  # ~5% of the rest

    def test_dup_clusters_transitive(self, spark):
        from uquery_rs_spark.operators.dedup import dup_clusters

        pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 9)], "x long, y long")
        out = {r.id: r.canonical for r in dup_clusters(pairs).collect()}
        assert out == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}

    def test_pii_stats_and_redact(self, spark):
        # doc ids not divisible by 7: the entry leaves their text unsalted
        docs = spark.createDataFrame(
            [(1, "mail me at a.b@x.io or 555-123-4567"), (2, "clean text")],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in _served_entry(spark, "text_pii_scan", documents=docs)}
        assert out[1].n_email == 1 and out[1].n_phone == 1 and out[1].has_pii
        assert out[2].n_email == 0 and not out[2].has_pii
        assert out[1].redacted == "mail me at <EMAIL> or <PHONE>"
        assert out[2].redacted == "clean text"


class TestQuantization:
    def test_quantize_int8_bounds_and_zero_rows(self):
        import numpy as np

        A = np.array([[0.5, -1.0, 0.25], [0.0, 0.0, 0.0]])
        Q, scale = S.quantize_int8(A)
        assert Q.dtype == np.int8
        assert Q.max() <= 127 and Q.min() >= -127
        assert (Q[1] == 0).all() and scale[1, 0] == 1.0  # zero row guarded
        # reconstruction error bounded by scale/2 per component
        err = np.abs(Q[0] * scale[0, 0] - A[0])
        assert (err <= scale[0, 0] / 2 + 1e-12).all()

    def test_int8_topk_recall_vs_exact(self, spark):
        emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
        queries = emb.filter(F.col("vec_id") < 30)
        exact = {
            (r.query_id, r.neighbor_id)
            for r in S.cosine_topk_bruteforce(queries, emb, k=5).collect()
        }
        quant = {
            (r.query_id, r.neighbor_id)
            for r in S.cosine_topk_bruteforce(queries, emb, k=5, int8=True).collect()
        }
        recall = len(exact & quant) / len(exact)
        assert recall >= 0.9, f"int8 recall@5 below bound: {recall}"


class TestContaminationAndSplit:
    def test_contamination_finds_planted_overlap(self, spark):
        docs = spark.createDataFrame(
            [
                (1, "bench", "a b c d e f g h i j"),
                (2, "web", "x " + "a b c d e f g h" + " y"),  # shares the 8-gram
                (3, "web", "p q r s t u v w x y"),  # disjoint
                (4, "web", "short text"),  # < 8 tokens
            ],
            "doc_id long, source string, text string",
        )
        hits = {
            r.doc_id: r.n_hit
            for r in D.contamination_hits(docs, F.col("source") == "bench").collect()
        }
        assert hits == {2: 1}

    def test_hash_split_deterministic_partition(self, spark):
        from uquery_rs_spark.operators.corpus import hash_split

        docs = spark.range(2000).select(F.col("id").alias("doc_id"))
        out = hash_split(docs)
        frac = out.filter("split = 'train'").count() / 2000
        assert 0.9 < frac < 0.98  # ~243/256
        # membership is a pure row function: repartitioning doesn't change it
        a = {r.doc_id: r.split for r in out.collect()}
        b = {r.doc_id: r.split for r in hash_split(docs.repartition(13)).collect()}
        assert a == b

    def test_repetition_flags_loops(self, spark):
        docs = spark.createDataFrame(
            [
                (1, "spam ham " * 20),
                (2, " ".join(f"w{i}" for i in range(40))),
                # no bigrams: empty, one-token and NULL docs drop out
                # (0/0 must not raise DIVIDE_BY_ZERO under ANSI)
                (3, ""),
                (4, "solo"),
                (5, None),
            ],
            "doc_id long, text string",
        )
        docs = docs.select("doc_id", F.trim("text").alias("text"))
        out = {r.doc_id: r.top_bigram_frac for r in TX.repetition_stats(docs).collect()}
        assert 1 in out and out[1] > 0.4  # "spam ham" dominates
        assert 2 not in out  # all-distinct bigrams stay below threshold
        assert not {3, 4, 5} & set(out)


class TestPersistentIvf:
    def test_build_probe_recall_and_partition_pruning(self, spark, tmp_path):
        emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
        idx = str(tmp_path / "ivf_index")
        S.ivf_build_index(emb, idx, n_cells=16)
        queries = emb.filter(F.col("vec_id") < 30)

        out = S.ivf_probe_index(spark, idx, queries, k=5, nprobe=12)
        exact = {
            (r.query_id, r.neighbor_id)
            for r in S.cosine_topk_bruteforce(queries, emb, k=5).collect()
        }
        approx = {(r.query_id, r.neighbor_id) for r in out.collect()}
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.9, f"persistent-IVF recall@5: {recall}"

        # the scale property: unprobed cells are pruned at the SCAN, not
        # filtered afterwards — the partition filter must reach parquet.
        one_q = emb.filter(F.col("vec_id") == 0)
        probe_df = S.ivf_probe_index(spark, idx, one_q, k=5, nprobe=2)
        plan = probe_df._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters", 1)[1][:200]

    def test_probe_matches_inline_ivf_shape(self, spark, tmp_path):
        emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
        idx = str(tmp_path / "ivf_index2")
        S.ivf_build_index(emb, idx, n_cells=8)
        empty = emb.filter("vec_id < 0")
        assert S.ivf_probe_index(spark, idx, empty, k=3, nprobe=2).count() == 0
        # nprobe >= n_cells degrades to exact over all cells
        queries = emb.filter(F.col("vec_id") < 10)
        allcells = {
            (r.query_id, r.neighbor_id)
            for r in S.ivf_probe_index(spark, idx, queries, k=5, nprobe=8).collect()
        }
        exact = {
            (r.query_id, r.neighbor_id)
            for r in S.cosine_topk_bruteforce(queries, emb, k=5).collect()
        }
        assert allcells == exact


class TestShuffleOrderAndBuckets:
    def test_shuffle_order_distributed_rank_matches_naive(self, spark):
        from pyspark.sql import Window as W

        from uquery_rs_spark.operators.corpus import shuffle_order

        docs = spark.range(5000).select(F.col("id").alias("doc_id")).repartition(7)
        got = {r.doc_id: r.shuffle_rank for r in shuffle_order(docs).collect()}
        naive = {
            r.doc_id: r.rk
            for r in docs.withColumn(
                "rk",
                F.row_number().over(
                    W.orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
                ),
            ).collect()
        }
        assert got == naive
        assert sorted(got.values()) == list(range(1, 5001))  # contiguous, no dups

    def test_shuffle_order_honors_bucket_count(self, spark):
        """Intermediate n_buckets (256 < n < 65536) must produce the
        REQUESTED granularity (not a forced 65536) while keeping ranks
        identical to the naive global order — the equi-width prefix
        ranges are monotone in the hash for any n_buckets."""
        from pyspark.sql import Window as W

        from uquery_rs_spark.operators.corpus import shuffle_order

        docs = spark.range(3000).select(F.col("id").alias("doc_id"))
        naive = {
            r.doc_id: r.rk
            for r in docs.withColumn(
                "rk",
                F.row_number().over(
                    W.orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
                ),
            ).collect()
        }
        for n_buckets in (7, 1024, 65536):
            got = {
                r.doc_id: r.shuffle_rank
                for r in shuffle_order(docs, n_buckets=n_buckets).collect()
            }
            assert got == naive, f"rank mismatch at n_buckets={n_buckets}"
        import pytest as _pytest

        with _pytest.raises(ValueError):
            shuffle_order(docs, n_buckets=65537)

    def test_shuffle_order_no_single_partition_window(self, spark):
        from uquery_rs_spark.operators.corpus import shuffle_order

        docs = spark.range(100).select(F.col("id").alias("doc_id"))
        plan = shuffle_order(docs)._jdf.queryExecution().executedPlan().toString()
        # the window must be partitioned on _pid — a global (unpartitioned)
        # window spec would funnel the whole corpus into one task
        spec = plan.split("windowspecdefinition(", 1)[1][:80]
        assert "_b" in spec, spec


class TestIncrementalDedup:
    def test_delta_flags_near_dups_vs_base(self, spark):
        # the entry reads source 'src18' as the delta, every other source as base
        docs = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog today", "src0"),
             (2, "completely different words about large scale engines here", "src0"),
             (10, "the quick brown fox jumps over the lazy dog tonight", "src18"),  # near-dup of 1
             (11, "entirely novel content never seen in the base corpus", "src18")],
            "doc_id long, text string, source string",
        )
        out = {r.doc_id: (r.n_dup_partners, r.kept)
               for r in _served_entry(spark, "dedup_incremental_delta", documents=docs)}
        assert out == {10: (1, False), 11: (0, True)}

    def test_delta_broadcast_side(self, spark):
        df = Q.REGISTRY["dedup_incremental_delta"].spark_fn(spark, SF_SMALL)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan


class TestStagedMinhash:
    def test_staged_equals_pipelined(self, spark, tmp_path):
        docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        staged = {
            (r.x, r.y, r.jaccard)
            for r in D.minhash_lsh_staged(
                docs, str(tmp_path / "mh"), threshold=0.5
            ).collect()
        }
        pipelined = {
            (r.x, r.y, r.jaccard)
            for r in D.minhash_lsh_pairs(docs, threshold=0.5).collect()
        }
        assert staged == pipelined and len(staged) > 0

    def test_auto_dispatch_both_branches(self, spark, tmp_path):
        """minhash_lsh_auto picks pipelined below the size cutover and
        staged above it (forced by degenerate thresholds); both branches
        produce the shared output contract."""
        docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        small = D.minhash_lsh_auto(docs, threshold=0.5)  # default: pipelined
        forced = D.minhash_lsh_auto(
            docs, threshold=0.5, workdir=str(tmp_path / "auto"), staged_above_bytes=0
        )
        assert {(r.x, r.y, r.jaccard) for r in small.collect()} == {
            (r.x, r.y, r.jaccard) for r in forced.collect()
        }
        # staged branch proves it ran by materializing candidates
        import os

        assert os.path.isdir(str(tmp_path / "auto" / "candidates"))


class TestVideoFrameSample:
    def test_every_frame_vs_sampled(self, spark):
        docs = spark.createDataFrame([(7,), (12,)], "doc_id long")
        vids = MM.synthesize_video_docs(docs)
        all_f = MM.sample_video_frames(vids, every=1).collect()
        some_f = MM.sample_video_frames(vids, every=2).collect()
        n_frames = {r.doc_id: r for r in all_f}
        assert {r.doc_id for r in all_f} == {7, 12}
        assert len([r for r in all_f if r.doc_id == 7]) == 7 % 5 + 2
        assert len([r for r in all_f if r.doc_id == 12]) == 12 % 5 + 2
        sampled_idx = {(r.doc_id, r.frame_idx) for r in some_f}
        assert sampled_idx == {(d, f) for (d, f) in
                               ((r.doc_id, r.frame_idx) for r in all_f) if f % 2 == 0}
        # frame pixels differ across frames: lum depends on frame_idx
        lums7 = [r.mean_lum for r in sorted(all_f, key=lambda r: (r.doc_id, r.frame_idx)) if r.doc_id == 7]
        assert len(set(lums7)) > 1

    def test_truncated_header_raises_not_hangs(self):
        """A header cut off mid-token must raise, not scan past EOF (the
        byte-slice-at-EOF loop would otherwise never terminate)."""
        import pytest as _pytest

        for payload in (b"P6", b"P6 12", b"P6 12 34", b"P6 12 34 255"):
            with _pytest.raises(ValueError):
                MM._frame_header(payload, 0)


class TestAudio:
    def test_wav_roundtrip_and_chunk_walk(self):
        import numpy as np
        import struct

        s = np.array([-1000, 0, 999, 32767, -32768], dtype=np.int64)
        wav = MM._encode_wav(s, rate=44100)
        out, rate = MM._decode_wav(wav)
        assert rate == 44100 and (out == s).all()
        # extra chunk between fmt and data must be skipped (word-aligned)
        head, data_chunk = wav[:36], wav[36:]
        extra = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"  # padded odd chunk
        out2, _ = MM._decode_wav(head + extra + data_chunk)
        assert (out2 == s).all()

    def test_stereo_rejected(self):
        import struct

        fmt = struct.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
        wav = (b"RIFF" + struct.pack("<I", 36) + b"WAVE"
               + b"fmt " + struct.pack("<I", 16) + fmt
               + b"data" + struct.pack("<I", 0))
        import pytest as _pytest

        with _pytest.raises(NotImplementedError):
            MM._decode_wav(wav)


class TestStreamingDedup:
    def test_watermark_variant_matches_exact(self, spark):
        """dropDuplicatesWithinWatermark (bounded state, the at-scale flip
        documented in run_dedup_stream) must agree with the exact
        unbounded-state dedup on the finite events workload."""
        from uquery_rs_spark.streaming.jobs import run_dedup_stream

        exact = {
            (r.event_type, r.n_unique_keys)
            for r in run_dedup_stream(spark, SF_SMALL).collect()
        }
        bounded = {
            (r.event_type, r.n_unique_keys)
            for r in run_dedup_stream(spark, SF_SMALL, within_watermark="2 hours").collect()
        }
        assert exact == bounded and exact


class TestSemanticDedup:
    def test_sound_and_deterministic(self, spark):
        """Every SemDeDup-removed vector must have an exact over-threshold
        partner (soundness), groups keep their lowest id, and a re-run
        reproduces the identical removal set (seed-free determinism)."""
        from uquery_rs_spark.queries.registry import load_tables

        emb = load_tables(spark, SF_SMALL)["embeddings"]
        out = S.semantic_dedup(emb, threshold=0.4, n_cells=4).toPandas()
        again = S.semantic_dedup(emb, threshold=0.4, n_cells=4).toPandas()
        assert sorted(out[out.removed]["id"]) == sorted(again[again.removed]["id"])
        exact = S.cosine_pairs_blocked(emb, threshold=0.4).toPandas()
        dup_verts = set(exact.x) | set(exact.y)
        removed = set(out[out.removed]["id"])
        assert removed <= dup_verts
        # canonical is the group's lowest id and is itself kept
        kept = set(out[~out.removed]["id"])
        by_id = dict(zip(out.id, out.dup_of))
        for rid in removed:
            assert by_id[rid] < rid and by_id[rid] in kept

    def test_single_cell_equals_exact_components(self, spark):
        """n_cells=1 degenerates to exact all-pairs dedup: removed count =
        n_dup_vertices - n_connected_components of the exact pair graph."""
        from uquery_rs_spark.queries.registry import load_tables

        emb = load_tables(spark, SF_SMALL)["embeddings"]
        out = S.semantic_dedup(emb, threshold=0.4, n_cells=1).toPandas()
        exact = S.cosine_pairs_blocked(emb, threshold=0.4).toPandas()
        parent: dict[int, int] = {}

        def find(a):
            parent.setdefault(a, a)
            while parent[a] != a:
                parent[a] = parent[parent[a]]
                a = parent[a]
            return a

        for x, y in zip(exact.x, exact.y):
            rx, ry = find(int(x)), find(int(y))
            if rx != ry:
                parent[max(rx, ry)] = min(rx, ry)
        n_components = len({find(v) for v in parent})
        n_verts = len(set(exact.x) | set(exact.y))
        assert int(out.removed.sum()) == n_verts - n_components


class TestAsofDirections:
    def test_forward(self, spark):
        left = spark.createDataFrame([(1, 10), (1, 20)], "k int, t int")
        right = spark.createDataFrame([(1, 15, "a"), (1, 25, "b")], "k int, t int, v string")
        rows = {r.t: r.v for r in asof_join(left, right, on="t", by="k", direction="forward").collect()}
        assert rows == {10: "a", 20: "b"}

    def test_forward_inclusive_same_ts(self, spark):
        left = spark.createDataFrame([(1, 10)], "k int, t int")
        right = spark.createDataFrame([(1, 10, "same")], "k int, t int, v string")
        out = asof_join(left, right, on="t", by="k", direction="forward").collect()
        assert out[0].v == "same"

    def test_nearest_tie_goes_backward(self, spark):
        left = spark.createDataFrame([(1, 10)], "k int, t int")
        right = spark.createDataFrame([(1, 5, "b"), (1, 15, "f")], "k int, t int, v string")
        out = asof_join(left, right, on="t", by="k", direction="nearest").collect()
        assert out[0].v == "b"  # equidistant -> backward (merge_asof convention)

    def test_nearest_one_sided(self, spark):
        left = spark.createDataFrame([(1, 10), (1, 100)], "k int, t int")
        right = spark.createDataFrame([(1, 90, "only")], "k int, t int, v string")
        rows = {r.t: r.v for r in asof_join(left, right, on="t", by="k", direction="nearest").collect()}
        assert rows == {10: "only", 100: "only"}

    def test_null_payload_on_matched_row_stays_null(self, spark):
        """A NULL payload on the matched (nearest) right row must come
        through as NULL — not be back-filled from a farther right row
        (pandas merge_asof: timestamp and values from the SAME row)."""
        left = spark.createDataFrame([(1, 10)], "k int, t int")
        right = spark.createDataFrame(
            [(1, 3, "far"), (1, 9, None), (1, 50, "fwd")], "k int, t int, v string"
        )
        for direction in ("backward", "nearest"):
            out = asof_join(left, right, on="t", by="k", direction=direction).collect()
            assert out[0].v is None, direction

    def test_nearest_null_payload_does_not_flip_direction(self, spark):
        """Direction choice compares distances of the nearest rows even
        when the backward row's payload is NULL (row-level matching)."""
        left = spark.createDataFrame([(1, 10)], "k int, t int")
        right = spark.createDataFrame(
            [(1, 9, None), (1, 12, "fwd")], "k int, t int, v string"
        )
        out = asof_join(left, right, on="t", by="k", direction="nearest").collect()
        assert out[0].v is None  # backward row (gap 1) beats forward (gap 2)

    def test_bad_direction_raises(self, spark):
        left = spark.createDataFrame([(1, 10)], "k int, t int")
        import pytest as _pytest

        with _pytest.raises(ValueError):
            asof_join(left, left, on="t", by="k", direction="sideways")


class TestPQTopk:
    def test_recall_and_determinism(self, spark):
        """PQ prune + exact refine must recover >= 0.9 of the exact top-5
        (measured 1.0 on this corpus) and reproduce identically."""
        from uquery_rs_spark.queries.registry import load_tables

        emb = load_tables(spark, SF_SMALL)["embeddings"]
        q = emb.filter(F.col("vec_id") < 50)
        approx = S.cosine_topk_pq(q, emb, k=5, m=8, n_codes=16).toPandas()
        again = S.cosine_topk_pq(q, emb, k=5, m=8, n_codes=16).toPandas()
        assert sorted(map(tuple, approx.values.tolist())) == sorted(
            map(tuple, again.values.tolist())
        )
        exact = S.cosine_topk_bruteforce(q, emb, k=5).toPandas()
        a = set(zip(approx.query_id, approx.neighbor_id))
        e = set(zip(exact.query_id, exact.neighbor_id))
        assert len(a & e) / len(e) >= 0.9


class TestBPE:
    def test_classic_merge_order(self, spark):
        """Sennrich's worked example: first merges on the low/lower/
        newest/widest corpus are (e,s), (es,t), (l,o), (lo,w) —
        hand-derived pair counts, ties to the lexicographically
        smallest pair."""
        words = ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
        docs = spark.createDataFrame(
            [(1, " ".join(words))], "doc_id long, text string"
        )
        merges = TX.bpe_train(docs, n_merges=4)
        assert merges == [("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w")]

    def test_encode_counts_hand_checked(self, spark):
        """'lowest' under those merges tokenizes to [low, est] = 2; 'low'
        to [low] = 1; unseen chars stay singletons."""
        train = spark.createDataFrame(
            [(1, " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3))],
            "doc_id long, text string",
        )
        merges = TX.bpe_train(train, n_merges=4)
        docs = spark.createDataFrame(
            [(1, "lowest low"), (2, "zq")], "doc_id long, text string"
        )
        got = {r.doc_id: (r.n_words, r.n_bpe_tokens)
               for r in TX.bpe_encode_counts(docs, merges).collect()}
        assert got == {1: (2, 3), 2: (1, 2)}

    def test_train_deterministic_and_compresses(self, spark):
        from uquery_rs_spark.queries.registry import load_tables

        docs = load_tables(spark, SF_SMALL)["documents"]
        m1 = TX.bpe_train(docs, n_merges=30)
        m2 = TX.bpe_train(docs, n_merges=30)
        assert m1 == m2 and len(m1) == 30
        out = TX.bpe_encode_counts(docs, m1).toPandas()
        import numpy as np

        chars = docs.selectExpr(
            "sum(length(replace(text, ' ', ''))) AS c"
        ).collect()[0].c
        assert out.n_bpe_tokens.sum() < 0.7 * chars  # merges actually fire
        # (measured 0.645 at 30 merges on sf0.001; no-merge ratio is 1.0)
        assert (out.n_bpe_tokens >= out.n_words).all()

    def test_apply_ids_hand_checked(self, spark):
        """bpe_apply (round 9): 'lowest low' under the Sennrich merges
        -> [low, e?, ...] ids. With merges [(e,s),(es,t),(l,o),(lo,w)]:
        'lowest' -> [low, est] ids [0x110000+3, 0x110000+1]; 'low' ->
        [low]; unseen chars get codepoint ids ('z'=122, 'q'=113)."""
        train = spark.createDataFrame(
            [(1, " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3))],
            "doc_id long, text string",
        )
        merges = TX.bpe_train(train, n_merges=4)
        docs = spark.createDataFrame(
            [(1, "lowest low"), (2, "zq")], "doc_id long, text string"
        )
        got = {
            r.doc_id: (r.n_words, r.n_tokens, list(r.tokens))
            for r in TX.bpe_apply(docs, merges).collect()
        }
        B = 0x110000
        assert got == {
            1: (2, 3, [B + 3, B + 1, B + 3]),
            2: (1, 2, [122, 113]),
        }

    def test_apply_chain_merge_binary_decomposition(self, spark):
        """The closed form behind the text_bpe_apply_ids oracle:
        left-to-right non-overlapping chain merges decompose a run of
        k 'a's into its binary expansion, descending."""
        docs = spark.createDataFrame(
            [(1, "a" * 13), (2, "a" * 12 + " " + "a" * 7)],
            "doc_id long, text string",
        )
        merges = [("a", "a"), ("aa", "aa"), ("aaaa", "aaaa")]
        got = {
            r.doc_id: list(r.tokens) for r in TX.bpe_apply(docs, merges).collect()
        }
        B = 0x110000
        assert got[1] == [B + 2, B + 1, 97]          # 13 = 8+4+1
        assert got[2] == [B + 2, B + 1, B + 1, B, 97]  # 12 = 8+4 ; 7 = 4+2+1


class TestHardenedPaths:
    def test_jpeg_fill_bytes_before_marker(self):
        """T.81 B.1.1.2 allows runs of 0xFF fill bytes before any marker;
        the resync scan must treat them as padding, not as a marker at
        the first FF (which would parse code 0xFF + garbage length)."""
        import numpy as np
        from uquery_rs_spark.operators import jpeg as J

        rng = np.random.default_rng(7)
        img = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
        payload = J.encode_jpeg_progressive(img, quality=90)
        # every raw FF DA is a real SOS (entropy data stuffs FF as FF00);
        # pad fill bytes before the LAST scan's SOS
        idx = payload.rindex(b"\xff\xda")
        padded = payload[:idx] + b"\xff\xff\xff" + payload[idx:]
        assert (J.decode_jpeg(padded) == J.decode_jpeg(payload)).all()

    def test_load_tables_two_dirs_one_session(self, spark, tmp_path):
        """Loading a nanos-timestamp dir then a micros dir in ONE session
        must leave the first dir's cached frames usable (the round-3
        per-dir conf flip broke them at re-scan time)."""
        import os
        import pyarrow as pa
        import pyarrow.parquet as pq

        from uquery_rs_spark.queries.registry import TABLES, load_tables

        src = SF_SMALL
        nsdir = tmp_path / "nsdir"
        nsdir.mkdir()
        for t in TABLES:
            if t != "events":
                os.symlink(f"{src}/{t}.parquet", nsdir / f"{t}.parquet")
        tbl = pq.read_table(f"{src}/events.parquet")
        i = tbl.schema.get_field_index("ts")
        tbl = tbl.set_column(i, "ts", tbl["ts"].cast(pa.timestamp("ns")))
        pq.write_table(tbl, nsdir / "events.parquet", version="2.6")

        ns_events = load_tables(spark, str(nsdir))["events"]
        n_first = ns_events.count()
        assert dict(ns_events.dtypes)["ts"] == "timestamp_ntz"
        load_tables(spark, src)  # micros dir second
        # the ns dir's cached frame must still execute
        assert ns_events.count() == n_first > 0
        assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"


class TestC4Quality:
    def test_line_and_page_rules(self, spark):
        # doc ids 1-5 take none of the entry's injected braces / lorem
        # markers, and no text holds its ' table '/' line '/' spark ' cues
        rows = [
            # 3 good lines -> pass
            (1, "one two three four five.\nsix seven eight nine ten!\n"
                'eleven twelve thirteen fourteen fifteen?'),
            # good lines but a curly brace -> page reject
            (2, "one two three four five.\nsix seven eight nine ten.\n"
                "a b c d e. {"),
            # lorem ipsum -> page reject
            (3, "one two three four five.\nsix seven eight nine ten.\n"
                "lorem ipsum dolor sit amet."),
            # line rules: no terminal punct / <5 words / javascript
            (4, "no punctuation here at all\nshort line.\n"
                "enable javascript to view this page.\n"
                "this perfectly fine row survives."),
            (5, ""),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r.doc_id: r for r in _served_entry(spark, "text_c4_quality", documents=df)}
        assert out[1].c4_pass and out[1].n_kept_lines == 3
        assert not out[2].c4_pass and out[2].has_brace
        # page 3: 'lorem ipsum dolor sit amet.' is ALSO a kept line
        # (5 words, terminal punct) — the page still rejects
        assert not out[3].c4_pass and out[3].has_lorem
        assert out[4].n_kept_lines == 1
        assert out[4].cleaned_text == "this perfectly fine row survives."
        assert out[5].n_kept_lines == 0 and out[5].cleaned_text == ""


def _served_urls(spark, name, urls):
    """A web_* entry's served text with its synthesized URL expression
    replaced by the ``url`` column of the hand-made ``urls`` table."""
    from uquery_rs_spark.queries.llm_q import _URL_SYNTH_SQL

    sql = Q.REGISTRY[name].oracle.replace(_URL_SYNTH_SQL, "url")
    return served(spark, sql, documents=urls)


class TestWebUrl:
    def test_canonicalize_parts(self, spark):
        df = spark.createDataFrame(
            [
                (1, "HTTPS://WWW.Sub.Example.CO.UK:443/a/b/?utm_source=x&q=1&fbclid=z#f"),
                (2, "http://example.com:80"),
                (3, "http://example.com/path?ref=homepage"),
                (4, "https://localhost/x"),
            ],
            "doc_id long, url string",
        )
        out = {r.doc_id: r for r in _served_urls(spark, "web_url_canonicalize", df)}
        r1 = out[1]
        assert r1.url_scheme == "https"
        assert r1.url_host == "sub.example.co.uk"  # www+port stripped, lowered
        assert r1.url_path == "/a/b"               # trailing slash dropped
        assert r1.url_query == "q=1"               # tracking params dropped, order kept
        assert r1.url_canonical == "https://sub.example.co.uk/a/b?q=1"
        assert r1.url_domain == "example.co.uk"    # two-level public suffix
        r2 = out[2]
        assert r2.url_host == "example.com" and r2.url_path == "/"
        assert r2.url_canonical == "http://example.com/"
        # all parameters are tracking ones: no query (array_to_string of an
        # empty list is NULL in DuckDB and in the served text)
        assert out[3].url_query is None and out[3].url_canonical == "http://example.com/path"
        assert out[4].url_domain == "localhost"    # single-label host

    def test_blocklist_broadcast_anti(self, spark):
        # src0corp.com is on the entry's blocklist
        docs = spark.createDataFrame(
            [(1, "http://a.src0corp.com/x"), (2, "http://ok.org/y")], "doc_id long, url string"
        )
        kept = _served_urls(spark, "web_domain_blocklist", docs)
        assert [(r.url_domain, r.n_docs) for r in kept] == [("ok.org", 1)]
        df = Q.REGISTRY["web_domain_blocklist"].spark_fn(spark, SF_SMALL)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the corpus side must NOT reshuffle: broadcast left-anti join
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_gif_codec_roundtrip():
    """Round 8: GIF89a encoder/decoder — real LZW (dictionary growth,
    width bumps, 12-bit cap with CLEAR resets) plus 4-pass interlace,
    stdlib+numpy only."""
    import numpy as np

    from uquery_rs_spark.operators.multimodal import decode_image, encode_gif

    rng = np.random.default_rng(7)
    for _ in range(10):
        h, w = int(rng.integers(1, 40)), int(rng.integers(2, 40))
        v = rng.integers(0, 256, (h, w)).astype(np.uint8)
        img = np.repeat(v[:, :, None], 3, axis=2)
        assert (decode_image(encode_gif(img)) == img).all()
        assert (decode_image(encode_gif(img, interlace=True)) == img).all()
    # 12-bit-cap + CLEAR-reset stress (dictionary > 4096 entries)
    big = rng.integers(0, 256, (200, 211)).astype(np.uint8)
    img = np.repeat(big[:, :, None], 3, axis=2)
    assert (decode_image(encode_gif(img)) == img).all()


class TestDsir:
    def test_dsir_matches_pure_python(self, spark):
        """dsir_importance_weights reproduces a from-scratch NumPy-free
        recomputation of Xie et al. 2023 §3 (hashed n-gram LLR with
        add-1 smoothing) on a 6-doc corpus, and ranks target-domain
        text above raw-only text."""
        import hashlib
        import math

        from pyspark.sql import functions as F

        from uquery_rs_spark.operators.corpus import dsir_importance_weights

        rows = [
            (1, "the quick brown fox jumps", True),
            (2, "the quick brown dog sleeps", True),
            (3, "la rapida zorra marron salta", False),
            (4, "der schnelle braune fuchs springt", False),
            (5, "the quick brown fox runs", False),
            (6, "", False),
        ]
        docs = spark.createDataFrame(rows, "doc_id int, text string, is_t boolean")
        out = {
            r.doc_id: r
            for r in dsir_importance_weights(
                docs, F.col("is_t"), n_buckets=256, text_col="text"
            ).collect()
        }

        B, alpha = 256, 1.0

        def grams(text):
            w = text.split(" ")
            return w + [f"{a} {b}" for a, b in zip(w, w[1:])]

        def bucket(g):
            return int(hashlib.md5(g.encode()).hexdigest()[:4], 16) % B

        t_cnt, r_cnt = [0] * B, [0] * B
        for _id, text, is_t in rows:
            for g in grams(text):
                b = bucket(g)
                r_cnt[b] += 1
                if is_t:
                    t_cnt[b] += 1
        t_tot, r_tot = sum(t_cnt) + alpha * B, sum(r_cnt) + alpha * B
        for _id, text, _is_t in rows:
            want = sum(
                math.log((t_cnt[bucket(g)] + alpha) / t_tot)
                - math.log((r_cnt[bucket(g)] + alpha) / r_tot)
                for g in grams(text)
            )
            assert abs(out[_id].weight - want) < 1e-9, (_id, out[_id].weight, want)
            assert out[_id].n_grams == len(grams(text))
        # ranking invariant (absolute sign is smoothing-dominated at toy
        # scale): the held-out English doc outranks both foreign docs
        assert out[5].weight > out[3].weight
        assert out[5].weight > out[4].weight


class TestPca:
    def test_pca_matches_numpy_exactly(self, spark):
        """pca_project == from-scratch numpy PCA (population covariance,
        eigh, canonical largest-|entry|-positive signs) to 1e-8; Bessel
        residual nonnegative; captured ratio equals the eigenvalue
        ratio."""
        import numpy as np

        rng = np.random.default_rng(7)
        d, n = 6, 40
        # anisotropic data so components are well-separated
        A = rng.normal(size=(n, d)) @ np.diag([5, 3, 1, 0.5, 0.2, 0.1])
        rows = [(i, [float(x) for x in A[i]]) for i in range(n)]
        emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")

        from uquery_rs_spark.operators.similarity import pca_project

        got = {r.vec_id: r for r in pca_project(emb, n_components=2).collect()}

        mean = A.mean(axis=0)
        cov = (A - mean).T @ (A - mean) / n
        evals, evecs = np.linalg.eigh(cov)
        order = np.argsort(evals)[::-1][:2]
        comps = []
        for j in order:
            c = evecs[:, j]
            if c[np.argmax(np.abs(c))] < 0:
                c = -c
            comps.append(c)
        want = (A - mean) @ np.stack(comps).T
        captured = evals[order].sum() / np.trace(cov)
        for i in range(n):
            assert abs(got[i].pc1 - want[i, 0]) < 1e-8
            assert abs(got[i].pc2 - want[i, 1]) < 1e-8
            assert got[i].sq_resid >= -1e-9
            assert abs(got[i].var_captured_ratio - captured) < 1e-9


class TestR14BuildOptimizations:
    """r14: expression memoization, stats-based spread, and the matmul
    spread guard — internals changed for plan-build cost; these pin that
    behavior (and results) are unchanged."""

    def test_cached_expr_returns_same_object_and_same_results(self, spark):
        from uquery_rs_spark.functions.expr import cached_expr
        from uquery_rs_spark.operators.dedup import _shingles_cached

        a = _shingles_cached("text", 3)
        b = _shingles_cached("text", 3)
        assert a is b  # process-wide memo hit
        assert _shingles_cached("text", 4) is not a  # parameter-keyed
        docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        fresh = D.word_shingles(F.col("text"), 3)
        mism = (
            docs.select(a.alias("m"), fresh.alias("r"))
            .filter(F.col("m") != F.col("r"))
            .count()
        )
        assert mism == 0

    def test_spread_stats_path_repartitions_small_scan(self, spark):
        """A one-split parquet scan must still be fanned to the session
        parallelism by the stats-based estimate (no RDD conversion)."""
        from uquery_rs_spark.functions.expr import spread

        docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        out = spread(docs)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "Repartition" in plan
        target = spark.sparkContext.defaultParallelism
        assert out.rdd.getNumPartitions() == target

    def test_spread_unknown_stats_falls_back_to_exact(self, spark):
        """RDD-backed frames report effectively-infinite stats; spread
        must fall back to the exact partition probe, not repartition a
        frame that already has enough partitions."""
        from uquery_rs_spark.functions.expr import spread

        target = spark.sparkContext.defaultParallelism
        rdd_df = spark.range(0, 1000, 1, target + 4).rdd.map(
            lambda r: (r.id,)
        ).toDF("id: bigint")
        assert int(
            rdd_df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        ) >= (1 << 60)
        out = spread(rdd_df)
        assert out.rdd.getNumPartitions() == target + 4  # untouched

    def test_spread_if_large_guard(self, spark):
        """ann matmul corpora keep natural partitioning below the
        bytes-per-slot threshold and fan out above it (r13 verdict
        'what's wrong' #2)."""
        from uquery_rs_spark.operators import similarity as S

        emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        # tiny corpus: untouched (no round-robin exchange)
        plan = S._spread_if_large(emb)._jdf.queryExecution().optimizedPlan().toString()
        assert "Repartition" not in plan
        # force the threshold to zero: the same corpus must now spread
        import pytest as _pytest

        orig = S._SPREAD_MIN_BYTES_PER_SLOT
        S._SPREAD_MIN_BYTES_PER_SLOT = 0
        try:
            plan2 = (
                S._spread_if_large(emb)._jdf.queryExecution().optimizedPlan().toString()
            )
        finally:
            S._SPREAD_MIN_BYTES_PER_SLOT = orig
        assert "Repartition" in plan2

    def test_unit_queries_normalizes_raw_matrix(self, spark):
        """The duck-typed (ids, matrix) fast path re-normalizes non-unit
        rows (r13 ADVICE #4) and passes unit matrices through bit-identical."""
        import numpy as np

        from uquery_rs_spark.operators.similarity import _unit_queries

        ids = np.array([1, 2], dtype="int64")
        raw = np.array([[3.0, 4.0], [0.0, 2.0]])
        _, M = _unit_queries((ids, raw))
        assert np.allclose(np.linalg.norm(M, axis=1), 1.0)
        unit = raw / np.linalg.norm(raw, axis=1, keepdims=True)
        _, M2 = _unit_queries((ids, unit))
        assert M2 is unit or (M2 == unit).all()

    def test_repetition_runs_kernel_equivalent(self, spark):
        """r14 repetition kernel: longest equal run in the SORTED gram
        array == max count over distinct grams (multiset identity), and
        the explode_outer emission keeps the old filter semantics —
        checked against the pre-r14 formulation inline."""
        from uquery_rs_spark.functions.expr import bind
        from uquery_rs_spark.operators import text as TX

        docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")

        def old_stats(toks):
            idx = F.sequence(F.lit(1), F.size(toks) - 1)
            gram = lambda i: F.concat_ws(  # noqa: E731
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            )
            grams = F.when(F.size(toks) >= 2, F.transform(idx, gram)).otherwise(
                F.array().cast("array<string>")
            )
            return bind(
                grams,
                lambda g: F.struct(
                    F.array_max(
                        F.transform(
                            F.array_distinct(g),
                            lambda d: F.size(F.filter(g, lambda x: x == d)),
                        )
                    ).alias("top_c"),
                    F.size(g).alias("total"),
                ),
            )

        old = (
            TX.with_tokens(docs)
            .select("doc_id", old_stats(F.col(TX.TOKS)).alias("s"))
            .filter(F.col("s.top_c") / F.col("s.total") > 0.05)
            .select(
                "doc_id",
                F.round(F.col("s.top_c") / F.col("s.total"), 4).alias("f"),
            )
        )
        new = TX.repetition_stats(docs)
        got_old = {(r.doc_id, r.f) for r in old.collect()}
        got_new = {(r.doc_id, r.top_bigram_frac) for r in new.collect()}
        assert got_new == got_old and len(got_new) > 0
