"""Tests for training-data operators: dedup, similarity, text analysis,
multimodal plumbing."""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from ocr_search_spark.ops.dedup import (
    exact_dedup_groups,
    jaccard_pairs_exact,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash_expr,
)
from ocr_search_spark.ops.multimodal import extract_media_features, synth_media_df
from ocr_search_spark.ops.similarity import cosine_topk, hyperplane_lsh_buckets
from ocr_search_spark.ops.text_analysis import (
    fingerprint_expr,
    lang_id_expr,
    quality_metrics,
    token_count_expr,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        ("a", "the quick brown fox jumps over the lazy dog"),
        ("b", "the quick brown fox jumps over the lazy dog"),  # exact dup of a
        ("c", "the quick brown fox jumps over the lazy cat today"),  # near-dup
        ("d", "совершенно другой текст на русском языке без общих слов"),
        ("e", "unrelated short text"),
    ]
    return spark.createDataFrame(rows, "doc_id string, text string")


class TestDedup:
    def test_exact_groups(self, docs):
        groups = exact_dedup_groups(docs, "doc_id", "text").collect()
        dup = [g for g in groups if g.n_dups > 1]
        assert len(dup) == 1 and dup[0].n_dups == 2 and dup[0].keeper_id == "a"
        fp = hashlib.md5(
            "the quick brown fox jumps over the lazy dog".encode()
        ).hexdigest()
        assert dup[0].fingerprint == fp

    def test_minhash_identical_docs_identical_sigs(self, docs):
        sig = {r.id: (r.mh0, r.mh1) for r in minhash_signatures(docs, "doc_id", "text", 2).collect()}
        assert sig["a"] == sig["b"]
        assert sig["a"] != sig["d"]

    def test_lsh_finds_exact_and_near_dups(self, docs):
        sig = minhash_signatures(docs, "doc_id", "text", n_hashes=8)
        pairs = {(r.a_id, r.b_id) for r in lsh_candidate_pairs(sig, 8, 2).collect()}
        assert ("a", "b") in pairs  # identical docs always collide
        assert not any("d" in p for p in pairs)

    def test_jaccard_pairs(self, docs):
        pairs = {
            (r.a_id, r.b_id): (r.inter, r["union"])
            for r in jaccard_pairs_exact(docs, "doc_id", "text", threshold=0.5).collect()
        }
        assert pairs[("a", "b")][0] == pairs[("a", "b")][1]  # jaccard 1.0
        assert all(i >= 0.5 * u for i, u in pairs.values())

    def test_corpus_diff_statuses(self, spark):
        from ocr_search_spark.ops.dedup import corpus_diff

        old = spark.createDataFrame(
            [(1, "same"), (2, "before"), (3, "gone")],
            "doc_id long, text string",
        )
        new = spark.createDataFrame(
            [(1, "same"), (2, "after"), (4, "fresh")],
            "doc_id long, text string",
        )
        got = {
            r.id: r.status
            for r in corpus_diff(old, new, "doc_id", "text").collect()
        }
        assert got == {
            1: "unchanged",
            2: "changed",
            3: "removed",
            4: "added",
        }

    def test_incremental_vs_base_and_within_batch(self, spark, docs):
        from ocr_search_spark.ops.dedup import incremental_near_dedup

        base = docs.filter(F.col("doc_id").isin("a", "d"))
        base_sigs = minhash_signatures(base, "doc_id", "text", 8)
        new = spark.createDataFrame(
            [
                ("n1", "the quick brown fox jumps over the lazy dog"),  # = base a
                ("n2", "a genuinely new document about spark pipelines"),
                ("n3", "a genuinely new document about spark pipelines"),  # dup of n2
            ],
            "doc_id string, text string",
        )
        survivors, ssigs = incremental_near_dedup(
            new, "doc_id", "text", base_sigs
        )
        ids = {r.doc_id for r in survivors.collect()}
        # n1 dies against the store (sig agreement 1.0); n3 dies within
        # the batch to n2 (min-id keeper); n2 survives
        assert ids == {"n2"}
        assert {r.id for r in ssigs.collect()} == {"n2"}

    def test_incremental_store_roundtrip(self, spark, docs):
        from ocr_search_spark.ops.dedup import incremental_near_dedup

        base = docs.filter(F.col("doc_id") == "d")
        sigs = minhash_signatures(base, "doc_id", "text", 8)
        b1 = spark.createDataFrame(
            [("x1", "first wave document about distributed joins")],
            "doc_id string, text string",
        )
        s1, ss1 = incremental_near_dedup(b1, "doc_id", "text", sigs)
        assert {r.doc_id for r in s1.collect()} == {"x1"}
        sigs = sigs.unionByName(ss1)
        # batch 2 repeats batch 1's survivor -> now a store dup
        b2 = spark.createDataFrame(
            [
                ("y1", "first wave document about distributed joins"),
                ("y2", "second wave document that is genuinely fresh"),
            ],
            "doc_id string, text string",
        )
        s2, _ = incremental_near_dedup(b2, "doc_id", "text", sigs)
        assert {r.doc_id for r in s2.collect()} == {"y2"}

    def test_incremental_empty_base_is_batch_dedup(self, spark, docs):
        from ocr_search_spark.ops.dedup import (
            incremental_near_dedup,
            near_dedup,
        )

        empty = minhash_signatures(
            docs.filter(F.lit(False)), "doc_id", "text", 8
        )
        got, _ = incremental_near_dedup(docs, "doc_id", "text", empty)
        want = near_dedup(docs, "doc_id", "text")
        assert {r.doc_id for r in got.collect()} == {
            r.doc_id for r in want.collect()
        }

    def test_incremental_accepts_prebuilt_band_table(self, spark, docs):
        from ocr_search_spark.ops.dedup import (
            incremental_near_dedup,
            lsh_band_table,
        )

        base = docs.filter(F.col("doc_id").isin("a", "d"))
        base_sigs = minhash_signatures(base, "doc_id", "text", 8)
        bands = lsh_band_table(base_sigs, 8, 2)
        new = spark.createDataFrame(
            [("n1", "the quick brown fox jumps over the lazy dog")],
            "doc_id string, text string",
        )
        s, _ = incremental_near_dedup(
            new, "doc_id", "text", base_sigs, base_bands=bands
        )
        assert s.count() == 0

    def test_incremental_no_cartesian_plan(self, spark, docs):
        from ocr_search_spark.ops.dedup import incremental_near_dedup

        base_sigs = minhash_signatures(docs, "doc_id", "text", 8)
        s, _ = incremental_near_dedup(docs, "doc_id", "text", base_sigs)
        plan = s._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_simhash_near_dups_close(self, docs):
        sh = {r.doc_id: r.sh for r in docs.select("doc_id", simhash_expr(F.col("text")).alias("sh")).collect()}
        assert sh["a"] == sh["b"]
        ham_near = bin(sh["a"] ^ sh["c"]).count("1")
        ham_far = bin(sh["a"] ^ sh["d"]).count("1")
        assert ham_near < ham_far


class TestConnectedComponents:
    def test_label_propagation_on_planted_graph(self, spark):
        from ocr_search_spark.ops.dedup import connected_components_labels

        # components: chain {1,2,3,4}, pair {7,8}; 9 isolated (absent)
        pairs = spark.createDataFrame(
            [("d2", "d3"), ("d1", "d2"), ("d3", "d4"), ("d7", "d8")],
            "a_id string, b_id string",
        )
        labels = {
            r.id: r.label for r in connected_components_labels(pairs).collect()
        }
        assert labels == {
            "d1": "d1", "d2": "d1", "d3": "d1", "d4": "d1",
            "d7": "d7", "d8": "d7",
        }

    def test_non_convergence_fails_loud(self, spark):
        """A chain longer than max_iters propagation hops must raise, not
        silently return split clusters (plausible-but-wrong dedup output)."""
        import pytest as _pytest

        from ocr_search_spark.ops.dedup import connected_components_labels

        chain = [(f"c{i:03d}", f"c{i+1:03d}") for i in range(99)]
        df = spark.createDataFrame(chain, "a_id string, b_id string")
        with _pytest.raises(RuntimeError, match="did not converge"):
            connected_components_labels(df, max_iters=2)
        labels = {r.id: r.label for r in connected_components_labels(df).collect()}
        assert set(labels.values()) == {"c000"}  # default budget converges

    def test_one_round_budget(self, spark):
        """max_iters=1 is the unrolled first round alone: an edgeless graph
        converges in it, any edge needs a second round, and a budget below
        one round is rejected."""
        import pytest as _pytest

        from ocr_search_spark.ops.dedup import connected_components_labels

        empty = spark.createDataFrame([], "a_id string, b_id string")
        assert connected_components_labels(empty, max_iters=1).collect() == []
        one = spark.createDataFrame([("a", "b")], "a_id string, b_id string")
        with _pytest.raises(RuntimeError, match="did not converge"):
            connected_components_labels(one, max_iters=1)
        with _pytest.raises(ValueError, match="max_iters"):
            connected_components_labels(one, max_iters=0)

    def test_deep_chain_converges_in_log_rounds(self, spark):
        """Pointer halving: a 100-node path (diameter 99) must converge
        well within O(log d) rounds — 12 iterations, where plain min-label
        propagation would need 99."""
        from ocr_search_spark.ops.dedup import connected_components_labels

        chain = [(f"c{i:03d}", f"c{i+1:03d}") for i in range(99)]
        df = spark.createDataFrame(chain, "a_id string, b_id string")
        labels = {
            r.id: r.label
            for r in connected_components_labels(df, max_iters=12).collect()
        }
        assert len(labels) == 100 and set(labels.values()) == {"c000"}

    def test_cc_keeper_differs_from_pairwise_on_star(self, spark):
        """a~c and b~c verified, a≁b: the pairwise keeper keeps both a and
        b (each decision sees one pair); the cluster keeper keeps only a,
        the canonical min-id of the connected cluster."""
        from ocr_search_spark.ops.dedup import near_dedup, near_dedup_cc

        a_txt = " ".join(f"aa{i}" for i in range(20))
        b_txt = " ".join(f"bb{i}" for i in range(20))
        rows = [
            ("a", a_txt),
            ("b", b_txt),
            ("c", a_txt + " " + b_txt),  # bridges a and b
            ("u", "completely unrelated content words here only once"),
        ]
        df = spark.createDataFrame(rows, "doc_id string, text string")
        kw = dict(threshold=0.4, n_hashes=8, band_size=1)
        pairwise = sorted(r.doc_id for r in near_dedup(df, "doc_id", "text", **kw).collect())
        cluster = sorted(r.doc_id for r in near_dedup_cc(df, "doc_id", "text", **kw).collect())
        assert pairwise == ["a", "b", "u"]  # c lost to both, a/b kept
        assert cluster == ["a", "u"]  # one canonical doc per cluster


class TestSimilarity:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        rng = np.random.RandomState(7)
        base = rng.rand(20, 16).astype("float32")
        base[1] = base[0] + 0.001  # vec 1 ~= vec 0
        rows = [(i, [float(x) for x in base[i]]) for i in range(20)]
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def test_cosine_topk_exact(self, emb):
        res = cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=3).collect()
        assert len(res) == 3
        assert res[0].query_id == 0 and res[0].neighbor_id == 1  # planted NN
        assert res[0].cos > 0.999
        # verify against numpy
        pdf = emb.toPandas()
        vecs = np.stack(pdf.sort_values("vec_id")["embedding"].map(np.array))
        cos = vecs @ vecs[0] / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(vecs[0]))
        want = [i for i in np.argsort(-cos) if i != 0][:3]
        assert [r.neighbor_id for r in res] == want

    def test_lsh_buckets_group_near_vectors(self, emb):
        b = {r.id: r.bucket for r in hyperplane_lsh_buckets(emb, dim=16, n_planes=6).collect()}
        assert b[0] == b[1]  # planted near-identical pair shares bucket
        assert len(b[0]) == 6 and set(b[0]) <= {"0", "1"}


class TestTextAnalysis:
    def test_token_count(self, docs):
        r = docs.filter(F.col("doc_id") == "e").select(token_count_expr("text")).collect()
        assert r[0][0] == 3

    def test_lang_id(self, docs):
        got = {r.doc_id: r.lang for r in docs.select("doc_id", lang_id_expr("text").alias("lang")).collect()}
        assert got["a"] == "en"
        assert got["d"] == "ru"

    def test_quality_metrics(self, spark):
        df = spark.createDataFrame([("the cat, the dog!",)], "text string")
        m = quality_metrics("text")
        row = df.select(*[v.alias(k) for k, v in m.items()]).collect()[0]
        assert row.n_tokens == 4
        assert row.n_punct == 2
        assert row.n_stopwords == 2
        assert row.stopword_ratio == 0.5
        assert row.mean_word_len == pytest.approx((3 + 3 + 3 + 3) / 4)

    def test_fingerprint_is_md5(self, docs):
        r = docs.filter(F.col("doc_id") == "e").select(fingerprint_expr("text")).collect()
        assert r[0][0] == hashlib.md5(b"unrelated short text").hexdigest()


class TestMultimodal:
    def test_media_exact_dedup_planted_duplicates(self, spark):
        from ocr_search_spark.ops.multimodal import media_exact_dedup

        # groups=8 with reps cycling mod 5 → payloads collide mod lcm=40
        groups = media_exact_dedup(synth_media_df(spark, n=64, groups=8)).collect()
        assert len(groups) == 40
        dups = [g for g in groups if g.n_dups > 1]
        assert len(dups) == 24 and all(g.n_dups == 2 for g in dups)
        # keeper is the lexicographic min ref of the colliding pair (i, i+40)
        keepers = {g.keeper_ref for g in dups}
        expected = {
            min(f"media://synth/{i}", f"media://synth/{i + 40}") for i in range(24)
        }
        assert keepers == expected

    def test_media_near_dedup_composition_drops_payload_dups(self, spark):
        """payloads → stub features → banded-LSH cosine keeper: with
        hash-derived features only byte-identical payloads cluster, so the
        survivor set equals exact dedup's keepers — the composition is the
        contract, the threshold the knob once real codecs land."""
        from ocr_search_spark.ops.multimodal import (
            media_exact_dedup,
            media_near_dedup,
        )

        media = synth_media_df(spark, n=64, groups=8)
        near = {r.media_ref for r in media_near_dedup(media).collect()}
        exact = {
            g.keeper_ref for g in media_exact_dedup(media).collect()
        }
        assert near == exact and len(near) == 40

    def test_feature_extraction_plumbing(self, spark):
        media = synth_media_df(spark, n=32)
        feats = extract_media_features(media).collect()
        assert len(feats) == 32
        by_ref = {r.media_ref: r for r in feats}
        r0 = by_ref["media://synth/0"]
        payload = bytes.fromhex(hashlib.md5(b"media://synth/0").hexdigest())
        assert r0.n_bytes == len(payload)
        expected_fp = hashlib.md5(payload.hex().upper().encode()).hexdigest()
        assert r0.fingerprint == expected_fp
        assert 64 <= r0.width < 256 and 64 <= r0.height < 256
        assert len(r0.feature) == 8

    def test_decode_real_is_stubbed(self):
        from ocr_search_spark.ops.multimodal import decode_real

        with pytest.raises(NotImplementedError):
            decode_real(b"bytes", "image/png")

    def test_resize_plumbing(self, spark):
        from ocr_search_spark.ops.multimodal import resize_images, synth_media_df

        out = resize_images(synth_media_df(spark, n=8), 64, 48).collect()
        assert len(out) == 8
        assert all(r.width == 64 and r.height == 48 for r in out)
        assert len({r.thumb_fp for r in out}) == 8  # payload-dependent

    def test_frame_sampling_fanout(self, spark):
        from ocr_search_spark.ops.multimodal import sample_frames, synth_media_df

        media = synth_media_df(spark, n=10)  # reps cycle 1..5 → 16..80 bytes
        frames = sample_frames(media, every_n=2).collect()
        by_ref = {}
        for r in frames:
            by_ref.setdefault(r.media_ref, []).append(r.frame_idx)
        # i=4 → reps=5 → frames 0..4 → sampled 0,2,4
        assert sorted(by_ref["media://synth/4"]) == [0, 2, 4]
        assert sorted(by_ref["media://synth/0"]) == [0]
        with pytest.raises(ValueError):
            sample_frames(media, every_n=0)


class TestWinnowing:
    def test_fingerprints_are_window_minima(self, spark):
        from ocr_search_spark.ops.text_analysis import winnow_fingerprints

        text = "a b c d e f g"
        df = spark.createDataFrame([("d1", text)], "doc_id string, text string")
        got = winnow_fingerprints(df, "doc_id", "text", shingle_k=3, window=4).collect()[0]
        import hashlib as h

        toks = text.split()
        shingles = [" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)]
        hs = [h.md5(s.encode()).hexdigest() for s in shingles]
        want = []
        for j in range(len(hs) - 3):
            m = min(hs[j : j + 4])
            if m not in want:
                want.append(m)
        assert list(got.fingerprints) == want

    def test_shared_run_guarantee(self, spark):
        """Docs sharing a ≥ window+k-1 token run share a fingerprint."""
        from pyspark.sql import functions as F
        from ocr_search_spark.ops.text_analysis import winnow_fingerprints

        shared = "alpha beta gamma delta epsilon zeta"  # 6 = 4+3-1 tokens
        rows = [
            ("a", "xx yy " + shared + " zz"),
            ("b", shared + " qq rr ss tt uu"),
            ("c", "totally different words entirely here now okay yes"),
        ]
        df = spark.createDataFrame(rows, "doc_id string, text string")
        fps = {
            r.id: set(r.fingerprints)
            for r in winnow_fingerprints(df, "doc_id", "text").collect()
        }
        assert fps["a"] & fps["b"]
        assert not (fps["a"] & fps["c"])

    def test_short_doc_uses_all_hashes(self, spark):
        from ocr_search_spark.ops.text_analysis import winnow_fingerprints

        df = spark.createDataFrame(
            [("s", "one two three four")], "doc_id string, text string"
        )  # 2 shingles < window=4
        got = winnow_fingerprints(df, "doc_id", "text").collect()[0]
        assert len(got.fingerprints) == 2

    def test_partial_dup_pairs_find_embedded_paragraph(self, spark):
        from ocr_search_spark.ops.text_analysis import winnow_partial_dup_pairs

        para = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        rows = [
            ("a", "intro words here " + para + " closing remarks follow now"),
            ("b", para + " completely different continuation of this text"),
            ("c", "nothing shared with the others at all in this document"),
        ]
        df = spark.createDataFrame(rows, "doc_id string, text string")
        pairs = {
            (r.a_id, r.b_id): r.shared
            for r in winnow_partial_dup_pairs(df, "doc_id", "text").collect()
        }
        assert ("a", "b") in pairs and pairs[("a", "b")] >= 2
        assert not any("c" in p for p in pairs)


class TestScalarQuantization:
    """Int8 scalar quantization (ops/similarity.py sq_encode + sq_topk +
    sq_recall): scalar encode parity, zero-vector rule, planted-NN
    recovery through the quantized arm, recall contract, broadcast plan."""

    @pytest.fixture(scope="class")
    def emb(self, spark):
        rng = np.random.RandomState(11)
        base = rng.rand(40, 16).astype("float32") * 2 - 1
        base[7] = base[3] * 0.5  # same direction as 3 — exact cosine 1.0
        rows = [(i, [float(x) for x in base[i]]) for i in range(40)]
        rows.append((40, [0.0] * 16))  # zero vector
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def test_encode_matches_scalar_model(self, emb):
        from decimal import ROUND_HALF_UP, Decimal

        from ocr_search_spark.ops.similarity import sq_encode

        got = {r.id: r for r in sq_encode(emb).collect()}
        for row in emb.collect():
            v = [float(x) for x in row.embedding]
            scale = max(abs(x) for x in v)
            if scale == 0:
                want = [0] * len(v)
            else:
                want = [
                    int(
                        Decimal(repr(x / scale * 127)).quantize(
                            Decimal("1"), rounding=ROUND_HALF_UP
                        )
                    )
                    for x in v
                ]
            g = got[row.vec_id]
            assert list(g.codes) == want
            assert g.norm_q == sum(c * c for c in want)
            assert all(-127 <= c <= 127 for c in g.codes)

    def test_zero_vector_excluded_from_serving(self, emb):
        from ocr_search_spark.ops.similarity import sq_topk

        out = sq_topk(emb, emb.filter(F.col("vec_id").isin(3, 40)), k=5).collect()
        assert {r.query_id for r in out} == {3}  # zero-norm query dropped
        assert all(r.neighbor_id != 40 for r in out)  # and zero-norm corpus row

    def test_planted_direction_survives_quantization(self, emb):
        from ocr_search_spark.ops.similarity import sq_topk

        top = (
            sq_topk(emb, emb.filter(F.col("vec_id") == 3), k=5)
            .orderBy("rnk")
            .collect()
        )
        assert top[0].neighbor_id == 7  # scaled copy: identical codes
        assert top[0].cos_q == 1.0

    def test_recall_contract(self, emb):
        from ocr_search_spark.ops.similarity import sq_recall

        rows = {
            r.query_id: r
            for r in sq_recall(emb, emb.filter(F.col("vec_id") < 3), k=5).collect()
        }
        assert set(rows) == {0, 1, 2}
        for r in rows.values():
            assert 0 <= r.n_hits <= 5
            assert r.recall_ppm == r.n_hits * 1_000_000 // 5
        # 16-dim int8 on smooth vectors: quantized top-5 barely moves
        assert sum(r.n_hits for r in rows.values()) >= 12

    def test_zero_vector_corpus_survives_whole_ann_family(self, emb):
        """Review finding (r5 continuation): a single all-zero embedding
        row crashed every unguarded cosine consumer under ANSI mode.
        Each op must now run — zero-norm rows excluded (cosine
        undefined), everything else unaffected."""
        from pyspark.sql import functions as F

        from ocr_search_spark.ops.similarity import (
            ann_recall,
            cosine_neardup_pairs_exact,
            cosine_neardup_pairs_lsh,
            ivf_centroids_from_sample,
            ivf_refine,
            margin_mine,
            semantic_decontaminate,
            semdedup,
        )

        cents = ivf_centroids_from_sample(emb, k=4)
        queries = emb.filter(F.col("vec_id") < 3)
        assert ann_recall(emb, queries, cents, k=5).count() == 3
        assert cosine_neardup_pairs_exact(emb, 0.999).count() >= 0
        assert cosine_neardup_pairs_lsh(
            emb, dim=16, threshold=0.999, n_bands=3, band_size=2
        ).count() >= 0
        assert semdedup(emb, cents, threshold=0.999).count() >= 1
        # zero-norm pool rows SURVIVE decontamination (near nothing)
        kept = {
            r.vec_id
            for r in semantic_decontaminate(emb, queries, 0.9999).collect()
        }
        assert 40 in kept
        assert margin_mine(
            emb.filter(F.col("vec_id") % 2 == 0),
            emb.filter(F.col("vec_id") % 2 == 1),
            k=2,
            threshold_e6=-(10**9),
        ).count() >= 1
        assert len(ivf_refine(emb, cents, iters=1)) == 4

    def test_serving_plan_broadcasts_queries(self, emb, spark):
        from ocr_search_spark.ops.similarity import sq_topk

        plan = (
            sq_topk(emb, emb.filter(F.col("vec_id") < 3), k=5)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastNestedLoopJoin" in plan
        assert "CartesianProduct" not in plan


class TestIvfRefine:
    def test_lloyd_converges_to_cluster_means(self, spark):
        import numpy as np
        from ocr_search_spark.ops.similarity import ivf_refine

        rng = np.random.RandomState(7)
        a = rng.normal([5, 0, 0, 0], 0.01, (6, 4))
        b = rng.normal([0, 5, 0, 0], 0.01, (6, 4))
        rows = [(i, v.tolist()) for i, v in enumerate(np.vstack([a, b]))]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        # bad seeds: one vector from each cluster, offset
        seeds = [(0, a[0].tolist()), (1, b[0].tolist())]
        refined = dict(ivf_refine(df, seeds, iters=2))
        got_a, got_b = np.array(refined[0]), np.array(refined[1])
        np.testing.assert_allclose(got_a, a.mean(axis=0), atol=1e-3)
        np.testing.assert_allclose(got_b, b.mean(axis=0), atol=1e-3)

    def test_empty_cell_keeps_previous_centroid(self, spark):
        from ocr_search_spark.ops.similarity import ivf_refine

        df = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.9, 0.1])], "vec_id long, embedding array<float>"
        )
        far = [(0, [1.0, 0.0]), (1, [-1.0, 0.0])]  # cell 1 catches nothing
        refined = dict(ivf_refine(df, far, iters=1))
        assert refined[1] == [-1.0, 0.0]


class TestLshBucketCap:
    def test_mega_bucket_diverted(self, spark):
        from ocr_search_spark.ops.dedup import lsh_candidate_pairs, minhash_signatures

        same = [(f"d{i}", "identical boilerplate text repeated again and again here")
                for i in range(6)]
        df = spark.createDataFrame(same, "doc_id string, text string")
        sig = minhash_signatures(df, "doc_id", "text", n_hashes=8)
        uncapped = lsh_candidate_pairs(sig, 8, 2).count()
        capped = lsh_candidate_pairs(sig, 8, 2, max_bucket_size=3).count()
        assert uncapped == 15  # 6 choose 2 — the B² blowup
        assert capped == 0  # mega-bucket diverted to the exact-dup path


class TestCcAgainstUnionFind:
    @staticmethod
    def _union_find_labels(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {x: find(x) for x in parent}

    @pytest.mark.parametrize("seed", [7, 42, 1337])
    def test_labels_match_union_find_on_random_graphs(self, spark, seed):
        """Min-label propagation must agree with a classic union-find on
        arbitrary random graphs (chains, stars, merged components)."""
        import random

        from ocr_search_spark.ops.dedup import connected_components_labels

        rng = random.Random(seed)
        nodes = [f"n{i:02d}" for i in range(24)]
        edges = set()
        while len(edges) < 20:
            a, b = rng.sample(nodes, 2)
            edges.add((min(a, b), max(a, b)))
        edges = sorted(edges)
        df = spark.createDataFrame(edges, "a_id string, b_id string")
        got = {r.id: r.label for r in connected_components_labels(df).collect()}
        assert got == self._union_find_labels(edges)


class TestSubstringDedup:
    PASSAGE = " ".join(f"shared{i}" for i in range(16))

    def _df(self, spark):
        rows = [
            ("d1", self.PASSAGE + " " + "tail one two three"),
            ("d2", "intro alpha beta " + self.PASSAGE + " outro gamma delta"),
            ("d3", "totally unrelated text with its own words entirely"),
        ]
        return spark.createDataFrame(rows, "doc_id string, text string")

    def test_later_doc_loses_planted_passage_keeps_rest(self, spark):
        from ocr_search_spark.ops.text_analysis import substring_dedup

        out = {
            r.id: r
            for r in substring_dedup(self._df(spark), "doc_id", "text").collect()
        }
        # earlier doc and the unrelated doc are untouched
        assert out["d1"].n_dropped == 0
        assert out["d3"].n_dropped == 0
        assert out["d3"].kept_text == "totally unrelated text with its own words entirely"
        # the later doc drops part of the shared passage, never its own text
        d2 = out["d2"]
        assert d2.n_dropped >= 3  # at least one winnowed shingle removed
        for w in ("intro", "alpha", "beta", "outro", "gamma", "delta"):
            assert w in d2.kept_text.split()
        dropped = set(self.PASSAGE.split()) - set(d2.kept_text.split())
        assert dropped  # and what was dropped came from the shared passage

    def test_hot_fingerprint_cap_ignores_boilerplate(self, spark):
        """A footer shared by MANY docs is boilerplate, not duplication:
        with max_doc_freq set, those fingerprints are diverted before the
        posting join (B² pair guard) and nothing is dropped for it."""
        from ocr_search_spark.ops.text_analysis import (
            substring_dedup,
            winnow_partial_dup_pairs,
        )

        footer = " ".join(f"footer{i}" for i in range(10))
        rows = [
            (f"d{j}", " ".join(f"own{j}w{i}" for i in range(8)) + " " + footer)
            for j in range(6)
        ]
        df = spark.createDataFrame(rows, "doc_id string, text string")
        # uncapped: every doc pairs with every other via the footer
        pairs = winnow_partial_dup_pairs(df, "doc_id", "text", min_shared=1)
        assert pairs.count() == 15  # 6 choose 2
        # capped: the all-pairs clique collapses — fps every doc selected are
        # diverted; only boundary-window minima that a SINGLE doc pair picked
        # can survive (df computed on selected fingerprints, which is exactly
        # the join-blowup granularity the guard fences)
        capped = winnow_partial_dup_pairs(
            df, "doc_id", "text", min_shared=1, max_doc_freq=3
        )
        assert capped.count() <= 2
        out = substring_dedup(
            df, "doc_id", "text", min_shared=1, max_doc_freq=3
        ).collect()
        # at most one doc loses a couple of boundary shingles; own words of
        # every doc always survive
        assert sum(1 for r in out if r.n_dropped > 0) <= 1
        for r in out:
            j = r.id[1:]
            assert all(f"own{j}w{i}" in r.kept_text.split() for i in range(8))

    @pytest.mark.parametrize("seed", [3, 99])
    def test_disjoint_vocab_docs_only_lose_planted_passages(self, spark, seed):
        """Randomized invariant: documents built from per-doc-disjoint
        vocabularies can only lose tokens inside the passage planted across
        them — never their own text."""
        import random

        from ocr_search_spark.ops.text_analysis import substring_dedup

        rng = random.Random(seed)
        passage = " ".join(f"pl{seed}x{i}" for i in range(12))
        rows = []
        for j in range(8):
            own = [f"v{j}w{i}" for i in range(rng.randint(10, 25))]
            if j in (2, 5):  # plant the passage inside two docs
                cut = rng.randint(0, len(own))
                own = own[:cut] + passage.split() + own[cut:]
            rows.append((f"d{j}", " ".join(own)))
        df = spark.createDataFrame(rows, "doc_id string, text string")
        out = {r.id: r for r in substring_dedup(df, "doc_id", "text").collect()}
        for j in range(8):
            r = out[f"d{j}"]
            kept = set(r.kept_text.split())
            own_vocab = {w for w in rows[j][1].split() if w.startswith(f"v{j}")}
            assert own_vocab <= kept, f"d{j} lost its own tokens"
            if j == 2:  # smaller id of the planted pair keeps the passage
                assert r.n_dropped == 0
            if j == 5:  # larger id loses at least one shared shingle
                assert r.n_dropped >= 3

    def test_positions_are_deterministic(self, spark):
        from ocr_search_spark.ops.text_analysis import winnow_fingerprint_positions

        a = winnow_fingerprint_positions(self._df(spark), "doc_id", "text").collect()
        b = winnow_fingerprint_positions(self._df(spark), "doc_id", "text").collect()
        assert sorted((r.id, tuple(r.fps)) for r in a) == sorted(
            (r.id, tuple(r.fps)) for r in b
        )
        for r in a:
            n = len(r.toks)
            for f in r.fps:
                assert 1 <= f.pos <= n - 3 + 1  # valid shingle start


class TestRepetitionSignals:
    def test_counts_on_looped_text(self, spark):
        from ocr_search_spark.ops.text_analysis import repetition_signals

        rows = [
            ("loop", "buy now buy now buy now buy now"),
            ("varied", "alpha beta gamma delta epsilon zeta"),
            ("tiny", "one"),
        ]
        df = spark.createDataFrame(rows, "doc_id string, text string")
        got = {r.id: r for r in repetition_signals(df).collect()}
        # 'buy now' appears 4x among 7 bigrams; only 2 distinct tokens of 8
        assert got["loop"].n_bigrams == 7
        assert got["loop"].top_bigram_count == 4
        assert got["loop"].n_distinct_tok == 2 and got["loop"].n_tokens == 8
        assert got["varied"].top_bigram_count == 1
        assert got["tiny"].n_bigrams == 0 and got["tiny"].top_bigram_count == 0
        # n-gram char coverage: 'buy now' (7 chars) × 4 occurrences
        assert got["loop"].top2_chars == 28
        assert got["loop"].top3_chars == 33  # 'buy now buy' (11) × 3
        assert got["loop"].top4_chars == 45  # 'buy now buy now' (15) × 3
        assert got["tiny"].top2_chars == 0

    def test_dup_line_and_paragraph_fractions(self, spark):
        from ocr_search_spark.ops.text_analysis import repetition_signals

        text = (
            "unique first line\n"
            "repeated line\n"
            "repeated line\n"
            "\n"
            "para one body\n\npara one body\n\nanother paragraph"
        )
        df = spark.createDataFrame([("d", text)], "doc_id string, text string")
        r = repetition_signals(df).collect()[0]
        # duplicated lines: 'repeated line' ×2 and 'para one body' ×2
        assert r.dup_line_chars == 2 * len("repeated line") + 2 * len("para one body")
        assert r.n_lines == 6
        assert r.line_chars == sum(
            len(x) for x in text.split("\n") if x != ""
        )
        # paragraphs split on blank lines: 'para one body' duplicated
        paras = [p for p in text.split("\n\n") if p != ""]
        assert r.n_paras == len(paras)
        assert r.para_chars == sum(len(p) for p in paras)
        assert r.dup_para_chars == 2 * len("para one body")

    def test_gate_over_materialized_signals_matches_inline(self, spark, tmp_path):
        """The production path (gate over a stored signals table) must
        select exactly the docs the inline composition selects."""
        from ocr_search_spark.ops.text_analysis import (
            repetition_filter,
            repetition_signals,
        )

        # the clean doc must be long enough that a single n-gram occurrence
        # stays under the char-fraction caps (Gopher gates long documents)
        rows = [
            ("ok", " ".join(f"word{i}" for i in range(80))),
            ("spam", "buy now " * 30),
        ]
        df = spark.createDataFrame(rows, "doc_id string, text string")
        p = str(tmp_path / "signals.parquet")
        repetition_signals(df).write.parquet(p)
        stored = spark.read.parquet(p)
        inline = {r.id for r in repetition_filter(df).collect()}
        materialized = {
            r.id for r in repetition_filter(df, signals=stored).collect()
        }
        assert inline == materialized == {"ok"}

    def test_no_dups_zero(self, spark):
        from ocr_search_spark.ops.text_analysis import repetition_signals

        df = spark.createDataFrame(
            [("d", "line a\nline b\n\nline c")], "doc_id string, text string"
        )
        r = repetition_signals(df).collect()[0]
        assert r.dup_line_chars == 0 and r.dup_para_chars == 0
        assert r.n_chars == len("line a\nline b\n\nline c")


class TestTokenCounts:
    def test_bpe_ish_and_whitespace(self, spark):
        from ocr_search_spark.ops.text_analysis import (
            bpe_ish_count_expr,
            whitespace_count_expr,
        )

        df = spark.createDataFrame([("Hello, world42 x!",)], "text string")
        r = df.select(
            whitespace_count_expr("text").alias("ws"),
            bpe_ish_count_expr("text").alias("bpe"),
        ).collect()[0]
        assert r.ws == 3
        # hello | , | world | 42 | x | !
        assert r.bpe == 6


class TestMetadata:
    def test_meta_map_tags(self, spark):
        from ocr_search_spark.ops.metadata import EXT_MIME, with_metadata

        df = spark.createDataFrame(
            [(7, "hello meta", "srcA", "en")],
            "doc_id long, text string, source string, lang string",
        )
        meta = with_metadata(df).collect()[0].meta
        assert set(meta) == {
            "FileName", "FileType", "MIMEType", "FileSize", "Checksum", "Language",
        }
        assert meta["FileSize"] == "10"
        assert meta["Language"] == "en"
        ext = meta["FileType"].lower()
        assert ext in EXT_MIME
        assert meta["FileName"] == f"srcA/7.{ext}"
        assert meta["MIMEType"] == EXT_MIME[ext]
        assert meta["Checksum"] == hashlib.md5(b"hello meta").hexdigest()

    def test_ext_is_deterministic_and_engine_portable(self, spark):
        from ocr_search_spark.ops.metadata import _EXTS, ext_expr

        df = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
        got = {r.doc_id: r.e for r in df.select("doc_id", ext_expr("doc_id").alias("e")).collect()}
        for i in range(40):
            h = int(hashlib.md5(f"ext:{i}".encode()).hexdigest()[:8], 16)
            assert got[i] == _EXTS[h % len(_EXTS)]
        assert len(set(got.values())) > 1  # not constant


class TestCosineNeardup:
    def test_exact_finds_planted_pair(self, spark):
        import numpy as np
        from ocr_search_spark.ops.similarity import (
            cosine_neardup_pairs_exact,
            cosine_neardup_pairs_lsh,
        )

        rng = np.random.RandomState(11)
        base = rng.rand(30, 16).astype("float32")
        base[5] = base[4] * 1.01 + 0.0005  # planted near-dup (cos ~ 1)
        rows = [(i, [float(x) for x in base[i]]) for i in range(30)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

        exact = {(r.a_id, r.b_id) for r in cosine_neardup_pairs_exact(emb, 0.999).collect()}
        assert exact == {(4, 5)}

        lsh = {(r.a_id, r.b_id) for r in cosine_neardup_pairs_lsh(emb, dim=16, threshold=0.999, n_bands=3, band_size=2).collect()}
        assert (4, 5) in lsh  # near-identical vectors share every sign bit
        assert lsh <= exact  # LSH path never invents pairs (same re-rank)


class TestMarginMine:
    """Ratio-margin pair mining (ops/similarity.py margin_mine): exact
    parity vs a scalar Artetxe-Schwenk model on the shared e6 lattice,
    planted-pair recovery, and threshold behavior."""

    @staticmethod
    def _scalar(src_rows, tgt_rows, k, threshold_e6):
        from decimal import ROUND_HALF_UP, Decimal

        import numpy as np

        def cos_e6(a, b):
            c = float(
                np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b))
            )
            q = Decimal(repr(c)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
            return int(q * 1_000_000)

        def trunc_div(a, b):
            q = abs(a) // abs(b)
            return -q if (a < 0) != (b < 0) else q

        cross = {
            (si, ti): cos_e6(np.array(sv), np.array(tv))
            for si, sv in src_rows
            for ti, tv in tgt_rows
        }
        sum_x, kx = {}, {}
        for si, _ in src_rows:
            top = sorted(
                ((cross[(si, ti)], ti) for ti, _ in tgt_rows),
                key=lambda p: (-p[0], p[1]),
            )[:k]
            sum_x[si], kx[si] = sum(c for c, _ in top), len(top)
        sum_y, ky = {}, {}
        for ti, _ in tgt_rows:
            top = sorted(
                ((cross[(si, ti)], si) for si, _ in src_rows),
                key=lambda p: (-p[0], p[1]),
            )[:k]
            sum_y[ti], ky[ti] = sum(c for c, _ in top), len(top)
        out = []
        for si, _ in src_rows:
            best = None
            for ti, _ in tgt_rows:
                denom = sum_x[si] * ky[ti] + sum_y[ti] * kx[si]
                if denom <= 0:
                    continue
                m = trunc_div(
                    2 * cross[(si, ti)] * kx[si] * ky[ti] * 1_000_000, denom
                )
                cand = (-m, ti)
                if best is None or cand < best:
                    best, best_row = cand, (si, ti, cross[(si, ti)], m)
            if best is not None and best_row[3] >= threshold_e6:
                out.append(best_row)
        return sorted(out)

    @pytest.fixture(scope="class")
    def sides(self, spark):
        rng = np.random.RandomState(31)
        sv = rng.rand(12, 8).astype("float32") * 2 - 1
        tv = rng.rand(13, 8).astype("float32") * 2 - 1
        tv[5] = sv[3] * 1.01 + 0.002  # planted translation pair (3, 5)
        src = spark.createDataFrame(
            [(i, [float(x) for x in sv[i]]) for i in range(12)],
            "vec_id long, embedding array<float>",
        )
        tgt = spark.createDataFrame(
            [(100 + i, [float(x) for x in tv[i]]) for i in range(13)],
            "vec_id long, embedding array<float>",
        )
        src_rows = [(i, [float(x) for x in sv[i]]) for i in range(12)]
        tgt_rows = [(100 + i, [float(x) for x in tv[i]]) for i in range(13)]
        return src, tgt, src_rows, tgt_rows

    def test_exact_parity_vs_scalar_model(self, sides):
        from ocr_search_spark.ops.similarity import margin_mine

        src, tgt, src_rows, tgt_rows = sides
        got = sorted(
            tuple(r)
            for r in margin_mine(src, tgt, k=3, threshold_e6=-10**9).collect()
        )
        assert got == self._scalar(src_rows, tgt_rows, 3, -10**9)
        assert len(got) == 12  # every src mined at the floor threshold

    def test_planted_pair_and_threshold(self, sides):
        from ocr_search_spark.ops.similarity import margin_mine

        src, tgt, src_rows, tgt_rows = sides
        rows = {
            r.src_id: (r.tgt_id, r.margin_e6)
            for r in margin_mine(src, tgt, k=3, threshold_e6=1_000_000).collect()
        }
        assert rows[3][0] == 105  # planted pair recovered
        assert all(m >= 1_000_000 for _, m in rows.values())
        high = margin_mine(src, tgt, k=3, threshold_e6=rows[3][1]).collect()
        assert {r.src_id for r in high} <= set(rows)

    def test_k_validation(self, sides):
        from ocr_search_spark.ops.similarity import margin_mine

        src, tgt, _, _ = sides
        with pytest.raises(ValueError):
            margin_mine(src, tgt, k=0)

    def test_candidate_arms_bitwise_equal(self, sides, spark):
        """The BLAS-block candidate kernel and the crossJoin+HOF fallback
        must produce the identical e6 lattice for EVERY pair (the mined
        set is then equal by construction). broadcast_rows_max=0 forces
        the fallback arm."""
        from ocr_search_spark.ops.similarity import margin_candidates

        src, tgt, _, _ = sides
        fast = margin_candidates(src, tgt)  # matmul arm (tgt fits)
        slow = margin_candidates(src, tgt, broadcast_rows_max=0)
        assert fast.count() == 12 * 13
        diff = (
            fast.alias("a")
            .join(slow.alias("b"), ["src_id", "tgt_id"], "full")
            .filter(
                "a.cos_e6 IS DISTINCT FROM b.cos_e6"
            )
            .count()
        )
        assert diff == 0

    def test_mutual_is_two_direction_intersection(self, sides):
        from ocr_search_spark.ops.similarity import (
            margin_mine,
            margin_mine_mutual,
        )

        src, tgt, src_rows, tgt_rows = sides
        got = sorted(
            tuple(r)
            for r in margin_mine_mutual(
                src, tgt, k=3, threshold_e6=1_000_000
            ).collect()
        )
        fwd = {
            (r[0], r[1]): r
            for r in self._scalar(src_rows, tgt_rows, 3, 1_000_000)
        }
        bwd = {
            (r[1], r[0])
            for r in self._scalar(tgt_rows, src_rows, 3, 1_000_000)
        }
        assert got == sorted(fwd[p] for p in fwd.keys() & bwd)
        assert (3, 105) in {(r[0], r[1]) for r in got}  # planted pair mutual


class TestIvf:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        rng = np.random.RandomState(23)
        base = rng.rand(60, 16).astype("float32")
        base[7] = base[3] * 1.02 + 0.001  # planted NN for query 3
        rows = [(i, [float(x) for x in base[i]]) for i in range(60)]
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def test_assignment_deterministic_and_total(self, emb):
        from ocr_search_spark.ops.similarity import ivf_assign, ivf_centroids_from_sample

        cents = ivf_centroids_from_sample(emb, k=8)
        assert len(cents) == 8
        a1 = {r.id: r.centroid_id for r in ivf_assign(emb, cents).collect()}
        a2 = {r.id: r.centroid_id for r in ivf_assign(emb, cents).collect()}
        assert a1 == a2 and len(a1) == 60
        assert set(a1.values()) <= set(range(8))

    def test_probe_search_finds_planted_nn(self, emb):
        from ocr_search_spark.ops.similarity import (
            cosine_topk,
            ivf_centroids_from_sample,
            ivf_search,
        )

        cents = ivf_centroids_from_sample(emb, k=8)
        q = emb.filter(F.col("vec_id") == 3)
        res = ivf_search(emb, q, cents, k=5, n_probe=8).collect()
        # n_probe = all cells -> identical to exact brute force
        exact = cosine_topk(emb, q, k=5).collect()
        assert [(r.neighbor_id, r.cos) for r in res] == [
            (r.neighbor_id, r.cos) for r in exact
        ]
        assert res[0].neighbor_id == 7  # planted NN
        # fewer probes: planted near-identical NN shares the query's cell
        res2 = ivf_search(emb, q, cents, k=5, n_probe=2).collect()
        assert res2[0].neighbor_id == 7

    def test_join_path_bit_identical_to_literal(self, emb):
        """The broadcast-join assignment/probe strategy must be
        bit-identical to the literal-expression strategy (same fold order,
        same struct-max tie-break) — it's the same operator at a different
        physical shape, not an approximation."""
        from ocr_search_spark.ops.similarity import (
            ivf_assign,
            ivf_centroids_from_sample,
            ivf_search,
        )

        cents = ivf_centroids_from_sample(emb, k=8)
        lit = sorted(map(tuple, ivf_assign(emb, cents, method="literal").collect()))
        jn = sorted(map(tuple, ivf_assign(emb, cents, method="join").collect()))
        assert lit == jn

        q = emb.filter(F.col("vec_id") < 5)
        s_lit = sorted(
            map(tuple, ivf_search(emb, q, cents, k=5, n_probe=3, method="literal").collect())
        )
        s_jn = sorted(
            map(tuple, ivf_search(emb, q, cents, k=5, n_probe=3, method="join").collect())
        )
        assert s_lit == s_jn

    def test_large_k_uses_broadcast_join_plan(self, emb, spark):
        """At production cell counts the auto strategy must be the
        broadcast join (plan size independent of k): BroadcastExchange in
        the plan, no k-wide literal projection."""
        from ocr_search_spark.ops.similarity import ivf_assign

        # k=256 synthetic centroids (> _LITERAL_CELL_LIMIT)
        rng = np.random.RandomState(7)
        cents = [(i, [float(x) for x in rng.rand(16)]) for i in range(256)]
        df = ivf_assign(emb, cents)  # auto -> join
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" in plan
        out = {r.id: r.centroid_id for r in df.collect()}
        assert len(out) == 60 and set(out.values()) <= set(range(256))

    def test_refine_join_matches_literal(self, emb):
        from ocr_search_spark.ops.similarity import (
            ivf_centroids_from_sample,
            ivf_refine,
        )

        cents = ivf_centroids_from_sample(emb, k=8)
        r_lit = ivf_refine(emb, cents, iters=1, method="literal")
        r_jn = ivf_refine(emb, cents, iters=1, method="join")
        assert [cid for cid, _ in r_lit] == [cid for cid, _ in r_jn]
        for (_, a), (_, b) in zip(r_lit, r_jn):
            # per-dim means: float partial-sum order may differ between the
            # two shuffle shapes — compare at oracle rounding precision
            assert all(abs(x - y) < 1e-9 for x, y in zip(a, b))


class TestDecontaminate:
    def _frames(self, spark):
        passage = " ".join(f"bench{i}" for i in range(10))
        docs = spark.createDataFrame(
            [
                ("d1", "clean one " + " ".join(f"w{i}" for i in range(20))),
                ("d2", "intro " + passage + " outro words here"),   # contaminated
                ("d3", "short"),                                    # < k tokens
                ("d4", passage),                                    # exact bench text
                ("d5", " ".join(f"v{i}" for i in range(20))),
            ],
            "doc_id string, text string",
        )
        bench = spark.createDataFrame([(passage,)], "text string")
        return docs, bench

    def test_drops_overlapping_docs_keeps_rest(self, spark):
        from ocr_search_spark.ops.dedup import decontaminate

        docs, bench = self._frames(spark)
        kept = {
            r.doc_id
            for r in decontaminate(docs, bench, "doc_id", "text", shingle_k=8).collect()
        }
        assert kept == {"d1", "d3", "d5"}

    def test_min_shared_threshold(self, spark):
        from ocr_search_spark.ops.dedup import decontaminate

        docs, bench = self._frames(spark)
        # d2/d4 share 3 distinct 8-shingles (passage has 10 tokens);
        # a threshold above that keeps everything
        kept = {
            r.doc_id
            for r in decontaminate(
                docs, bench, "doc_id", "text", shingle_k=8, min_shared=4
            ).collect()
        }
        assert kept == {"d1", "d2", "d3", "d4", "d5"}

    def test_broadcast_plan_no_corpus_shuffle_on_bench_side(self, spark):
        from ocr_search_spark.ops.dedup import decontaminate

        docs, bench = self._frames(spark)
        plan = (
            decontaminate(docs, bench, "doc_id", "text", shingle_k=8)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastExchange" in plan  # bench shingles + contaminated ids


class TestBloomDecontaminate:
    """Bloom-filter membership decontamination (ops/dedup.py bloom_bits +
    bloom_probe + bloom_decontaminate): no false negatives vs the exact
    twin, deterministic false positives under a saturated filter, count
    contract, and the broadcast-semi-join plan shape."""

    def _frames(self, spark):
        passage = " ".join(f"bench{i}" for i in range(10))
        docs = spark.createDataFrame(
            [
                ("d1", "clean one " + " ".join(f"w{i}" for i in range(20))),
                ("d2", "intro " + passage + " outro words here"),
                ("d3", "short"),
                ("d4", passage),
                ("d5", " ".join(f"v{i}" for i in range(20))),
            ],
            "doc_id string, text string",
        )
        bench = spark.createDataFrame([(passage,)], "text string")
        return docs, bench

    def test_no_false_negatives_vs_exact_twin(self, spark):
        """Every doc the exact-set rule drops, the Bloom rule drops too
        (a Bloom filter can only over-accept, never miss a member)."""
        from ocr_search_spark.ops.dedup import bloom_decontaminate, decontaminate

        docs, bench = self._frames(spark)
        exact_kept = {
            r.doc_id
            for r in decontaminate(docs, bench, "doc_id", "text", shingle_k=8).collect()
        }
        bloom_kept = {
            r.doc_id
            for r in bloom_decontaminate(
                docs, bench, "doc_id", "text", shingle_k=8
            ).collect()
        }
        assert bloom_kept <= exact_kept
        # at 2^20 bits / 3 set shingles no FP fires on this corpus
        assert bloom_kept == exact_kept == {"d1", "d3", "d5"}

    def test_probe_counts_and_shingleless_doc(self, spark):
        from ocr_search_spark.ops.dedup import bloom_probe

        docs, bench = self._frames(spark)
        rows = {
            r.id: (r.n_ngrams, r.n_hit, r.contaminated)
            for r in bloom_probe(docs, bench, "doc_id", "text", shingle_k=8).collect()
        }
        assert set(rows) == {"d1", "d2", "d3", "d4", "d5"}
        assert rows["d3"] == (0, 0, False)  # < k tokens: no shingles
        assert rows["d4"] == (3, 3, True)  # the bench passage itself
        assert rows["d2"][1] == 3 and rows["d2"][2]  # the planted overlap
        assert rows["d1"] == (rows["d1"][0], 0, False)

    def test_saturated_filter_flags_everything(self, spark):
        """m_bits=2 saturates instantly — every shingled doc becomes a
        deterministic false positive; shingle-less docs still survive."""
        from ocr_search_spark.ops.dedup import bloom_decontaminate

        docs, bench = self._frames(spark)
        kept = {
            r.doc_id
            for r in bloom_decontaminate(
                docs, bench, "doc_id", "text", shingle_k=8, m_bits=2
            ).collect()
        }
        assert kept == {"d3"}

    def test_validation(self, spark):
        from ocr_search_spark.ops.dedup import bloom_probe

        docs, bench = self._frames(spark)
        with pytest.raises(ValueError):
            bloom_probe(docs, bench, "doc_id", "text", shingle_k=0).collect()
        with pytest.raises(ValueError):
            bloom_probe(docs, bench, "doc_id", "text", k_hashes=0).collect()
        with pytest.raises(ValueError):
            bloom_probe(docs, bench, "doc_id", "text", m_bits=1).collect()

    def test_probe_plan_broadcasts_bits_no_shingle_shuffle(self, spark):
        from ocr_search_spark.ops.dedup import bloom_probe

        docs, bench = self._frames(spark)
        plan = (
            bloom_probe(docs, bench, "doc_id", "text", shingle_k=8)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastExchange" in plan
        assert plan.count("LeftSemi") >= 3  # one semi-join per hash family
        assert "CartesianProduct" not in plan


class TestVocabDrift:
    """Vocabulary distribution drift (ops/text_analysis.py vocab_drift):
    exact half-bit log-ratio vs a scalar model, sign semantics, and the
    word-present-on-one-side-only path."""

    def test_matches_scalar_model(self, spark):
        from ocr_search_spark.ops.text_analysis import vocab_drift

        old = spark.createDataFrame(
            [(1, "common common fading fading fading")], "id long, text string"
        )
        new = spark.createDataFrame(
            [(2, "common common rising rising rising")], "id long, text string"
        )
        got = {r.w: (r.c_old, r.c_new, r.lr_hb) for r in vocab_drift(old, new).collect()}

        def hb(x):
            return (x * x).bit_length() - 1

        v, t_old, t_new = 3, 5, 5
        want = {
            "common": (2, 2),
            "fading": (3, 0),
            "rising": (0, 3),
        }
        for w, (co, cn) in want.items():
            lr = (hb(cn + 1) - hb(t_new + v)) - (hb(co + 1) - hb(t_old + v))
            assert got[w] == (co, cn, lr), w
        assert got["rising"][2] > 0 > got["fading"][2]
        assert got["common"][2] == 0


class TestCollocations:
    """word2vec phrase mining (ops/text_analysis.py collocations):
    planted-phrase recovery, exact q40 score, min_count/delta guards."""

    def test_planted_phrase_scores_highest(self, spark):
        from ocr_search_spark.ops.text_analysis import collocations

        # "new york" always adjacent; "data" ubiquitous (hub word)
        rows = [(i, "new york data trip data log") for i in range(6)] + [
            (10 + i, "data data warehouse data") for i in range(6)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            (r.l, r.r): (r.pair_count, r.score_q40)
            for r in collocations(df, delta=2, min_count=5).collect()
        }
        # scalar: c(new york)=6, c(new)=6, c(york)=6
        assert out[("new", "york")] == (6, (6 - 2) * (1 << 40) // 36)
        best = max(out.items(), key=lambda kv: kv[1][1])
        assert best[0] == ("new", "york")
        # the hub pair exists but scores far lower
        assert ("data", "trip") in out
        assert out[("data", "trip")][1] < out[("new", "york")][1]

    def test_min_count_prunes_and_guards(self, spark):
        import pytest as _pytest

        from ocr_search_spark.ops.text_analysis import collocations

        df = spark.createDataFrame(
            [(1, "rare pair here"), (2, "other text")],
            "doc_id long, text string",
        )
        assert collocations(df, min_count=5).count() == 0
        with _pytest.raises(ValueError):
            collocations(df, delta=5, min_count=3)
        with _pytest.raises(ValueError):
            collocations(df, min_count=0)


class TestBadwordsFilter:
    """C4-style banned-token gate (ops/scrub.py badwords_filter):
    one hit drops the doc, token boundaries (no substring matches),
    case-insensitive, empty blocklist = identity."""

    def test_gate_semantics(self, spark):
        from ocr_search_spark.ops.scrub import badwords_filter

        df = spark.createDataFrame(
            [
                ("d1", "perfectly clean text here"),
                ("d2", "contains the badword once"),
                ("d3", "BADWORD shouted in caps"),
                ("d4", "badwords plural is a different token"),
                ("d5", "punctuated badword, with comma"),
            ],
            "doc_id string, text string",
        )
        kept = {
            r.doc_id
            for r in badwords_filter(df, "doc_id", "text", ["BadWord"]).collect()
        }
        assert kept == {"d1", "d4"}  # d4 survives: token boundary
        assert badwords_filter(df, "doc_id", "text", []).count() == 5

    def test_blocklist_is_broadcast_data(self, spark):
        from ocr_search_spark.ops.scrub import badwords_filter

        df = spark.createDataFrame(
            [("d1", "some text")], "doc_id string, text string"
        )
        plan = (
            badwords_filter(df, "doc_id", "text", ["x", "y"])
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastExchange" in plan


class TestScrub:
    def test_redact_pii_counts_and_text(self, spark):
        from ocr_search_spark.ops.scrub import redact_pii

        df = spark.createDataFrame(
            [
                ("d1", "mail bob.smith@corp-x.io now"),
                ("d2", "server at 192.168.1.10 port"),
                ("d3", "call +7 912 345 6789 today"),
                ("d4", "clean text no pii at all"),
                ("d5", "a@b.io and 10.0.0.1 and +1 234-567-8901"),
            ],
            "doc_id string, text string",
        )
        out = {r.doc_id: r for r in redact_pii(df, "text").collect()}
        assert (out["d1"].n_email, out["d1"].n_ipv4, out["d1"].n_phone) == (1, 0, 0)
        assert out["d1"].text_redacted == "mail [PII] now"
        assert out["d2"].n_ipv4 == 1 and "[PII]" in out["d2"].text_redacted
        assert out["d3"].n_phone == 1 and out["d3"].text_redacted == "call [PII] today"
        assert out["d4"].text_redacted == "clean text no pii at all"
        assert (out["d5"].n_email, out["d5"].n_ipv4, out["d5"].n_phone) == (1, 1, 1)
        assert out["d5"].text_redacted == "[PII] and [PII] and [PII]"

    def test_url_domains_and_counts(self, spark):
        from ocr_search_spark.ops.scrub import domain_counts, url_domains

        df = spark.createDataFrame(
            [
                ("d1", "see https://a.example.org/p/1 and https://b.net/x?q=2"),
                ("d2", "again https://a.example.org/other"),
                ("d3", "no links here"),
            ],
            "doc_id string, text string",
        )
        rows = url_domains(df, "doc_id", "text").collect()
        assert {(r.id, r.domain) for r in rows} == {
            ("d1", "a.example.org"),
            ("d1", "b.net"),
            ("d2", "a.example.org"),
        }
        dc = {r.domain: (r.n_urls, r.n_docs) for r in domain_counts(df, "doc_id", "text").collect()}
        assert dc == {"a.example.org": (2, 2), "b.net": (1, 1)}

    def test_no_udf_in_plan(self, spark):
        from ocr_search_spark.ops.scrub import redact_pii

        df = spark.createDataFrame([("d1", "x")], "doc_id string, text string")
        plan = redact_pii(df, "text")._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestSampling:
    @pytest.fixture(scope="class")
    def docs(self, spark):
        return spark.createDataFrame(
            [(f"doc-{i}", "t") for i in range(1000)], "doc_id string, text string"
        )

    def test_split_disjoint_exhaustive_repeatable(self, docs):
        from ocr_search_spark.ops.sampling import hash_split

        w = {"train": 0.8, "val": 0.1, "test": 0.1}
        a = {r.doc_id: r.split for r in hash_split(docs, w).collect()}
        b = {r.doc_id: r.split for r in hash_split(docs, w).collect()}
        assert a == b and len(a) == 1000  # repeatable, every row labeled once
        from collections import Counter

        counts = Counter(a.values())
        assert set(counts) == {"train", "val", "test"}
        assert 700 <= counts["train"] <= 880  # ~800 of 1000
        assert 60 <= counts["val"] <= 150 and 60 <= counts["test"] <= 150

    def test_sample_rate_and_salt_independence(self, docs):
        from ocr_search_spark.ops.sampling import deterministic_sample

        s1 = {r.doc_id for r in deterministic_sample(docs, 0.25, salt="a").collect()}
        s1b = {r.doc_id for r in deterministic_sample(docs, 0.25, salt="a").collect()}
        s2 = {r.doc_id for r in deterministic_sample(docs, 0.25, salt="b").collect()}
        assert s1 == s1b  # repeatable
        assert 180 <= len(s1) <= 320  # ~250 of 1000
        # different salts draw (near-)independent samples
        overlap = len(s1 & s2) / max(len(s1), 1)
        assert overlap < 0.5

    def test_weights_must_sum_to_one(self, docs):
        from ocr_search_spark.ops.sampling import hash_split

        with pytest.raises(ValueError):
            hash_split(docs, {"a": 0.5, "b": 0.4})


class TestRelational:
    def _events(self, spark):
        # (key, ts, id): two users, interleaved purchases/clicks
        rows = [
            ("u1", 100, 1, "click"),
            ("u1", 200, 2, "click"),
            ("u1", 200, 3, "click"),      # tie on ts with id 2
            ("u1", 250, 4, "purchase"),
            ("u1", 300, 5, "purchase"),
            ("u1", 400, 6, "click"),
            ("u2", 50, 7, "purchase"),    # no prior click
            ("u2", 500, 8, "click"),
            ("u2", 500, 9, "purchase"),   # inclusive: same-ts click matches
        ]
        return spark.createDataFrame(
            rows, "user_id string, ets long, event_id long, kind string"
        )

    def test_asof_backward_inclusive_with_ties(self, spark):
        from pyspark.sql import functions as F

        from ocr_search_spark.ops.relational import asof_join

        ev = self._events(spark)
        l = ev.filter(F.col("kind") == "purchase").drop("kind")
        r = ev.filter(F.col("kind") == "click").drop("kind")
        out = {
            row.event_id: row.event_id_r
            for row in asof_join(
                l, r, on="user_id", left_ts="ets", right_ts="ets",
                tiebreak="event_id",
            ).collect()
        }
        # ties on right ts resolve to the max tiebreak (id 3, not 2)
        assert out == {4: 3, 5: 3, 7: None, 9: 8}

    def test_asof_tolerance(self, spark):
        from pyspark.sql import functions as F

        from ocr_search_spark.ops.relational import asof_join

        ev = self._events(spark)
        l = ev.filter(F.col("kind") == "purchase").drop("kind")
        r = ev.filter(F.col("kind") == "click").drop("kind")
        out = {
            row.event_id: row.event_id_r
            for row in asof_join(
                l, r, on="user_id", left_ts="ets", right_ts="ets",
                tiebreak="event_id", tolerance_s=60,
            ).collect()
        }
        # 250-200=50 in tolerance; 300-200=100 out; 500-500=0 in
        assert out == {4: 3, 5: None, 7: None, 9: 8}

    def test_asof_plan_has_no_join_node(self, spark):
        from pyspark.sql import functions as F

        from ocr_search_spark.ops.relational import asof_join

        ev = self._events(spark)
        l = ev.filter(F.col("kind") == "purchase").drop("kind")
        r = ev.filter(F.col("kind") == "click").drop("kind")
        plan = (
            asof_join(l, r, on="user_id", left_ts="ets", right_ts="ets",
                      tiebreak="event_id")
            ._jdf.queryExecution().executedPlan().toString()
        )
        # the union+window rewrite must never fall back to a theta join
        assert "Join" not in plan and "CartesianProduct" not in plan
        assert "Window" in plan

    def test_range_join_matches_naive(self, spark):
        from pyspark.sql import functions as F

        from ocr_search_spark.ops.relational import range_join

        ev = self._events(spark)
        l = ev.filter(F.col("kind") == "purchase").drop("kind")
        r = ev.filter(F.col("kind") == "click").drop("kind")
        got = {
            (row.event_id, row.event_id_r)
            for row in range_join(
                l, r, on="user_id", left_ts="ets", right_ts="ets",
                lookback_s=100,
            ).collect()
        }
        naive = {
            (lid, rid)
            for (lu, lt, lid) in [("u1", 250, 4), ("u1", 300, 5),
                                  ("u2", 50, 7), ("u2", 500, 9)]
            for (ru, rt, rid) in [("u1", 100, 1), ("u1", 200, 2),
                                  ("u1", 200, 3), ("u1", 400, 6),
                                  ("u2", 500, 8)]
            if lu == ru and rt <= lt and rt >= lt - 100
        }
        assert got == naive

    def test_range_join_is_equi_join(self, spark):
        from pyspark.sql import functions as F

        from ocr_search_spark.ops.relational import range_join

        ev = self._events(spark)
        l = ev.filter(F.col("kind") == "purchase").drop("kind")
        r = ev.filter(F.col("kind") == "click").drop("kind")
        plan = (
            range_join(l, r, on="user_id", left_ts="ets", right_ts="ets",
                       lookback_s=100)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_timestamp_columns_accepted(self, spark):
        import datetime as dt

        from ocr_search_spark.ops.relational import asof_join

        base = dt.datetime(2024, 1, 1)
        l = spark.createDataFrame(
            [("u1", base + dt.timedelta(seconds=100), 1)],
            "user_id string, ts timestamp, event_id long",
        )
        r = spark.createDataFrame(
            [("u1", base + dt.timedelta(seconds=40), 2)],
            "user_id string, ts timestamp, event_id long",
        )
        out = asof_join(
            l, r, on="user_id", left_ts="ts", right_ts="ts",
            tiebreak="event_id", tolerance_s=30,
        ).collect()
        assert out[0].event_id_r is None  # 60 s gap > 30 s tolerance


class TestLineDedupWithinDoc:
    """Intra-doc repeated-line removal (ops/lines.py
    remove_repeated_lines_within_doc): keep-first semantics, short-line
    floor, zero-shuffle plan."""

    def test_keep_first_semantics(self, spark):
        from ocr_search_spark.ops.lines import remove_repeated_lines_within_doc

        df = spark.createDataFrame(
            [
                ("d1", "alpha\nbeta\nalpha\ngamma\nbeta"),
                ("d2", "x\n\ny\n\nx"),  # empty lines survive (min_chars)
                ("d3", None),  # null text → one empty line, nothing removed
            ],
            "doc_id string, text string",
        )
        rows = {
            r.doc_id: r
            for r in remove_repeated_lines_within_doc(df, "doc_id", "text").collect()
        }
        assert rows["d1"].text_clean == "alpha\nbeta\ngamma"
        assert (rows["d1"].n_lines, rows["d1"].n_removed) == (5, 2)
        # kept: [x, '', y, ''] — empties survive, repeated 'x' dropped
        assert rows["d2"].text_clean == "x\n\ny\n"
        assert rows["d2"].n_removed == 1  # only the repeated 'x'
        assert rows["d3"].text_clean == "" and rows["d3"].n_removed == 0

    def test_min_chars_floor(self, spark):
        from ocr_search_spark.ops.lines import remove_repeated_lines_within_doc

        df = spark.createDataFrame(
            [("d1", "ab\nab\nlong line\nlong line")],
            "doc_id string, text string",
        )
        out = remove_repeated_lines_within_doc(
            df, "doc_id", "text", min_chars=5
        ).collect()[0]
        assert out.text_clean == "ab\nab\nlong line"  # short repeat kept

    def test_zero_shuffle_plan(self, spark):
        from ocr_search_spark.ops.lines import remove_repeated_lines_within_doc

        df = spark.createDataFrame(
            [("d1", "a\nb")], "doc_id string, text string"
        )
        plan = (
            remove_repeated_lines_within_doc(df, "doc_id", "text")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan  # one narrow projection, no shuffle


class TestLineDedup:
    def _df(self, spark):
        return spark.createDataFrame(
            [
                ("d1", "unique one\nshared line\ntail one"),
                ("d2", "shared line\nunique two"),
                ("d3", "all mine\n\nstill mine"),
                ("d4", "shared line\nshared line"),  # twice in one doc
            ],
            "doc_id string, text string",
        )

    def test_duplicate_lines_min_docs(self, spark):
        from ocr_search_spark.ops.lines import duplicate_lines, explode_lines

        ex = explode_lines(self._df(spark), "doc_id", "text")
        dups = duplicate_lines(ex, min_docs=2).collect()
        assert len(dups) == 1
        assert dups[0].n_docs == 3 and dups[0].n_occurrences == 4

    def test_empty_lines_never_duplicate(self, spark):
        from ocr_search_spark.ops.lines import duplicate_lines, explode_lines

        df = spark.createDataFrame(
            [("a", "x\n\ny"), ("b", "z\n\nw")], "doc_id string, text string"
        )
        ex = explode_lines(df, "doc_id", "text")
        assert duplicate_lines(ex, min_docs=2).count() == 0

    def test_remove_preserves_order_and_counts(self, spark):
        from ocr_search_spark.ops.lines import remove_duplicate_lines

        out = {
            r.doc_id: r
            for r in remove_duplicate_lines(
                self._df(spark), "doc_id", "text", min_docs=2
            ).collect()
        }
        assert out["d1"].text_clean == "unique one\ntail one"
        assert (out["d1"].n_lines, out["d1"].n_removed) == (3, 1)
        assert out["d2"].text_clean == "unique two"
        assert out["d3"].text_clean == "all mine\n\nstill mine"
        assert out["d3"].n_removed == 0
        # every line was boilerplate → doc survives with empty text
        assert out["d4"].text_clean == "" and out["d4"].n_removed == 2

    def test_literal_delimiter_not_regex(self, spark):
        from ocr_search_spark.ops.lines import remove_duplicate_lines

        df = spark.createDataFrame(
            [("a", "p. q. r"), ("b", "q. s")], "doc_id string, text string"
        )
        out = {
            r.doc_id: r.text_clean
            for r in remove_duplicate_lines(
                df, "doc_id", "text", delim=". ", min_docs=2
            ).collect()
        }
        assert out == {"a": "p. r", "b": "s"}

    def test_no_udf_in_plan(self, spark):
        from ocr_search_spark.ops.lines import remove_duplicate_lines

        plan = (
            remove_duplicate_lines(self._df(spark), "doc_id", "text")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestCorpusMixing:
    def test_topk_per_group_ranks_and_ties(self, spark):
        from ocr_search_spark.ops.sampling import topk_per_group

        df = spark.createDataFrame(
            [
                ("en", "a", 10), ("en", "b", 30), ("en", "c", 20),
                ("en", "d", 30),  # tie with b -> tiebreak on id asc
                ("fr", "e", 5),
            ],
            "lang string, doc_id string, n int",
        )
        got = {
            (r.lang, r.doc_id)
            for r in topk_per_group(
                df, "lang", "n", 2, tiebreak_col="doc_id"
            ).collect()
        }
        assert got == {("en", "b"), ("en", "d"), ("fr", "e")}

    def test_topk_ascending(self, spark):
        from ocr_search_spark.ops.sampling import topk_per_group

        df = spark.createDataFrame(
            [("x", "a", 3), ("x", "b", 1), ("x", "c", 2)],
            "g string, doc_id string, n int",
        )
        got = [
            r.doc_id
            for r in topk_per_group(
                df, "g", "n", 1, descending=False, tiebreak_col="doc_id"
            ).collect()
        ]
        assert got == ["b"]

    def test_domain_blocklist_suffix_semantics(self, spark):
        from ocr_search_spark.ops.scrub import domain_blocklist_filter

        df = spark.createDataFrame(
            [
                ("d1", "x https://ads.example.org/banner"),   # subdomain of blocked
                ("d2", "x https://example.org/page"),          # exact blocked
                ("d3", "x https://notexample.org/ok"),         # NOT a suffix match
                ("d4", "x https://safe.net/ok"),
                ("d5", "no urls at all"),
            ],
            "doc_id string, text string",
        )
        kept = {
            r.doc_id
            for r in domain_blocklist_filter(
                df, "doc_id", "text", ["example.org"]
            ).collect()
        }
        assert kept == {"d3", "d4", "d5"}

    def test_empty_blocklist_keeps_everything(self, spark):
        from ocr_search_spark.ops.scrub import domain_blocklist_filter

        df = spark.createDataFrame(
            [("d1", "x https://a.b/p")], "doc_id string, text string"
        )
        assert domain_blocklist_filter(df, "doc_id", "text", []).count() == 1

    def test_grouped_percentiles_match_numpy_linear(self, spark):
        import numpy as np

        from ocr_search_spark.ops.text_analysis import grouped_percentiles

        vals = [3, 1, 4, 1, 5, 9, 2, 6]
        df = spark.createDataFrame(
            [("g", v) for v in vals], "grp string, v int"
        )
        row = grouped_percentiles(df, "grp", "v").collect()[0]
        assert row.n == len(vals)
        for p in (25, 50, 75, 90, 99):
            assert row[f"p{p}"] == float(
                np.percentile(vals, p, method="linear")
            )

    def test_stratified_sample_rates_and_determinism(self, spark):
        from ocr_search_spark.ops.sampling import (
            deterministic_sample,
            stratified_sample,
        )

        rows = [(f"d{i}", "en" if i % 2 == 0 else "sw") for i in range(2000)]
        df = spark.createDataFrame(rows, "doc_id string, lang string")
        out = stratified_sample(df, "lang", {"en": 0.2}, salt="x")
        counts = {r.lang: r.c for r in out.groupBy("lang").agg(
            F.count("*").alias("c")).collect()}
        assert counts["sw"] == 1000            # unlisted group kept whole
        assert 120 <= counts["en"] <= 280      # ~20% of 1000
        # same salt → identical sample; the en subset equals the plain
        # deterministic_sample of the en rows (same hash machinery)
        again = {r.doc_id for r in stratified_sample(
            df, "lang", {"en": 0.2}, salt="x").collect()}
        assert {r.doc_id for r in out.collect()} == again
        en_only = {r.doc_id for r in deterministic_sample(
            df.filter(F.col("lang") == "en"), 0.2, salt="x").collect()}
        assert {d for d in again if int(d[1:]) % 2 == 0} == en_only

    def test_stratified_sample_validates_rates(self, spark):
        from ocr_search_spark.ops.sampling import stratified_sample

        df = spark.createDataFrame([("d", "en")], "doc_id string, lang string")
        with pytest.raises(ValueError):
            stratified_sample(df, "lang", {"en": 1.5})


class TestPagerank:
    @staticmethod
    def _model(edges, n_iter, d=85):
        from collections import Counter, defaultdict

        FP = 1_000_000
        nodes = {n for e in edges for n in e}
        outdeg = Counter(s for s, _ in edges)
        base = FP * (100 - d) // 100
        pr = {n: FP for n in nodes}
        for _ in range(n_iter):
            inc = defaultdict(int)
            for s, t in edges:
                inc[t] += pr[s] // outdeg[s]
            pr = {n: base + (inc.get(n, 0) * d) // 100 for n in nodes}
        return pr

    EDGES = [
        ("a", "b"), ("b", "a"), ("c", "a"), ("c", "b"), ("d", "a"),
        ("a", "b"),  # parallel edge, honoured
        ("e", "d"), ("d", "e"),
    ]

    def test_matches_scalar_model(self, spark):
        from ocr_search_spark.ops.graph import pagerank

        df = spark.createDataFrame(self.EDGES, "src string, dst string")
        for n_iter in (1, 3, 5):
            got = {
                r.node: r.pr_fp for r in pagerank(df, n_iter=n_iter).collect()
            }
            assert got == self._model(self.EDGES, n_iter), n_iter

    def test_hub_outranks_leaves(self, spark):
        from ocr_search_spark.ops.graph import pagerank

        # hub <-> leaf0 form a 2-cycle that concentrates rank; the
        # stable claim is that both outrank every OTHER leaf, which only
        # ever holds the teleport floor plus decayed mass
        star = [(f"leaf{i}", "hub") for i in range(6)] + [("hub", "leaf0")]
        df = spark.createDataFrame(star, "src string, dst string")
        got = {r.node: r.pr_fp for r in pagerank(df, n_iter=4).collect()}
        plain = [v for k, v in got.items() if k not in ("hub", "leaf0")]
        assert got["hub"] > max(plain) and got["leaf0"] > max(plain)

    def test_deterministic_across_runs_and_partitioning(self, spark):
        from ocr_search_spark.ops.graph import pagerank

        df = spark.createDataFrame(self.EDGES, "src string, dst string")
        a = {r.node: r.pr_fp for r in pagerank(df, n_iter=3).collect()}
        b = {
            r.node: r.pr_fp
            for r in pagerank(df.repartition(7), n_iter=3).collect()
        }
        assert a == b

    def test_validates_params(self, spark):
        from ocr_search_spark.ops.graph import pagerank

        df = spark.createDataFrame([("a", "b")], "src string, dst string")
        with pytest.raises(ValueError):
            pagerank(df, n_iter=0)
        with pytest.raises(ValueError):
            pagerank(df, damping_pct=100)

    def test_domain_link_edges(self, spark):
        from ocr_search_spark.ops.graph import domain_link_edges

        rows = [
            (1, "www.blog.example.com", "see https://news.bbc.co.uk/a"),
            (2, "blog.example.com", "see https://cdn.example.com/x"),  # self
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, site string, text string"
        )
        got = {
            (r.src, r.dst)
            for r in domain_link_edges(df, "site", "text", "doc_id").collect()
        }
        assert got == {("example.com", "bbc.co.uk")}


class TestParagraphDedup:
    def test_shared_paragraph_removed_short_kept(self, spark):
        from ocr_search_spark.ops.lines import remove_duplicate_paragraphs

        banner = "we use cookies on this site to improve your experience"
        rows = [
            (1, f"{banner}\n\nunique body one\n\nshort"),
            (2, f"{banner}\n\nunique body two\n\nshort"),
            (3, "standalone document with its own text"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r.doc_id: (r.text_clean, r.n_lines, r.n_removed)
            for r in remove_duplicate_paragraphs(df, "doc_id", "text").collect()
        }
        # banner (cross-doc, >=10 chars) removed; "short" (<10 chars)
        # repeats but stays under the triviality floor
        assert out[1] == ("unique body one\n\nshort", 3, 1)
        assert out[2] == ("unique body two\n\nshort", 3, 1)
        assert out[3] == ("standalone document with its own text", 1, 0)


class TestChunkDocuments:
    def test_windows_and_overlap(self, spark):
        from ocr_search_spark.ops.sampling import chunk_documents

        text = " ".join(f"t{i}" for i in range(10))  # 10 tokens
        df = spark.createDataFrame([("d", text)], "doc_id string, text string")
        out = sorted(
            (r.chunk_idx, r.chunk_text, r.n_tokens)
            for r in chunk_documents(
                df, "doc_id", "text", chunk_tokens=4, overlap=1
            ).collect()
        )
        # stride 3: starts 0,3,6 -> ceil((10-1)/3)=3 chunks
        assert out == [
            (0, "t0 t1 t2 t3", 4),
            (1, "t3 t4 t5 t6", 4),
            (2, "t6 t7 t8 t9", 4),
        ]

    def test_short_and_empty_docs_one_chunk(self, spark):
        from ocr_search_spark.ops.sampling import chunk_documents

        df = spark.createDataFrame(
            [("s", "only three tokens"), ("e", "")],
            "doc_id string, text string",
        )
        out = {
            r.id: (r.chunk_idx, r.n_tokens)
            for r in chunk_documents(
                df, "doc_id", "text", chunk_tokens=8, overlap=2
            ).collect()
        }
        assert out == {"s": (0, 3), "e": (0, 0)}

    def test_every_token_covered(self, spark):
        from ocr_search_spark.ops.sampling import chunk_documents

        text = " ".join(f"w{i}" for i in range(53))
        df = spark.createDataFrame([("d", text)], "doc_id string, text string")
        rows = chunk_documents(
            df, "doc_id", "text", chunk_tokens=16, overlap=4
        ).collect()
        covered = set()
        for r in rows:
            covered.update(r.chunk_text.split(" "))
        assert covered == {f"w{i}" for i in range(53)}
        # consecutive chunks share exactly `overlap` tokens
        by_idx = {r.chunk_idx: r.chunk_text.split(" ") for r in rows}
        for i in range(len(by_idx) - 1):
            assert by_idx[i][-4:] == by_idx[i + 1][:4]

    def test_validates_params(self, spark):
        from ocr_search_spark.ops.sampling import chunk_documents

        df = spark.createDataFrame([("d", "x")], "doc_id string, text string")
        with pytest.raises(ValueError):
            chunk_documents(df, "doc_id", "text", chunk_tokens=0)
        with pytest.raises(ValueError):
            chunk_documents(df, "doc_id", "text", chunk_tokens=8, overlap=8)


class TestLinearClassifier:
    def _weights(self, spark, mapping):
        from ocr_search_spark.ops.classify import token_bucket_expr

        toks = spark.createDataFrame(
            [(t, w) for t, w in mapping.items()], "tok string, w long"
        )
        return toks.select(
            token_bucket_expr(F.col("tok"), 1 << 18).alias("bucket"),
            F.col("w").alias("weight_fp"),
        )

    def test_logit_is_count_weighted_sum(self, spark):
        from ocr_search_spark.ops.classify import linear_scores

        df = spark.createDataFrame(
            [(1, "good good bad"), (2, "neutral words only"), (3, "")],
            "doc_id long, text string",
        )
        w = self._weights(spark, {"good": 500_000, "bad": -250_000})
        out = {
            r.id: r.logit_fp
            for r in linear_scores(
                df, "doc_id", "text", w, bias_fp=1000, bigrams=False
            ).collect()
        }
        assert out == {1: 2 * 500_000 - 250_000 + 1000, 2: 1000, 3: 1000}

    def test_bigram_features_fire(self, spark):
        from ocr_search_spark.ops.classify import linear_scores

        df = spark.createDataFrame(
            [(1, "new york"), (2, "york new")], "doc_id long, text string"
        )
        w = self._weights(spark, {"new_york": 1_000_000})
        out = {
            r.id: r.logit_fp
            for r in linear_scores(df, "doc_id", "text", w).collect()
        }
        # bigram is ordered: only doc 1 contains "new_york"
        assert out == {1: 1_000_000, 2: 0}

    def test_filter_and_broadcast_plan(self, spark):
        from ocr_search_spark.ops.classify import classifier_filter

        df = spark.createDataFrame(
            [(1, "good doc"), (2, "bad doc")], "doc_id long, text string"
        )
        w = self._weights(spark, {"good": 1_000_000, "bad": -1_000_000})
        kept = classifier_filter(
            df, "doc_id", "text", w, threshold_fp=1, bigrams=False
        )
        assert [r.doc_id for r in kept.collect()] == [1]
        plan = kept._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "PythonUDF" not in plan

    def test_sigmoid_monotone(self, spark):
        from ocr_search_spark.ops.classify import sigmoid_score

        df = spark.createDataFrame(
            [(-2_000_000,), (0,), (2_000_000,)], "logit_fp long"
        ).select(sigmoid_score("logit_fp").alias("s"))
        vals = [r.s for r in df.collect()]
        assert vals[0] < 0.5 and abs(vals[1] - 0.5) < 1e-12 and vals[2] > 0.5

    _NB_CORPUS = [
        (1, "pos", "quality quality text"),
        (2, "pos", "quality text"),
        (3, "neg", "spam spam text"),
        (4, "neg", "spam text"),
    ]

    def test_nb_train_matches_scalar_model(self, spark):
        """Every trained weight equals the pure-Python NB model exactly
        (same md5 buckets, same half-bit lattice, same NB_HB_FP scale)."""
        import hashlib

        from ocr_search_spark.ops.classify import NB_HB_FP, nb_train

        n_buckets = 1 << 18
        df = spark.createDataFrame(
            self._NB_CORPUS, "doc_id long, label string, text string"
        )
        got = {
            r.bucket: r.weight_fp
            for r in nb_train(
                df, "label", "pos", n_buckets=n_buckets, bigrams=False
            ).collect()
        }

        def bucket(tok):
            return (
                int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % n_buckets
            )

        def hb(x):
            return (x * x).bit_length() - 1

        cp, cn = {}, {}
        for _, label, text in self._NB_CORPUS:
            for tok in text.split():
                d = cp if label == "pos" else cn
                d[bucket(tok)] = d.get(bucket(tok), 0) + 1
        tp, tn = sum(cp.values()), sum(cn.values())
        want = {
            b: NB_HB_FP
            * (
                (hb(cp.get(b, 0) + 1) - hb(tp + n_buckets))
                - (hb(cn.get(b, 0) + 1) - hb(tn + n_buckets))
            )
            for b in set(cp) | set(cn)
        }
        assert got == want
        # sanity on the signs: pos-only token up, neg-only down, shared ~0
        assert got[bucket("quality")] > 0 > got[bucket("spam")]
        assert got[bucket("text")] == 0

    def test_nb_train_serve_ranks_by_class(self, spark):
        from ocr_search_spark.ops.classify import linear_scores, nb_train

        train = spark.createDataFrame(
            self._NB_CORPUS, "doc_id long, label string, text string"
        )
        w = nb_train(train, "label", "pos", bigrams=False)
        new = spark.createDataFrame(
            [(10, "quality quality"), (11, "text"), (12, "spam spam")],
            "doc_id long, text string",
        )
        out = {
            r.id: r.logit_fp
            for r in linear_scores(
                new, "doc_id", "text", w, bigrams=False
            ).collect()
        }
        assert out[10] > out[11] > out[12]
        assert out[11] == 0  # neutral shared token

    def test_nb_train_serve_plan_jvm_only(self, spark):
        from ocr_search_spark.ops.classify import linear_scores, nb_train

        train = spark.createDataFrame(
            self._NB_CORPUS, "doc_id long, label string, text string"
        )
        w = nb_train(train, "label", "pos")
        scored = linear_scores(train, "doc_id", "text", w)
        plan = scored._jdf.queryExecution().executedPlan().toString()
        assert "PythonUDF" not in plan
        # the model rides a broadcast join onto the feature stream
        assert "BroadcastHashJoin" in plan


class TestPerceptron:
    """Averaged batch perceptron (ops/classify.py perceptron_train +
    perceptron_scores + perceptron_select): exact parity vs a scalar
    model (same md5 buckets, same bias bucket −1, same round-summed
    averaging incl. the early-stop credit), convergence on separable
    data, and the rank-selection contract."""

    @staticmethod
    def _scalar(corpus, pos_label, n_iters, n_buckets=1 << 18):
        import hashlib

        def bucket(tok):
            return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % n_buckets

        docs = []
        for _id, label, text in corpus:
            f = {-1: 1}
            for tok in text.split():
                b = bucket(tok)
                f[b] = f.get(b, 0) + 1
            docs.append((_id, f, 1 if label == pos_label else -1))
        w, acc = {}, {}
        for r in range(1, n_iters + 1):
            mis = [
                (f, y)
                for _i, f, y in docs
                if y * sum(c * w.get(b, 0) for b, c in f.items()) <= 0
            ]
            if not mis:
                for b, v in w.items():
                    acc[b] = acc.get(b, 0) + (n_iters - r + 1) * v
                break
            for f, y in mis:
                for b, c in f.items():
                    w[b] = w.get(b, 0) + y * c
            for b, v in w.items():
                acc[b] = acc.get(b, 0) + v
        weights = {b: v for b, v in acc.items() if v != 0}
        scores = {
            _id: sum(c * weights.get(b, 0) for b, c in f.items())
            for _id, f, y in docs
        }
        return weights, scores

    _CORPUS = [
        (1, "pos", "quality quality text"),
        (2, "pos", "quality text"),
        (3, "neg", "spam spam text"),
        (4, "neg", "spam text"),
    ]

    def test_train_matches_scalar_model(self, spark):
        from ocr_search_spark.ops.classify import perceptron_train

        df = spark.createDataFrame(
            self._CORPUS, "doc_id long, label string, text string"
        )
        got = {
            r.bucket: r.weight
            for r in perceptron_train(
                df, "label", "pos", bigrams=False, n_iters=3
            ).collect()
        }
        want, _ = self._scalar(self._CORPUS, "pos", 3)
        assert got == want

    def test_separable_converges_with_early_stop_credit(self, spark):
        """On this corpus the separator is found before round 6; the
        early-stopped Spark loop must still equal the scalar model's
        fixed-round sum (the (T-r+1) credit)."""
        from ocr_search_spark.ops.classify import (
            perceptron_scores,
            perceptron_train,
        )

        df = spark.createDataFrame(
            self._CORPUS, "doc_id long, label string, text string"
        )
        w = perceptron_train(df, "label", "pos", bigrams=False, n_iters=6)
        got_w = {r.bucket: r.weight for r in w.collect()}
        want_w, want_s = self._scalar(self._CORPUS, "pos", 6)
        assert got_w == want_w
        got_s = {
            r.id: r.score
            for r in perceptron_scores(df, w, bigrams=False).collect()
        }
        assert got_s == want_s
        # a converged separator classifies its training set perfectly
        assert got_s[1] > 0 and got_s[2] > 0 and got_s[3] <= 0 and got_s[4] <= 0

    def test_select_rank_contract(self, spark):
        from ocr_search_spark.ops.classify import perceptron_select

        df = spark.createDataFrame(
            self._CORPUS, "doc_id long, label string, text string"
        )
        rows = (
            perceptron_select(
                df, "label", "pos", bigrams=False, n_iters=6, k=2
            )
            .orderBy("rnk")
            .collect()
        )
        assert [r.id for r in rows] == [1, 2]  # the positive docs
        assert [r.rnk for r in rows] == [1, 2]
        assert rows[0].score >= rows[1].score

    def test_validation(self, spark):
        from ocr_search_spark.ops.classify import perceptron_train

        df = spark.createDataFrame(
            self._CORPUS, "doc_id long, label string, text string"
        )
        with pytest.raises(ValueError):
            perceptron_train(df, "label", "pos", n_iters=0)


class TestShardManifest:
    def _df(self, spark, rows):
        return spark.createDataFrame(
            rows, "shard string, doc_id long, text string, toks long"
        )

    ROWS = [("s0", i, f"text number {i}", 3) for i in range(40)] + [
        ("s1", 100 + i, f"other {i}", 2) for i in range(10)
    ]

    def test_matches_scalar_model_and_partition_invariance(self, spark):
        import functools
        import hashlib

        from ocr_search_spark.ops.sampling import shard_manifest

        df = self._df(spark, self.ROWS)
        out = {
            r.shard: (r.n_docs, r.n_tokens, r.min_id, r.max_id, r.content_xor)
            for r in shard_manifest(
                df, ["shard"], "doc_id", "text", "toks"
            ).collect()
        }

        def digest(i, t):
            return int(
                hashlib.md5(f"{i}:{t}".encode()).hexdigest()[:15], 16
            )

        for shard in ("s0", "s1"):
            rows = [r for r in self.ROWS if r[0] == shard]
            want_xor = functools.reduce(
                lambda a, b: a ^ b, (digest(r[1], r[2]) for r in rows)
            )
            assert out[shard] == (
                len(rows),
                sum(r[3] for r in rows),
                min(r[1] for r in rows),
                max(r[1] for r in rows),
                want_xor,
            )

        # XOR is order/partitioning independent: any repartition agrees
        re = {
            r.shard: r.content_xor
            for r in shard_manifest(
                df.repartition(7, "text"), ["shard"], "doc_id", "text", "toks"
            ).collect()
        }
        assert re == {s: v[4] for s, v in out.items()}

    def test_single_edit_flips_checksum(self, spark):
        from ocr_search_spark.ops.sampling import shard_manifest

        a = self._df(spark, self.ROWS)
        edited = [
            (s, i, t + "!" if i == 7 else t, k) for s, i, t, k in self.ROWS
        ]
        b = self._df(spark, edited)
        xa = {
            r.shard: r.content_xor
            for r in shard_manifest(a, ["shard"], "doc_id", "text").collect()
        }
        xb = {
            r.shard: r.content_xor
            for r in shard_manifest(b, ["shard"], "doc_id", "text").collect()
        }
        assert xa["s0"] != xb["s0"] and xa["s1"] == xb["s1"]

    def test_null_text_raises_not_silently_skips(self, spark):
        import pytest

        from ocr_search_spark.ops.sampling import shard_manifest

        df = self._df(spark, self.ROWS[:3] + [("s0", 99, None, 1)])
        with pytest.raises(Exception, match="shard_manifest: null"):
            shard_manifest(df, ["shard"], "doc_id", "text").collect()


class TestDistinctSketch:
    def test_zero_bits_is_exact(self, spark):
        from ocr_search_spark.ops.sketch import distinct_estimate

        df = spark.createDataFrame(
            [("a", str(i % 7)) for i in range(50)]
            + [("b", str(i % 3)) for i in range(9)],
            "grp string, v string",
        )
        out = {
            r.grp: (r.n_sampled, r.n_est)
            for r in distinct_estimate(df, ["grp"], "v", 0).collect()
        }
        assert out == {"a": (7, 7), "b": (3, 3)}

    def test_sample_matches_scalar_model(self, spark):
        """The threshold decision and the estimate equal the pure-Python
        md5 model exactly — duplicates never change the sample."""
        import hashlib

        from ocr_search_spark.ops.sketch import distinct_estimate

        bits = 4
        vals = [str(i) for i in range(1000)]
        df = spark.createDataFrame(
            [("g", v) for v in vals] + [("g", v) for v in vals[:100]],
            "grp string, v string",
        )
        [row] = distinct_estimate(df, ["grp"], "v", bits).collect()

        cutoff = (1 << 32) >> bits
        want = sum(
            1
            for v in vals
            if int(hashlib.md5(v.encode()).hexdigest()[:8], 16) < cutoff
        )
        assert (row.n_sampled, row.n_est) == (want, want << bits)
        # ~1000/16 expected; determinism means an exact constant here
        assert 30 <= row.n_sampled <= 100

    def test_sampled_jaccard_identical_sets(self, spark):
        from ocr_search_spark.ops.sketch import sampled_jaccard

        rows = [(s, str(i)) for s in ("x", "y") for i in range(200)]
        df = spark.createDataFrame(rows, "grp string, v string")
        [r] = sampled_jaccard(df, "grp", "v", 2).collect()
        assert (r.set_a, r.set_b) == ("x", "y")
        assert r.n_inter == r.n_union and r.jaccard_pm == 1000

    def test_sampled_jaccard_disjoint_sets_emit_nothing(self, spark):
        from ocr_search_spark.ops.sketch import sampled_jaccard

        rows = [("x", f"a{i}") for i in range(200)] + [
            ("y", f"b{i}") for i in range(200)
        ]
        df = spark.createDataFrame(rows, "grp string, v string")
        assert sampled_jaccard(df, "grp", "v", 2).count() == 0

    def test_half_overlap_estimate_and_validation(self, spark):
        import pytest

        from ocr_search_spark.ops.sketch import (
            distinct_sample,
            sampled_jaccard,
        )

        common = [str(i) for i in range(300)]
        rows = (
            [("x", v) for v in common]
            + [("x", f"ax{i}") for i in range(300)]
            + [("y", v) for v in common]
            + [("y", f"by{i}") for i in range(300)]
        )
        df = spark.createDataFrame(rows, "grp string, v string")
        [r] = sampled_jaccard(df, "grp", "v", 2).collect()
        # true jaccard 300/900 = 333 pm; the 1/4 sample estimate should
        # land in a generous band around it (deterministic, not flaky)
        assert 150 <= r.jaccard_pm <= 550
        with pytest.raises(ValueError):
            distinct_sample(df, ["grp"], "v", 32)


class TestRegisteredDomain:
    CASES = [
        ("news.bbc.co.uk", "bbc.co.uk"),
        ("bbc.co.uk", "bbc.co.uk"),
        ("co.uk", "co.uk"),  # bare suffix: no registrable part, kept whole
        ("www.example.com", "example.com"),
        ("example.com", "example.com"),
        ("a.b.c.example.org", "example.org"),
        ("dept.site.act.gov.au", "site.act.gov.au"),  # 3-label suffix
        ("site.act.gov.au", "site.act.gov.au"),
        ("x.gov.au", "x.gov.au"),  # 2-label suffix, 3 labels
        ("localhost", "localhost"),
        ("example.com.", "example.com"),  # FQDN trailing dot stripped
        ("WWW.Example.COM", "example.com"),  # lowercased before matching
        ("News.BBC.CO.UK", "bbc.co.uk"),
    ]

    def test_hand_cases(self, spark):
        from ocr_search_spark.ops.scrub import registered_domain_expr

        df = spark.createDataFrame(
            [(d,) for d, _ in self.CASES], "domain string"
        ).select("domain", registered_domain_expr("domain").alias("reg"))
        got = {r["domain"]: r["reg"] for r in df.collect()}
        for raw, want in self.CASES:
            assert got[raw] == want, raw

    def test_counts_collapse_subdomains(self, spark):
        from ocr_search_spark.ops.scrub import registered_domain_counts

        rows = [
            (1, "see https://news.bbc.co.uk/a"),
            (2, "see https://sport.bbc.co.uk/b and https://www.bbc.co.uk/c"),
            (3, "see https://example.com/x"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r["reg_domain"]: (r["n_urls"], r["n_docs"])
            for r in registered_domain_counts(df, "doc_id", "text").collect()
        }
        assert out == {"bbc.co.uk": (3, 2), "example.com": (1, 1)}

    def test_no_udf_plan(self, spark):
        from ocr_search_spark.ops.scrub import registered_domain_counts

        df = spark.createDataFrame(
            [(1, "https://a.co.uk/x")], "doc_id long, text string"
        )
        plan = (
            registered_domain_counts(df, "doc_id", "text")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "PythonUDF" not in plan and "BatchEvalPython" not in plan


class TestTemperatureRebalance:
    def _df(self, spark):
        rows = [(f"a{i:03d}", "a") for i in range(160)] + [
            (f"b{i:03d}", "b") for i in range(10)
        ]
        return spark.createDataFrame(rows, "doc_id string, lang string")

    def test_rates_sqrt_path(self, spark):
        from ocr_search_spark.ops.sampling import temperature_rates

        got = {
            r["lang"]: (r["__c"], r["__thresh"])
            for r in temperature_rates(self._df(spark), "lang", 0.5).collect()
        }
        # a: sqrt(10/160)=0.25 -> 2500; b (smallest): rate 1.0 -> 10000
        assert got == {"a": (160, 2500), "b": (10, 10000)}

    def test_alpha_one_keeps_everything(self, spark):
        from ocr_search_spark.ops.sampling import temperature_rebalance

        df = self._df(spark)
        assert temperature_rebalance(df, "lang", alpha=1.0).count() == df.count()

    def test_alpha_zero_flattens(self, spark):
        from ocr_search_spark.ops.sampling import temperature_rates

        got = {
            r["lang"]: r["__thresh"]
            for r in temperature_rates(self._df(spark), "lang", 0.0).collect()
        }
        # alpha=0: rate = cmin/c exactly -> uniform expected counts
        assert got == {"a": 625, "b": 10000}

    def test_rebalance_deterministic_and_subset(self, spark):
        from ocr_search_spark.ops.sampling import temperature_rebalance

        df = self._df(spark)
        out1 = {r["doc_id"] for r in temperature_rebalance(df, "lang").collect()}
        out2 = {r["doc_id"] for r in temperature_rebalance(df, "lang").collect()}
        assert out1 == out2
        # smallest group survives whole; big group thinned to ~sqrt ratio
        assert all(d.startswith("b") or d.startswith("a") for d in out1)
        assert sum(d.startswith("b") for d in out1) == 10
        n_a = sum(d.startswith("a") for d in out1)
        assert 0 < n_a < 160  # thinned, not emptied

    def test_validates_alpha(self, spark):
        from ocr_search_spark.ops.sampling import temperature_rebalance

        with pytest.raises(ValueError):
            temperature_rebalance(self._df(spark), "lang", alpha=1.5)

    def test_plan_broadcasts_rates(self, spark):
        from ocr_search_spark.ops.sampling import temperature_rebalance

        plan = (
            temperature_rebalance(self._df(spark), "lang")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


class TestUnimax:
    COUNTS = {"a": 160, "b": 10, "c": 40}

    @staticmethod
    def _model(counts: dict, budget: int) -> dict:
        """Scalar water-fill: ascending by (count, group); full groups
        take all; the first non-full rank's integer share caps the rest."""
        items = sorted(counts.items(), key=lambda kv: (kv[1], kv[0]))
        t, rem = {}, budget
        for idx, (g, c) in enumerate(items):
            share = rem // (len(items) - idx)
            if c <= share:
                t[g] = c
                rem -= c
            else:
                for g2, _ in items[idx:]:
                    t[g2] = share
                break
        return t

    def _df(self, spark):
        rows = [
            (f"{g}{i:04d}", g) for g, c in self.COUNTS.items() for i in range(c)
        ]
        return spark.createDataFrame(rows, "doc_id string, lang string")

    def test_targets_match_waterfill_model(self, spark):
        from ocr_search_spark.ops.sampling import unimax_rates

        df = self._df(spark)
        for budget in (3, 30, 60, 120, 209, 210, 1000):
            got = {
                r["lang"]: r["__t"]
                for r in unimax_rates(df, "lang", budget).collect()
            }
            assert got == self._model(self.COUNTS, budget), budget

    def test_thresholds_integer_exact(self, spark):
        from ocr_search_spark.ops.sampling import unimax_rates

        got = {
            r["lang"]: (r["__t"], r["__thresh"])
            for r in unimax_rates(self._df(spark), "lang", 60).collect()
        }
        # model: b full (10), rem 50 over {c,a}: share 25 -> both capped
        assert got == {
            "b": (10, 10000),
            "c": (25, 25 * 10000 // 40),
            "a": (25, 25 * 10000 // 160),
        }

    def test_rebalance_budget_and_small_group_whole(self, spark):
        from ocr_search_spark.ops.sampling import unimax_rebalance

        df = self._df(spark)
        out = unimax_rebalance(df, "lang", budget_rows=60)
        by = {
            r["lang"]: r["count"]
            for r in out.groupBy("lang").count().collect()
        }
        assert by["b"] == 10  # smallest group kept whole
        # hash sampling approximates the targets; exact determinism
        assert 10 <= by["a"] <= 45 and 10 <= by["c"] <= 35
        again = unimax_rebalance(df, "lang", budget_rows=60)
        assert {r.doc_id for r in out.collect()} == {
            r.doc_id for r in again.collect()
        }

    def test_validates_budget(self, spark):
        from ocr_search_spark.ops.sampling import unimax_rebalance

        with pytest.raises(ValueError):
            unimax_rebalance(self._df(spark), "lang", budget_rows=0)


class TestPackShards:
    def test_shard_budget_and_determinism(self, spark):
        from ocr_search_spark.ops.sampling import pack_shards

        rows = [(f"d{i:03d}", 300) for i in range(100)]
        df = spark.createDataFrame(rows, "doc_id string, n int")
        out = pack_shards(df, "doc_id", "n", target_tokens=1000, n_groups=4)
        pdf = out.toPandas()
        # every doc assigned exactly once
        assert len(pdf) == 100 and pdf.doc_id.nunique() == 100
        # shard budget: each shard's token sum stays under target + one doc
        sums = pdf.groupby(["shard_group", "shard_idx"]).tokens.sum()
        assert (sums <= 1000 + 300).all()
        # within a group, consecutive docs fill consecutive shards
        g = pdf[pdf.shard_group == pdf.shard_group.iloc[0]].sort_values("doc_id")
        assert list(g.shard_idx) == sorted(g.shard_idx)
        # deterministic
        again = pack_shards(df, "doc_id", "n", 1000, n_groups=4).toPandas()
        assert pdf.sort_values("doc_id").reset_index(drop=True).equals(
            again.sort_values("doc_id").reset_index(drop=True)
        )

    def test_oversized_doc_gets_own_shards(self, spark):
        from ocr_search_spark.ops.sampling import pack_shards

        df = spark.createDataFrame(
            [("a", 100), ("b", 5000), ("c", 100)], "doc_id string, n int"
        )
        out = pack_shards(df, "doc_id", "n", target_tokens=1000, n_groups=1)
        rows = {r.doc_id: r.shard_idx for r in out.collect()}
        # b (5x the budget) starts its own shard; c lands past b's span
        assert rows["a"] == 0 and rows["b"] == 0 and rows["c"] == 5

    def test_null_token_count_raises(self, spark):
        """A null token count must fail loudly, not silently drop the doc
        from every shard (ADVICE r4)."""
        from ocr_search_spark.ops.sampling import pack_shards

        df = spark.createDataFrame(
            [("a", 100), ("b", None), ("c", 100)], "doc_id string, n int"
        )
        with pytest.raises(Exception, match="pack_shards: null"):
            pack_shards(df, "doc_id", "n", target_tokens=1000, n_groups=1).collect()

    def test_group_state_bound_at_scale(self, spark):
        """SCALE.md claim: per-group window state ≈ rows/n_groups — the
        n_groups knob bounds executor memory. 1M synthetic rows into 256
        hash groups must spread within 30% of uniform (same discipline as
        test_plans.TestPartitionBalance)."""
        from pyspark.sql import functions as F

        from ocr_search_spark.ops.sampling import pack_shards

        df = spark.range(1_000_000).select(
            F.format_string("doc_%07d", "id").alias("doc_id"),
            F.lit(500).alias("n"),
        )
        out = pack_shards(df, "doc_id", "n", target_tokens=100_000, n_groups=256)
        sizes = (
            out.groupBy("shard_group").count().agg(
                F.max("count").alias("mx"), F.count("*").alias("groups")
            ).collect()[0]
        )
        assert sizes.groups == 256
        mean = 1_000_000 / 256
        assert sizes.mx <= mean * 1.3


class TestMojibake:
    def test_signals_count_artifacts(self, spark):
        from ocr_search_spark.ops.scrub import mojibake_signals

        cyr = "привет".encode("utf-8").decode("latin-1")
        acute = chr(0xC3) + chr(0xA9)
        df = spark.createDataFrame(
            [
                ("clean", "perfectly fine text"),
                ("bad", "caf" + acute + " " + acute + " �"),
                ("cyr", cyr),
                ("lead_only", "plain " + chr(0xD0) + " no continuation"),
            ],
            "doc_id string, text string",
        )
        got = {
            r.doc_id: r.n_mojibake
            for r in mojibake_signals(df, "text").collect()
        }
        assert got == {"clean": 0, "bad": 3, "cyr": 6, "lead_only": 0}

    def test_filter_drops_damaged_docs(self, spark):
        from ocr_search_spark.ops.scrub import mojibake_filter

        acute = chr(0xC3) + chr(0xA9)
        df = spark.createDataFrame(
            [("ok", "x" * 10_000 + acute), ("bad", acute * 50)],
            "doc_id string, text string",
        )
        kept = {r.doc_id for r in mojibake_filter(df, "text", 5).collect()}
        assert kept == {"ok"}

    def test_no_udf_in_plan(self, spark):
        from ocr_search_spark.ops.scrub import mojibake_signals

        df = spark.createDataFrame([("d", "x")], "doc_id string, text string")
        plan = (
            mojibake_signals(df, "text")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestIntervalJoin:
    """Interval overlap join (ops/relational.py interval_join): exact
    pair set + overlap_us vs brute force, overlap-once dedup across
    many shared bins, malformed-interval drop, keyed plan."""

    def _frames(self, spark):
        l = spark.createDataFrame(
            [
                ("u1", 1, 100.0, 200.0),
                ("u1", 2, 300.0, 310.0),
                ("u1", 3, 500.0, 400.0),  # malformed: end < start
                ("u2", 4, 100.0, 200.0),  # same window, other key
            ],
            "user_id string, lid long, s double, e double",
        )
        r = spark.createDataFrame(
            [
                ("u1", 10, 150.0, 160.0),  # inside l1
                ("u1", 11, 200.0, 250.0),  # touches l1 at a point
                ("u1", 12, 211.0, 299.0),  # gap: matches nothing
                ("u1", 13, 0.0, 1000.0),   # spans everything
                ("u2", 14, 199.0, 500.0),  # overlaps l4 only
            ],
            "user_id string, rid long, s double, e double",
        )
        return l, r

    def test_pairs_and_overlap_vs_brute_force(self, spark):
        from ocr_search_spark.ops.relational import interval_join

        l, r = self._frames(spark)
        got = {
            (row.lid, row.rid_r): row.overlap_us
            for row in interval_join(
                l, r, on="user_id",
                left_start="s", left_end="e",
                right_start="s", right_end="e",
                bin_s=60,
            ).collect()
        }
        lr = [t for t in l.collect() if t.e >= t.s]
        rr = r.collect()
        want = {
            (a.lid, b.rid): int(
                (min(a.e, b.e) - max(a.s, b.s)) * 1_000_000
            )
            for a in lr
            for b in rr
            if a.user_id == b.user_id and a.s <= b.e and b.s <= a.e
        }
        assert got == want
        assert got[(1, 11)] == 0  # point touch: inclusive, zero overlap
        assert (3, 13) not in got  # malformed left row dropped
        assert (1, 14) not in got  # key isolation

    def test_overlap_once_across_many_bins(self, spark):
        """Two intervals sharing ~17 one-second bins must emit exactly
        one pair (first-shared-bin rule, no distinct in the plan)."""
        from ocr_search_spark.ops.relational import interval_join

        l = spark.createDataFrame(
            [("k", 1, 0.0, 17.0)], "user_id string, lid long, s double, e double"
        )
        r = spark.createDataFrame(
            [("k", 2, 5.0, 30.0)], "user_id string, rid long, s double, e double"
        )
        out = interval_join(
            l, r, on="user_id",
            left_start="s", left_end="e", right_start="s", right_end="e",
            bin_s=1,
        )
        rows = out.collect()
        assert len(rows) == 1
        assert rows[0].overlap_us == 12_000_000
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_bin_validation(self, spark):
        from ocr_search_spark.ops.relational import interval_join

        l, r = self._frames(spark)
        with pytest.raises(ValueError):
            interval_join(l, r, on="user_id", left_start="s", left_end="e",
                          right_start="s", right_end="e", bin_s=0)


class TestRelationalRandomized:
    def test_interval_join_matches_naive_on_random_intervals(self, spark):
        """Randomized (seeded) cross-check: bin-decomposed overlap join ≡
        brute-force O(n²) — irregular durations (zero-length points,
        intervals spanning many bins, bin-boundary-exact endpoints),
        several keys, and every bin width must give the same pairs."""
        import random

        from ocr_search_spark.ops.relational import interval_join

        rng = random.Random(7)
        lrows, rrows = [], []
        for i in range(120):
            k = f"u{rng.randint(0, 4)}"
            s = rng.randint(0, 600)
            d = rng.choice([0, 1, 3, 17, 60, 240])  # incl. points + giants
            (lrows if i % 2 else rrows).append((k, i, float(s), float(s + d)))
        l = spark.createDataFrame(lrows, "k string, lid long, s double, e double")
        r = spark.createDataFrame(rrows, "k string, rid long, s double, e double")
        want = {
            (a[1], b[1]): int((min(a[3], b[3]) - max(a[2], b[2])) * 1_000_000)
            for a in lrows
            for b in rrows
            if a[0] == b[0] and a[2] <= b[3] and b[2] <= a[3]
        }
        for bin_s in (1, 7, 60, 600):
            got = {
                (row.lid, row.rid_r): row.overlap_us
                for row in interval_join(
                    l, r, on="k",
                    left_start="s", left_end="e",
                    right_start="s", right_end="e",
                    bin_s=bin_s,
                ).collect()
            }
            assert got == want, f"bin_s={bin_s}"

    def test_asof_and_range_match_naive_on_random_events(self, spark):
        """Randomized (seeded) cross-check: the union+window as-of join and
        the bucketed range join must match a brute-force O(n^2) in-memory
        computation on irregular data — duplicate timestamps, empty keys,
        boundary-exact gaps."""
        import random

        from ocr_search_spark.ops.relational import asof_join, range_join

        rng = random.Random(42)
        rows = []
        for i in range(400):
            rows.append(
                (
                    f"u{rng.randint(0, 9)}",
                    rng.randint(0, 500),  # dense ts range forces ties
                    i,
                    rng.choice(["l", "r"]),
                )
            )
        df = spark.createDataFrame(
            rows, "k string, ets long, event_id long, side string"
        )
        l = df.filter(F.col("side") == "l").drop("side")
        r = df.filter(F.col("side") == "r").drop("side")
        lrows = [t for t in rows if t[3] == "l"]
        rrows = [t for t in rows if t[3] == "r"]

        got_asof = {
            row.event_id: row.event_id_r
            for row in asof_join(
                l, r, on="k", left_ts="ets", right_ts="ets",
                tiebreak="event_id",
            ).collect()
        }
        want_asof = {}
        for lk, lt, lid, _ in lrows:
            cands = [
                (rt, rid)
                for rk, rt, rid, _ in rrows
                if rk == lk and rt <= lt
            ]
            want_asof[lid] = max(cands)[1] if cands else None
        assert got_asof == want_asof

        W = 50
        got_rj = {
            (row.event_id, row.event_id_r)
            for row in range_join(
                l, r, on="k", left_ts="ets", right_ts="ets", lookback_s=W
            ).collect()
        }
        want_rj = {
            (lid, rid)
            for lk, lt, lid, _ in lrows
            for rk, rt, rid, _ in rrows
            if rk == lk and lt - W <= rt <= lt
        }
        assert got_rj == want_rj


class TestProductQuantization:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        rng = np.random.RandomState(11)
        base = rng.rand(40, 16).astype("float64")
        base[7] = base[3]  # planted exact duplicate pair (3, 7)
        rows = [(i, [float(x) for x in base[i]]) for i in range(40)]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def _cb(self, emb):
        from ocr_search_spark.ops.similarity import pq_codebooks_from_sample

        return pq_codebooks_from_sample(emb, m=4, k=8, dim=16)

    def test_codebook_shape_and_sample_determinism(self, emb):
        cb = self._cb(emb)
        assert len(cb) == 4 * 8
        assert all(len(v) == 4 for _, _, v in cb)
        # the sample is the md5-smallest ids — recompute independently
        ids = [r.vec_id for r in emb.select("vec_id").collect()]
        want = sorted(ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))[:8]
        vecs = {r.vec_id: list(r.embedding) for r in emb.collect()}
        for c, vid in enumerate(want):
            got = next(v for s, code, v in cb if s == 0 and code == c)
            assert got == pytest.approx(vecs[vid][:4])

    def test_encode_complete_and_identical_vectors_share_codes(self, emb):
        from ocr_search_spark.ops.similarity import pq_encode

        codes = pq_encode(emb, self._cb(emb)).collect()
        assert len(codes) == 40 * 4  # every (id, s) exactly once
        assert all(0 <= r.code < 8 for r in codes)
        by_id = {}
        for r in codes:
            by_id.setdefault(r.id, {})[r.s] = r.code
        assert by_id[3] == by_id[7]  # exact duplicates → same code word

    def test_adc_top1_is_planted_duplicate(self, emb):
        from ocr_search_spark.ops.similarity import pq_adc_topk, pq_encode

        cb = self._cb(emb)
        codes = pq_encode(emb, cb)
        res = pq_adc_topk(
            codes, cb, emb.filter(F.col("vec_id") == 3), k=3
        ).collect()
        # identical codes → ADC distance equals the query's own
        # quantization error, strictly the minimum → duplicate is top-1
        assert res[0].neighbor_id == 7 and res[0].rnk == 1
        assert res[0].adist_micro <= res[1].adist_micro


class TestIvfPq:
    def test_composition_consistent_with_halves(self, spark):
        """IVF-PQ results must (a) only contain neighbors assigned to the
        query's probed cells and (b) score every shared (query, neighbor)
        pair identically to the unrestricted ADC path."""
        from pyspark.sql import functions as F

        from ocr_search_spark.ops.similarity import (
            ivf_assign,
            ivf_centroids_from_sample,
            ivf_pq_topk,
            pq_adc_topk,
            pq_codebooks_from_sample,
            pq_encode,
        )

        emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        cents = ivf_centroids_from_sample(emb, k=16)
        cb = pq_codebooks_from_sample(emb, m=8, k=16, dim=64)
        queries = emb.filter(F.col("vec_id") < 3)

        ivfpq = ivf_pq_topk(emb, queries, cents, cb, k=10, n_probe=4).collect()
        assert {r.query_id for r in ivfpq} == {0, 1, 2}
        assert all(r.rnk <= 10 for r in ivfpq)

        # (b) ADC scores agree with the unrestricted PQ path
        codes = pq_encode(emb, cb)
        full = {
            (r.query_id, r.neighbor_id): r.adist_micro
            for r in pq_adc_topk(codes, cb, queries, k=500).collect()
        }
        for r in ivfpq:
            assert full[(r.query_id, r.neighbor_id)] == r.adist_micro

        # (a) neighbors come only from probed cells
        assigned = {
            r.id: r.centroid_id for r in ivf_assign(emb, cents).collect()
        }
        from ocr_search_spark.ops.similarity import _ivf_probes_join

        q = queries.select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
        )
        probes = {}
        for r in _ivf_probes_join(q, cents, 4).collect():
            probes.setdefault(r.query_id, set()).add(r.centroid_id)
        for r in ivfpq:
            assert assigned[r.neighbor_id] in probes[r.query_id]


class TestReviewRegressions:
    """Regressions for the round-4 self-review findings: null handling,
    sub-second tolerance, staged PII counts, blocklist-as-data."""

    def test_asof_null_right_ts_never_matches(self, spark):
        from ocr_search_spark.ops.relational import asof_join

        l = spark.createDataFrame(
            [("k", 10, 1)], "k string, ets long, event_id long"
        )
        r = spark.createDataFrame(
            [("k", None, 2)], "k string, ets long, event_id long"
        )
        out = asof_join(l, r, on="k", left_ts="ets", right_ts="ets",
                        tiebreak="event_id").collect()
        assert out[0].event_id_r is None

    def test_asof_null_left_ts_passes_through(self, spark):
        from ocr_search_spark.ops.relational import asof_join

        l = spark.createDataFrame(
            [("k", None, 1)], "k string, ets long, event_id long"
        )
        r = spark.createDataFrame(
            [("k", 5, 2)], "k string, ets long, event_id long"
        )
        out = asof_join(l, r, on="k", left_ts="ets", right_ts="ets",
                        tiebreak="event_id").collect()
        assert len(out) == 1 and out[0].event_id_r is None

    def test_asof_tolerance_subsecond_exact(self, spark):
        import datetime as dt

        from ocr_search_spark.ops.relational import asof_join

        base = dt.datetime(2024, 1, 1)
        l = spark.createDataFrame(
            [("k", base + dt.timedelta(seconds=10, microseconds=900_000), 1)],
            "k string, ts timestamp, event_id long",
        )
        r = spark.createDataFrame(
            [("k", base + dt.timedelta(seconds=10), 2)],
            "k string, ts timestamp, event_id long",
        )
        # real gap 0.9 s: tolerance 0 must reject (second-truncation would
        # wrongly keep it)
        rej = asof_join(l, r, on="k", left_ts="ts", right_ts="ts",
                        tiebreak="event_id", tolerance_s=0).collect()
        assert rej[0].event_id_r is None
        acc = asof_join(l, r, on="k", left_ts="ts", right_ts="ts",
                        tiebreak="event_id", tolerance_s=1).collect()
        assert acc[0].event_id_r == 2

    def test_range_join_fractional_lookback_rejected(self, spark):
        from ocr_search_spark.ops.relational import range_join

        df = spark.createDataFrame([("k", 1, 1)], "k string, ets long, event_id long")
        with pytest.raises(ValueError):
            range_join(df, df, on="k", left_ts="ets", right_ts="ets",
                       lookback_s=0.5)

    def test_line_dedup_null_text_survives(self, spark):
        from ocr_search_spark.ops.lines import remove_duplicate_lines

        df = spark.createDataFrame(
            [("d1", "a\nb"), ("d2", None), ("d3", "a\nc")],
            "doc_id string, text string",
        )
        out = {r.doc_id: r.text_clean for r in remove_duplicate_lines(
            df, "doc_id", "text").collect()}
        assert set(out) == {"d1", "d2", "d3"}  # no row loss
        assert out["d2"] == ""

    def test_sampling_null_id_no_row_loss(self, spark):
        from ocr_search_spark.ops.sampling import (
            deterministic_sample,
            hash_split,
        )

        df = spark.createDataFrame(
            [("a",), (None,)], "doc_id string"
        )
        assert deterministic_sample(df, 1.0).count() == 2
        splits = hash_split(df, {"train": 0.5, "val": 0.5})
        assert splits.count() == 2
        assert all(r.split in ("train", "val") for r in splits.collect())

    def test_mojibake_filter_keeps_null_text(self, spark):
        from ocr_search_spark.ops.scrub import mojibake_filter

        df = spark.createDataFrame(
            [("d1", "clean"), ("d2", None)], "doc_id string, text string"
        )
        kept = {r.doc_id for r in mojibake_filter(df, "text").collect()}
        assert kept == {"d1", "d2"}

    def test_pii_counts_are_staged_on_overlap(self, spark):
        from ocr_search_spark.ops.scrub import redact_pii

        df = spark.createDataFrame(
            [("d", "reach me a12345678@bco.com ok")],
            "doc_id string, text string",
        )
        r = redact_pii(df, "text").collect()[0]
        # one redaction happened -> counts must sum to 1, not 2
        assert (r.n_email, r.n_ipv4, r.n_phone) == (1, 0, 0)
        assert r.text_redacted == "reach me [PII] ok"

    def test_blocklist_is_broadcast_data_not_expression(self, spark):
        from ocr_search_spark.ops.scrub import domain_blocklist_filter

        df = spark.createDataFrame(
            [("d1", "x https://ads.example.org/banner")],
            "doc_id string, text string",
        )
        big = [f"blocked{i}.test" for i in range(500)] + ["example.org"]
        out = domain_blocklist_filter(df, "doc_id", "text", big)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert out.count() == 0  # suffix match still drops the doc


class TestReviewRegressions2:
    """Second review batch: short-doc crash, LSH dim validation, stream
    lookback guard, PQ LUT sharing."""

    def test_rolling_fingerprints_short_doc_is_empty_not_crash(self, spark):
        from ocr_search_spark.ops.text_analysis import rolling_fingerprints_expr

        df = spark.createDataFrame(
            [("d1", "one two three"), ("d2", ""), ("d3", "w " * 20)],
            "doc_id string, text string",
        )
        rows = {
            r.doc_id: r.fps
            for r in df.select(
                "doc_id", rolling_fingerprints_expr("text").alias("fps")
            ).collect()
        }
        assert rows["d1"] == [] and rows["d2"] == []
        assert len(rows["d3"]) == 20 - 8 + 1

    def test_lsh_dim_mismatch_fails_loud(self, spark):
        from py4j.protocol import Py4JJavaError
        from pyspark.errors import SparkRuntimeException

        from ocr_search_spark.ops.similarity import hyperplane_lsh_buckets

        df = spark.createDataFrame(
            [(1, [0.1] * 16)], "vec_id long, embedding array<double>"
        )
        with pytest.raises((SparkRuntimeException, Py4JJavaError)):
            hyperplane_lsh_buckets(df, dim=32, n_planes=4).collect()

    def test_stream_range_join_fractional_lookback_rejected(self, spark):
        from ocr_search_spark.streaming.join_stream import range_join_stream

        df = spark.createDataFrame(
            [("k", 1, 1)], "k string, ts long, event_id long"
        )
        with pytest.raises(ValueError):
            range_join_stream(df, df, on="k", lookback_s=0.5)

    def test_ivf_pq_and_pq_share_lut_values(self, spark):
        """After the LUT extraction both paths must produce identical
        adist for shared pairs (already asserted in TestIvfPq) — here we
        just pin that _adc_lut is the single construction site."""
        import inspect

        from ocr_search_spark.ops import similarity

        src_pq = inspect.getsource(similarity.pq_adc_topk)
        src_search = inspect.getsource(similarity.ivf_pq_search)
        assert "_adc_lut(" in src_pq and "_adc_lut(" in src_search
        assert "1_000_000" not in src_pq and "1_000_000" not in src_search
        # the composed form must route through the split halves (r5
        # build/serve split), keeping one LUT construction site
        src_ivfpq = inspect.getsource(similarity.ivf_pq_topk)
        assert "ivf_pq_index(" in src_ivfpq and "ivf_pq_search(" in src_ivfpq


class TestReviewRegressions3:
    """Third review batch (pipeline/storage layer)."""

    def test_run_group_with_hive_special_chars_rejected(self, spark, tmp_path):
        from ocr_search_spark.pipeline.checkpoint import run_extraction

        df = spark.createDataFrame([("d", [])], "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>")
        with pytest.raises(ValueError, match="run_group"):
            run_extraction(spark, df, str(tmp_path / "o"), run_group="nightly:eu")

    def test_vacuum_spares_young_attempts(self, spark, tmp_path):
        """An attempt staged seconds ago must survive the default vacuum
        (it may belong to a run that has not published yet)."""
        import os

        from ocr_search_spark.pipeline.checkpoint import vacuum_uncommitted

        root = tmp_path / "v" / "spans" / "r=young-run"
        os.makedirs(root)
        (root / "part-0.parquet").write_bytes(b"")
        assert vacuum_uncommitted(spark, str(tmp_path / "v")) == []
        removed = vacuum_uncommitted(spark, str(tmp_path / "v"), min_age_s=0)
        assert len(removed) == 1

    def test_folder_ingest_disambiguates_same_named_files(self, spark, tmp_path):
        from ocr_search_spark.sources import folder_to_documents, scan_folder_df

        (tmp_path / "a").mkdir()
        (tmp_path / "b").mkdir()
        (tmp_path / "a" / "report.txt").write_text("alpha content", encoding="utf-8")
        (tmp_path / "b" / "report.txt").write_text("beta content", encoding="utf-8")
        (tmp_path / "only.txt").write_text("unique", encoding="utf-8")
        docs = folder_to_documents(
            scan_folder_df(spark, str(tmp_path), allowed_ext=None)
        ).collect()
        ids = sorted(r.doc_id for r in docs)
        assert len(ids) == 3 and len(set(ids)) == 3
        assert "only.txt" in ids  # unique names stay bare
        # reference _unique_path parity (ADVICE r4): min(path) keeps the
        # bare name, only subsequent colliders get the path-hash suffix
        assert "report.txt" in ids
        dups = [i for i in ids if i.startswith("report.txt#")]
        assert len(dups) == 1
        texts = {r.doc_id: r.spans[0]["text"] for r in docs}
        assert texts["report.txt"] == "alpha content"  # a/ sorts first
        assert texts[dups[0]] == "beta content"

    def test_store_keeps_zero_span_documents(self, spark, tmp_path):
        from ocr_search_spark.store import DocumentStore

        rows = [
            ("full", [{"kind": "txt", "text": "hello world", "media_ref": "", "offset": 0}]),
            ("hollow", []),  # extraction produced nothing
        ]
        df = spark.createDataFrame(
            rows,
            "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
        )
        store = DocumentStore(spark, str(tmp_path / "s"))
        store.ingest(df, run_group="zs")
        content = {r.doc_id: r.content for r in spark.read.parquet(store.content_path).collect()}
        assert set(content) == {"full", "hollow"}  # no row loss
        assert content["hollow"] == ""
        # no first span to name the extension: the default applies
        hollow = spark.read.parquet(store.content_path).filter("doc_id = 'hollow'").first()
        assert hollow.filename == "hollow.txt"

    def test_candidate_only_verification_same_pairs(self, spark):
        """Verifying over the corpus semi-joined down to its LSH candidate
        doc ids (the production-scale shape, done by the caller) must
        produce exactly the same verified pairs as the whole corpus."""
        from ocr_search_spark.ops.dedup import (
            lsh_candidate_pairs,
            minhash_signatures,
            verified_near_dup_pairs,
        )

        rows = [
            ("a", "alpha beta gamma delta epsilon zeta eta theta"),
            ("b", "alpha beta gamma delta epsilon zeta eta iota"),
            ("c", "completely different words in this one here"),
            ("d", "alpha beta gamma delta epsilon zeta eta theta"),
        ]
        df = spark.createDataFrame(rows, "doc_id string, text string")
        kw = dict(threshold=0.5, n_hashes=8, band_size=2)
        full = {(r.a_id, r.b_id) for r in verified_near_dup_pairs(
            df, "doc_id", "text", **kw).collect()}
        pairs = lsh_candidate_pairs(
            minhash_signatures(df, "doc_id", "text", 8, 3), 8, 2)
        ids = pairs.select(F.col("a_id").alias("doc_id")).unionByName(
            pairs.select(F.col("b_id").alias("doc_id")))
        src = df.join(ids.distinct(), "doc_id", "left_semi")
        cand = {(r.a_id, r.b_id) for r in verified_near_dup_pairs(
            src, "doc_id", "text", **kw).collect()}
        assert full == cand and ("a", "d") in full


class TestUrlCanon:
    CASES = [
        # (raw, canonical)
        ("https://www.shop.example.com/item/4", "https://shop.example.com/item/4"),
        ("https://shop.example.com/item/4/", "https://shop.example.com/item/4"),
        (
            "https://www.shop.example.com/item/4?utm_source=f&b=2&a=1",
            "https://shop.example.com/item/4?a=1&b=2",
        ),
        (
            "https://shop.example.com/item/4?a=1&b=2#frag",
            "https://shop.example.com/item/4?a=1&b=2",
        ),
        ("http://h.example.org:80/p?x=1", "http://h.example.org/p?x=1"),
        ("https://h.example.org:443/", "https://h.example.org"),
        # default-port strip is scheme-specific: :443 on http is a REAL port
        ("http://h.example.org:443/p", "http://h.example.org:443/p"),
        ("HTTPS://HOST.example.org/Path/Stays", "https://host.example.org/Path/Stays"),
        ("https://example.com/", "https://example.com"),
        ("https://example.com", "https://example.com"),
        ("https://example.com/?utm_campaign=z", "https://example.com"),
        ("https://example.com/a?fbclid=abc&q=1", "https://example.com/a?q=1"),
    ]

    def test_hand_cases(self, spark):
        from ocr_search_spark.ops.scrub import canonical_url_expr

        df = spark.createDataFrame(
            [(r,) for r, _ in self.CASES], "url string"
        ).select("url", canonical_url_expr("url").alias("canon"))
        got = {r["url"]: r["canon"] for r in df.collect()}
        for raw, want in self.CASES:
            assert got[raw] == want, raw

    def test_url_dedup_collapses_variants(self, spark):
        from ocr_search_spark.ops.scrub import url_dedup

        rows = [
            (1, "see https://www.a.example.com/x/"),
            (2, "see https://a.example.com/x?utm_source=f"),
            (3, "see https://a.example.com/x and https://a.example.com/x"),
            (4, "see https://a.example.com/x?p=1"),
            (5, "no urls here"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r["canon_url"]: (r["n_urls"], r["n_docs"], r["first_id"])
            for r in url_dedup(df, "doc_id", "text").collect()
        }
        # docs 1-3 all collapse onto the bare canonical; doc 4's real
        # query param keeps it a distinct page identity
        assert out == {
            "https://a.example.com/x": (4, 3, 1),
            "https://a.example.com/x?p=1": (1, 1, 4),
        }

    def test_no_udf_plan(self, spark):
        from ocr_search_spark.ops.scrub import url_dedup

        df = spark.createDataFrame([(1, "https://a.example.com/x")],
                                   "doc_id long, text string")
        plan = url_dedup(df, "doc_id", "text")._jdf.queryExecution().executedPlan().toString()
        assert "PythonUDF" not in plan and "BatchEvalPython" not in plan


class TestSemDeDup:
    """SemDeDup: cluster-then-dedup semantic deduplication
    (ops/similarity.py semdedup)."""

    # two well-separated centroids; vectors hand-placed so assignment
    # and the keeper rule are unambiguous
    CENTS = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])]

    @pytest.fixture(scope="class")
    def emb(self, spark):
        rows = [
            # cluster 0: v0/v1 near-identical (dup pair); v1 is slightly
            # farther from the centroid -> v1 is the keeper
            (0, [1.0, 0.01, 0.0, 0.0]),
            (1, [1.0, 0.03, 0.0, 0.0]),
            # cluster 0: unrelated direction, no pair
            (2, [1.0, 0.0, 0.9, 0.0]),
            # cluster 1: a 3-chain a~b~c (all pairwise close) -> 1 survivor
            (3, [0.01, 1.0, 0.0, 0.0]),
            (4, [0.02, 1.0, 0.0, 0.0]),
            (5, [0.03, 1.0, 0.0, 0.0]),
            # near-identical CROSS-cluster pair straddling the bisector:
            # v6 -> cluster 0, v7 -> cluster 1; SemDeDup cannot see it
            (6, [1.0, 0.98, 0.0, 0.0]),
            (7, [0.98, 1.0, 0.0, 0.0]),
        ]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    def test_pairs_within_cluster_only(self, emb):
        from ocr_search_spark.ops.similarity import semdedup_pairs

        pairs = {
            (r.a_id, r.b_id)
            for r in semdedup_pairs(emb, self.CENTS, threshold=0.99).collect()
        }
        assert (0, 1) in pairs
        assert (3, 4) in pairs and (4, 5) in pairs and (3, 5) in pairs
        # cos(v6, v7) > 0.99 but they live in different clusters
        assert (6, 7) not in pairs
        assert not any(a == 2 or b == 2 for a, b in pairs)

    def test_keeper_is_farthest_from_centroid(self, emb):
        from ocr_search_spark.ops.similarity import semdedup

        kept = {
            r.vec_id
            for r in semdedup(emb, self.CENTS, threshold=0.99).collect()
        }
        # v1 has lower cos-to-centroid than v0 -> v1 kept, v0 dropped
        assert 1 in kept and 0 not in kept
        # 3-chain keeps exactly one member: v5 is farthest from centroid 1
        assert kept & {3, 4, 5} == {5}
        # singletons and the cross-cluster pair survive untouched
        assert {2, 6, 7} <= kept

    def test_plan_no_cartesian(self, emb):
        from ocr_search_spark.ops.similarity import semdedup_pairs

        plan = (
            semdedup_pairs(emb, self.CENTS, threshold=0.99)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestDSIR:
    """DSIR importance resampling (ops/dsir.py)."""

    @pytest.fixture(scope="class")
    def pool(self, spark):
        # two vocabulary families; target is drawn from family A
        fam_a = ["contract invoice payment ledger audit tax fiscal quarter",
                 "ledger audit invoice contract fiscal payment balance",
                 "tax quarter fiscal audit ledger payment invoice"]
        fam_b = ["goal match striker penalty referee league season club",
                 "league season match penalty club striker keeper",
                 "referee penalty goal season league match striker"]
        rows = [(i, t) for i, t in enumerate(fam_a + fam_b)]
        raw = spark.createDataFrame(rows, "doc_id long, text string")
        target = spark.createDataFrame(
            [(100, fam_a[0]), (101, fam_a[1])], "doc_id long, text string"
        )
        return raw, target

    def test_selects_target_like_docs(self, pool):
        from ocr_search_spark.ops.dsir import dsir_select

        raw, target = pool
        from ocr_search_spark.ops.dsir import dsir_weights

        top = dsir_select(raw, target, n=3).collect()
        assert [r.rnk for r in top] == [1, 2, 3]
        assert {r.doc_id for r in top} == {0, 1, 2}  # the family-A docs
        # family-A docs outweigh family-B docs strictly (relative order is
        # the contract; absolute sign carries floor bias)
        w = {r.doc_id: r.w_hb for r in dsir_weights(raw, target).collect()}
        assert min(w[i] for i in (0, 1, 2)) > max(w[i] for i in (3, 4, 5))

    def test_weights_match_python_model(self, pool):
        import hashlib as _h
        import math

        from ocr_search_spark.ops.dsir import DSIR_BUCKETS, dsir_weights

        raw, target = pool

        def grams(text):
            toks = [t for t in __import__("re").split(
                r"[^a-zа-яё0-9_]+", text.lower()) if t]
            return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]

        def bucket(g):
            return int(_h.md5(f"dsir:{g}".encode()).hexdigest()[:8], 16) % DSIR_BUCKETS

        def hb(x):
            return math.floor(2 * math.log2(x))

        raw_rows = {r.doc_id: r.text for r in raw.collect()}
        tgt_rows = [r.text for r in target.collect()]
        ct, cr = {}, {}
        for t in tgt_rows:
            for g in grams(t):
                ct[bucket(g)] = ct.get(bucket(g), 0) + 1
        for t in raw_rows.values():
            for g in grams(t):
                cr[bucket(g)] = cr.get(bucket(g), 0) + 1
        tt, tr = sum(ct.values()), sum(cr.values())
        delta = hb(tr + DSIR_BUCKETS) - hb(tt + DSIR_BUCKETS)
        expect = {}
        for did, t in raw_rows.items():
            gs = grams(t)
            w = sum(hb(ct.get(bucket(g), 0) + 1) - hb(cr.get(bucket(g), 0) + 1)
                    for g in gs) + len(gs) * delta
            expect[did] = (len(gs), w)
        got = {r.doc_id: (r.n_grams, r.w_hb)
               for r in dsir_weights(raw, target).collect()}
        assert got == expect

    def test_plan_broadcast_weights_no_udf(self, pool):
        from ocr_search_spark.ops.dsir import dsir_weights

        raw, target = pool
        plan = (
            dsir_weights(raw, target)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


class TestPackSequences:
    """Fixed-length sequence packing (ops/sampling.py pack_sequences)."""

    def test_pieces_tile_documents_and_fill_sequences(self, spark):
        from ocr_search_spark.ops.sampling import pack_sequences

        rows = [(i, 1 + (i * 37) % 700) for i in range(200)]
        df = spark.createDataFrame(rows, "doc_id long, n_tok long")
        out = pack_sequences(
            df, "doc_id", "n_tok", seq_len=256, n_groups=4
        ).collect()
        by_doc: dict[int, list] = {}
        by_seq: dict[tuple, int] = {}
        for r in out:
            by_doc.setdefault(r.doc_id, []).append(r)
            key = (r.shard_group, r.seq_idx)
            by_seq[key] = by_seq.get(key, 0) + (r.end_tok - r.begin_tok)
        # every document's pieces tile [0, n_tok) without gap or overlap
        toks = dict(rows)
        for did, pieces in by_doc.items():
            pieces.sort(key=lambda r: r.seq_idx)
            assert pieces[0].begin_tok == 0
            assert pieces[-1].end_tok == toks[did]
            for a, b in zip(pieces, pieces[1:]):
                assert a.end_tok == b.begin_tok
                assert b.seq_idx == a.seq_idx + 1  # contiguous sequences
        assert set(by_doc) == {i for i, n in rows if n > 0}
        # every sequence except each group's last holds exactly seq_len
        last_seq = {}
        for g, s in by_seq:
            last_seq[g] = max(last_seq.get(g, -1), s)
        for (g, s), filled in by_seq.items():
            if s < last_seq[g]:
                assert filled == 256, (g, s, filled)
            else:
                assert 0 < filled <= 256

    def test_zero_token_docs_drop_null_raises(self, spark):
        from ocr_search_spark.ops.sampling import pack_sequences

        df = spark.createDataFrame(
            [(1, 10), (2, 0), (3, 5)], "doc_id long, n_tok long"
        )
        got = {r.doc_id for r in
               pack_sequences(df, "doc_id", "n_tok", seq_len=8, n_groups=1).collect()}
        assert got == {1, 3}
        bad = spark.createDataFrame(
            [(1, 10), (2, None)], "doc_id long, n_tok long"
        )
        with pytest.raises(Exception, match="null"):
            pack_sequences(bad, "doc_id", "n_tok", seq_len=8, n_groups=1).collect()

    def test_oversized_doc_spans_sequences(self, spark):
        from ocr_search_spark.ops.sampling import pack_sequences

        df = spark.createDataFrame([(7, 1000)], "doc_id long, n_tok long")
        out = sorted(
            pack_sequences(df, "doc_id", "n_tok", seq_len=256, n_groups=1).collect(),
            key=lambda r: r.seq_idx,
        )
        assert len(out) == 4
        assert [(r.begin_tok, r.end_tok) for r in out] == [
            (0, 256), (256, 512), (512, 768), (768, 1000)
        ]


class TestKmeansTrain:
    """Integer-lattice Lloyd's k-means (ops/similarity.py kmeans_train):
    scalar-model parity and the documented edge semantics."""

    @staticmethod
    def _scalar(rows, k, iters, scale_bits=20):
        import hashlib
        import math

        s = 1 << scale_bits
        q = {i: [math.floor(x * s) for x in v] for i, v in rows}
        order = sorted(q, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
        cents = {c: list(q[i]) for c, i in enumerate(order[:k])}

        def assign():
            out = {}
            for i, v in q.items():
                best = min(
                    (sum((a - b) * (a - b) for a, b in zip(v, cv)), c)
                    for c, cv in cents.items()
                )
                out[i] = best
            return out

        for _ in range(iters):
            a = assign()
            sums, cnts = {}, {}
            for i, (_, c) in a.items():
                cnts[c] = cnts.get(c, 0) + 1
                acc = sums.setdefault(c, [0] * len(q[i]))
                for j, x in enumerate(q[i]):
                    acc[j] += x
            for c in sums:
                cents[c] = [sv // cnts[c] for sv in sums[c]]
        a = assign()
        stats = {}
        for i, (d2, c) in a.items():
            sz, inr = stats.get(c, (0, 0))
            stats[c] = (sz + 1, inr + d2)
        return {
            c: (*stats.get(c, (0, 0)), cents[c]) for c in cents
        }

    def test_matches_scalar_lloyd(self, spark):
        from ocr_search_spark.ops.similarity import kmeans_train

        rng = np.random.RandomState(7)
        rows = [(i, [float(x) for x in rng.rand(6) - 0.5]) for i in range(60)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = {
            r.cluster_id: (r.size, r.inertia, list(r.centroid))
            for r in kmeans_train(emb, k=4, n_iters=3).collect()
        }
        assert got == self._scalar(rows, 4, 3)

    def test_zero_iters_is_seed_assignment(self, spark):
        from ocr_search_spark.ops.similarity import kmeans_train

        rows = [(i, [float(i), 0.0]) for i in range(10)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = {
            r.cluster_id: (r.size, r.inertia, list(r.centroid))
            for r in kmeans_train(emb, k=3, n_iters=0).collect()
        }
        assert got == self._scalar(rows, 3, 0)
        assert sum(sz for sz, _, _ in got.values()) == 10

    def test_empty_cluster_keeps_previous_centroid(self, spark):
        from ocr_search_spark.ops.similarity import kmeans_train

        # two tight groups far apart; k=3 -> one seed strands with 0
        # members after reassignment but must keep its centroid row
        rows = [(i, [0.001 * i, 0.0]) for i in range(6)] + [
            (100 + i, [0.4 + 0.001 * i, 0.0]) for i in range(6)
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = kmeans_train(emb, k=3, n_iters=2).collect()
        assert len(out) == 3
        assert {r.cluster_id for r in out} == {0, 1, 2}
        assert sum(r.size for r in out) == 12
        want = self._scalar(rows, 3, 2)
        got = {
            r.cluster_id: (r.size, r.inertia, list(r.centroid)) for r in out
        }
        assert got == want

    def test_validation(self, spark):
        import pytest

        from ocr_search_spark.ops.similarity import kmeans_train

        emb = spark.createDataFrame(
            [(1, [0.0])], "vec_id long, embedding array<double>"
        )
        with pytest.raises(ValueError):
            kmeans_train(emb, k=0)
        with pytest.raises(ValueError):
            kmeans_train(emb, k=65)
        with pytest.raises(ValueError):
            kmeans_train(emb, n_iters=-1)


class TestIvfPqRecall:
    """Compressed-path recall eval (ops/similarity.py ivf_pq_recall)."""

    def test_recall_bounds_and_identity_config(self, spark):
        from ocr_search_spark.ops.similarity import (
            ivf_centroids_from_sample,
            ivf_pq_recall,
            pq_codebooks_from_sample,
        )

        rng = np.random.RandomState(13)
        rows = [(i, [float(x) for x in rng.rand(8)]) for i in range(12)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        cents = ivf_centroids_from_sample(emb, k=4)
        # 16 codewords for 12 vectors: every subvector IS a codeword, so
        # the quantization is lossless and with all cells probed the
        # compressed path must recover most of the exact top-5 — a real
        # floor, not a tautology
        cb = pq_codebooks_from_sample(emb, m=2, k=16, dim=8)
        q = emb.filter(F.col("vec_id") < 3)
        out = ivf_pq_recall(emb, q, cents, cb, k=5, n_probe=4).collect()
        assert len(out) == 3
        for r in out:
            assert 0 <= r.n_hits <= 5
            assert r.recall_ppm == r.n_hits * 1_000_000 // 5
        assert sum(r.n_hits for r in out) >= 9  # >= 60% mean recall


class TestPqTrain:
    """Per-subspace lattice PQ training (ops/similarity.py pq_train):
    scalar parity by running the kmeans scalar model per subspace."""

    @staticmethod
    def _scalar(rows, m, k, dim, iters, scale_bits=20):
        dsub = dim // m
        out = {}
        for s in range(m):
            srows = [
                (i, v[s * dsub : (s + 1) * dsub]) for i, v in rows
            ]
            res = TestKmeansTrain._scalar(srows, k, iters, scale_bits)
            for code, (size, inertia, cv) in res.items():
                out[(s, code)] = (size, inertia, cv)
        return out

    def test_matches_per_subspace_scalar_lloyd(self, spark):
        from ocr_search_spark.ops.similarity import pq_train

        rng = np.random.RandomState(3)
        rows = [(i, [float(x) for x in rng.rand(8) - 0.5]) for i in range(50)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = {
            (r.s, r.code): (r.size, r.inertia, list(r.centroid))
            for r in pq_train(emb, m=2, k=4, dim=8, n_iters=2).collect()
        }
        assert got == self._scalar(rows, 2, 4, 8, 2)

    def test_zero_iters_matches_sampled_seeding(self, spark):
        from ocr_search_spark.ops.similarity import (
            pq_codebooks_from_sample,
            pq_train,
        )

        rng = np.random.RandomState(5)
        rows = [(i, [float(x) for x in rng.rand(8)]) for i in range(30)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        trained = {
            (r.s, r.code): list(r.centroid)
            for r in pq_train(emb, m=4, k=3, dim=8, n_iters=0).collect()
        }
        sampled = pq_codebooks_from_sample(emb, m=4, k=3, dim=8)
        import math

        for s, c, vec in sampled:
            assert trained[(s, c)] == [math.floor(x * (1 << 20)) for x in vec]

    def test_training_never_increases_inertia(self, spark):
        from ocr_search_spark.ops.similarity import pq_train

        rng = np.random.RandomState(9)
        rows = [(i, [float(x) for x in rng.rand(8) - 0.5]) for i in range(80)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

        def total_inertia(iters):
            return sum(
                r.inertia
                for r in pq_train(emb, m=2, k=4, dim=8, n_iters=iters).collect()
            )

        i0, i1, i2 = (total_inertia(n) for n in (0, 1, 2))
        assert i0 >= i1 >= i2

    def test_validation(self, spark):
        import pytest

        from ocr_search_spark.ops.similarity import pq_train

        emb = spark.createDataFrame(
            [(1, [0.0] * 8)], "vec_id long, embedding array<double>"
        )
        with pytest.raises(ValueError):
            pq_train(emb, m=3, dim=8)
        with pytest.raises(ValueError):
            pq_train(emb, m=2, dim=8, n_iters=-1)

    def test_trained_codebooks_are_dyadic_dropins(self, spark):
        """pq_train_codebooks must return the from_sample format with
        exactly-dequantized (power-of-two) floats, usable by pq_encode."""
        from ocr_search_spark.ops.similarity import (
            pq_encode,
            pq_train_codebooks,
        )

        rng = np.random.RandomState(21)
        rows = [(i, [float(x) for x in rng.rand(8) - 0.5]) for i in range(20)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        cb = pq_train_codebooks(emb, m=2, k=4, dim=8, n_iters=1)
        assert {(s, c) for s, c, _ in cb} == {
            (s, c) for s in range(2) for c in range(4)
        }
        for _s, _c, vec in cb:
            for v in vec:
                # dequantized lattice point: v * 2^20 is an exact integer
                assert float(v * (1 << 20)).is_integer()
        enc = pq_encode(emb, cb)
        assert enc.count() == 20 * 2  # one code per (vector, subspace)


class TestAnnRecall:
    """ANN recall diagnostic (ops/similarity.py ann_recall)."""

    def test_full_probe_count_gives_perfect_recall(self, spark):
        from ocr_search_spark.ops.similarity import (
            ann_recall,
            ivf_centroids_from_sample,
        )

        rng = np.random.RandomState(11)
        rows = [(i, [float(x) for x in rng.rand(8)]) for i in range(40)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        cents = ivf_centroids_from_sample(emb, k=4)
        q = emb.filter(F.col("vec_id") < 3)
        # probing ALL cells makes IVF exhaustive -> recall must be 1.0
        full = ann_recall(emb, q, cents, k=5, n_probe=4).collect()
        assert len(full) == 3
        assert all(r.n_hits == 5 and r.recall_ppm == 1_000_000 for r in full)
        # fewer probes can only lose candidates: recall monotone <= 1
        part = ann_recall(emb, q, cents, k=5, n_probe=1).collect()
        assert all(0 <= r.recall_ppm <= 1_000_000 for r in part)
        by_q = {r.query_id: r.n_hits for r in part}
        assert all(by_q[r.query_id] <= r.n_hits for r in full)


class TestParagraphLangProfile:
    """Per-paragraph language mixture (ops/text_analysis.py
    paragraph_lang_profile)."""

    def test_mixture_counts_and_majority(self, spark):
        from ocr_search_spark.ops.text_analysis import paragraph_lang_profile

        rows = [
            (1, "the quick fox of a kind\n\nскидка на товары и услуги"),
            (2, "the a of and to\n\nthe second english paragraph a of"),
            (3, "zzz qqq www"),          # no stopwords -> und
            (4, ""),                      # empty text -> no row
            (5, "на все товары\n\nи услуги\n\nthe one english a"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r.id: r for r in paragraph_lang_profile(df).collect()}
        assert set(out) == {1, 2, 3, 5}
        r1 = out[1]
        # 1 en + 1 ru: tie -> majority 'en' (code order), minority 50%
        assert (r1.n_paras, r1.majority_lang, r1.majority_paras,
                r1.minority_ppm) == (2, "en", 1, 500_000)
        assert (out[2].majority_lang, out[2].minority_ppm) == ("en", 0)
        assert out[3].majority_lang == "und"
        r5 = out[5]
        assert (r5.n_paras, r5.majority_lang, r5.minority_ppm) == (
            3, "ru", 333_333)

    def test_no_udf_plan(self, spark):
        from ocr_search_spark.ops.text_analysis import paragraph_lang_profile

        df = spark.createDataFrame([(1, "a\n\nb")], "doc_id long, text string")
        plan = (paragraph_lang_profile(df)
                ._jdf.queryExecution().executedPlan().toString())
        assert "PythonUDF" not in plan and "BatchEvalPython" not in plan


class TestBpePairStats:
    """BPE merge-candidate pair counting (ops/text_analysis.py
    bpe_pair_stats)."""

    def test_counts_match_scalar_bpe_statistic(self, spark):
        from collections import Counter

        from ocr_search_spark.ops.text_analysis import bpe_pair_stats

        rows = [(1, "low low lower lowest"), (2, "new newer newest low"),
                (3, "a ab abc")]  # incl. 1-char word (no pairs)
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {(r.a, r.b): r.pair_count
               for r in bpe_pair_stats(df, top_k=1000).collect()}
        # scalar model: word-frequency-weighted adjacent char pairs
        words = Counter(w for _, t in rows for w in t.split())
        expect = Counter()
        for w, c in words.items():
            for x, y in zip(w, w[1:]):
                expect[(x, y)] += c
        assert got == dict(expect)
        # the first BPE merge on this corpus is ('l','o') or ('o','w'),
        # tied at 5 occurrences each -> rank 1 is ('l','o') by (a,b) order
        top = bpe_pair_stats(df, top_k=1).collect()[0]
        assert (top.a, top.b, top.rnk) == ("l", "o", 1)

    def test_vocab_not_stream_plan(self, spark):
        from ocr_search_spark.ops.text_analysis import bpe_pair_stats

        df = spark.createDataFrame([(1, "aa bb")], "doc_id long, text string")
        plan = (bpe_pair_stats(df)
                ._jdf.queryExecution().executedPlan().toString())
        assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
        # top-k must be TakeOrderedAndProject, not a global sort
        assert "TakeOrderedAndProject" in plan


class TestBpeTrain:
    """Iterative BPE merge training (ops/text_analysis.py bpe_train) —
    the driver loop bpe_pair_stats documents as its caller."""

    @staticmethod
    def _scalar_bpe(words, k):
        """Reference trainer: word-frequency table, left-to-right
        non-overlapping merges, ties (l, r) ascending."""
        from collections import Counter

        segs = {w: list(w) for w in words}
        merges = []
        for step in range(1, k + 1):
            pc = Counter()
            for w, c in words.items():
                s = segs[w]
                for x, y in zip(s, s[1:]):
                    pc[(x, y)] += c
            if not pc:
                break
            (l, r), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
            merges.append((step, l, r, l + r, cnt))
            for w, s in segs.items():
                out = []
                for sym in s:
                    if out and out[-1] == l and sym == r:
                        out[-1] = l + r
                    else:
                        out.append(sym)
                segs[w] = out
        return merges

    def test_merges_match_scalar_trainer(self, spark):
        from collections import Counter

        from ocr_search_spark.ops.text_analysis import bpe_train

        rows = [(1, "low low lower lowest"), (2, "new newer newest low"),
                (3, "a ab abc wider")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = [(r.step, r.l, r.r, r.merged, r.pair_count)
               for r in bpe_train(df, n_merges=6).collect()]
        words = Counter(w for _, t in rows for w in t.split())
        assert got == self._scalar_bpe(words, 6)

    def test_nonoverlap_and_fused_symbol_reuse(self, spark):
        from ocr_search_spark.ops.text_analysis import bpe_train

        # 'aaaa' x3: round 1 merges (a,a) with count 9 (3 adjacent pairs
        # x3 words); non-overlap resegments to [aa, aa], so round 2
        # merges the FUSED symbol pair (aa,aa) with count 3.
        df = spark.createDataFrame(
            [(i, "aaaa") for i in range(3)], "doc_id long, text string"
        )
        got = [(r.step, r.l, r.r, r.merged, r.pair_count)
               for r in bpe_train(df, n_merges=5).collect()]
        assert got == [(1, "a", "a", "aa", 9), (2, "aa", "aa", "aaaa", 3)]

    def test_early_stop_and_empty(self, spark):
        from ocr_search_spark.ops.text_analysis import bpe_train

        # single-char words only: no pairs, zero merges, stable schema
        df = spark.createDataFrame(
            [(1, "a b c")], "doc_id long, text string"
        )
        out = bpe_train(df, n_merges=4)
        assert out.collect() == []
        assert out.columns == ["step", "l", "r", "merged", "pair_count"]

    def test_codegen_apply_no_udf(self, spark):
        from pyspark.sql import functions as F

        from ocr_search_spark.ops.text_analysis import _BPE_APPLY_EXPR

        df = spark.createDataFrame(
            [(["l", "o", "w"], "l", "o")],
            "__syms array<string>, __l string, __r string",
        )
        applied = df.select(F.expr(_BPE_APPLY_EXPR).alias("s"))
        assert applied.collect()[0].s == "lo w"
        plan = applied._jdf.queryExecution().executedPlan().toString()
        assert "PythonUDF" not in plan and "BatchEvalPython" not in plan

    def test_vocab_stats_match_scalar_segmentation(self, spark):
        from collections import Counter

        from ocr_search_spark.ops.text_analysis import bpe_vocab_stats

        rows = [(1, "low low lower lowest"), (2, "new newer newest low")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = [(r.symbol, r.sym_count, r.rnk)
               for r in bpe_vocab_stats(df, n_merges=3, top_k=100).collect()]
        # scalar: run the reference trainer, then count symbols of the
        # final segmentation weighted by word frequency
        words = Counter(w for _, t in rows for w in t.split())
        segs = {w: list(w) for w in words}
        for _, l, r, _, _ in self._scalar_bpe(words, 3):
            for w, s in segs.items():
                out = []
                for sym in s:
                    if out and out[-1] == l and sym == r:
                        out[-1] = l + r
                    else:
                        out.append(sym)
                segs[w] = out
        sym_counts = Counter()
        for w, c in words.items():
            for sym in segs[w]:
                sym_counts[sym] += c
        expect = sorted(
            ((s, c) for s, c in sym_counts.items()),
            key=lambda sc: (-sc[1], sc[0]),
        )
        assert got == [(s, c, i + 1) for i, (s, c) in enumerate(expect)]

    def test_round_argmax_is_take_ordered(self, spark):
        """The per-round argmax must be TakeOrderedAndProject (top-1 via
        partial per-partition heaps), never a global sort exchange."""
        from pyspark.sql import functions as F

        from ocr_search_spark.ops.text_analysis import _BPE_PAIRS_EXPR

        vocab = spark.createDataFrame(
            [(3, "l o w"), (2, "n e w")], "wc long, s string"
        )
        best = (
            vocab.select("wc", F.split("s", " ").alias("__syms"))
            .select("wc", F.explode(F.expr(_BPE_PAIRS_EXPR)).alias("p"))
            .groupBy(F.col("p.l").alias("__l"), F.col("p.r").alias("__r"))
            .agg(F.sum("wc").alias("__cnt"))
            .orderBy(F.col("__cnt").desc(), "__l", "__r")
            .limit(1)
        )
        plan = best._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan
        assert "PythonUDF" not in plan
        # one exchange: the map-side-combined pair-count groupBy
        assert plan.count("Exchange") == 1


class TestBpeEncode:
    """Trained-merge-table application (ops/text_analysis.py bpe_encode):
    token-id vocab convention and full-stream reconstruction."""

    def test_encoded_stream_and_vocab_ids(self, spark):
        from ocr_search_spark.ops.text_analysis import bpe_encode

        # 'aaaa' trains merges aa (step 1) then aaaa (step 2); alphabet
        # {a, b} -> ids a=0, b=1; merges aa=2, aaaa=3. 'aaaab' encodes
        # as [aaaa, b], 'aa' as [aa], 'b' as [b].
        df = spark.createDataFrame(
            [(1, "aaaa aaaa aaaa aaaab"), (2, "aa b")],
            "doc_id long, text string",
        )
        got = sorted(
            (r.id, r.pos, r.sym_pos, r.token_id, r.symbol)
            for r in bpe_encode(df, n_merges=2).collect()
        )
        assert got == [
            (1, 0, 0, 3, "aaaa"),
            (1, 1, 0, 3, "aaaa"),
            (1, 2, 0, 3, "aaaa"),
            (1, 3, 0, 3, "aaaa"),
            (1, 3, 1, 1, "b"),
            (2, 0, 0, 2, "aa"),
            (2, 1, 0, 1, "b"),
        ]

    def test_zero_merges_is_char_stream(self, spark):
        from ocr_search_spark.ops.text_analysis import bpe_encode

        df = spark.createDataFrame([(7, "ab ba")], "doc_id long, text string")
        got = sorted(
            (r.id, r.pos, r.sym_pos, r.token_id, r.symbol)
            for r in bpe_encode(df, n_merges=0).collect()
        )
        assert got == [
            (7, 0, 0, 0, "a"),
            (7, 0, 1, 1, "b"),
            (7, 1, 0, 1, "b"),
            (7, 1, 1, 0, "a"),
        ]

    def test_concat_of_symbols_rebuilds_every_word(self, spark):
        from pyspark.sql import functions as F

        from ocr_search_spark.ops.text_analysis import bpe_encode
        from ocr_search_spark.search.analysis import tokens_expr

        df = spark.createDataFrame(
            [(1, "low lower lowest"), (2, "new newest wide")],
            "doc_id long, text string",
        )
        rebuilt = (
            bpe_encode(df, n_merges=3)
            .groupBy("id", "pos")
            .agg(
                F.concat_ws(
                    "", F.array_sort(F.collect_list(F.struct("sym_pos", "symbol")))
                    .getField("symbol")
                ).alias("w")
            )
        )
        orig = df.select(
            F.col("doc_id").alias("id"),
            F.posexplode(tokens_expr(F.col("text"))).alias("pos", "w"),
        )
        assert rebuilt.exceptAll(orig).count() == 0
        assert orig.exceptAll(rebuilt).count() == 0


class TestWordpieceTrain:
    """Likelihood-criterion WordPiece trainer (ops/text_analysis.py
    wordpiece_train): exact parity vs a scalar model on the q40 score
    lattice, and the published divergence from frequency-based BPE."""

    @staticmethod
    def _scalar_wp(words, k):
        """Reference trainer: argmax of (pair_count << 40) //
        (l_count * r_count), ties (l, r) ascending, left-to-right
        non-overlapping application."""
        from collections import Counter

        segs = {w: list(w) for w in words}
        merges = []
        for step in range(1, k + 1):
            pc, sc = Counter(), Counter()
            for w, c in words.items():
                s = segs[w]
                for sym in s:
                    sc[sym] += c
                for x, y in zip(s, s[1:]):
                    pc[(x, y)] += c
            if not pc:
                break
            scored = {
                (l, r): (cnt << 40) // (sc[l] * sc[r])
                for (l, r), cnt in pc.items()
            }
            (l, r), score = min(
                scored.items(), key=lambda kv: (-kv[1], kv[0])
            )
            merges.append(
                (step, l, r, l + r, pc[(l, r)], sc[l], sc[r], score)
            )
            for w, s in segs.items():
                out = []
                for sym in s:
                    if out and out[-1] == l and sym == r:
                        out[-1] = l + r
                    else:
                        out.append(sym)
                segs[w] = out
        return merges

    _ROWS = [
        (1, "low low lower lowest"),
        (2, "new newer newest low"),
        (3, "a ab abc wider"),
    ]

    def _words(self):
        import re
        from collections import Counter

        return Counter(
            w
            for _, t in self._ROWS
            for w in re.findall(r"[a-zа-яё0-9_]+", t.lower())
        )

    def test_merges_match_scalar_trainer(self, spark):
        from ocr_search_spark.ops.text_analysis import wordpiece_train

        df = spark.createDataFrame(self._ROWS, "doc_id long, text string")
        got = [
            (r.step, r.l, r.r, r.merged, r.pair_count, r.l_count,
             r.r_count, r.score_q40)
            for r in wordpiece_train(df, n_merges=6).collect()
        ]
        assert got == self._scalar_wp(self._words(), 6)

    def test_diverges_from_bpe_on_likelihood(self, spark):
        """'zq zq xx xx xx' — BPE fuses the more frequent xx first;
        WordPiece fuses zq (2/(2·2) > 3/(6·6))."""
        from ocr_search_spark.ops.text_analysis import bpe_train, wordpiece_train

        df = spark.createDataFrame(
            [(1, "zq zq xx xx xx")], "doc_id long, text string"
        )
        wp = wordpiece_train(df, n_merges=1).collect()[0]
        bpe = bpe_train(df, n_merges=1).collect()[0]
        assert (wp.l, wp.r) == ("z", "q")
        assert (bpe.l, bpe.r) == ("x", "x")

    def test_early_stop_on_full_fusion(self, spark):
        from ocr_search_spark.ops.text_analysis import wordpiece_train

        df = spark.createDataFrame([(1, "ab ab")], "doc_id long, text string")
        out = wordpiece_train(df, n_merges=5).collect()
        assert [(r.step, r.merged) for r in out] == [(1, "ab")]


class TestWordpieceEncode:
    """Greedy longest-match WordPiece tokenization (ops/text_analysis.py
    wordpiece_artifacts + wordpiece_encode): scalar greedy parity, both
    whole-word [UNK] rules, and the bpe_encode stream contract."""

    @staticmethod
    def _scalar_greedy(word, vocab, max_word_len):
        if len(word) > max_word_len:
            return ["[UNK]"]
        out, rest = [], word
        while rest:
            for l in range(min(len(rest), max(map(len, vocab))), 0, -1):
                if rest[:l] in vocab:
                    out.append(rest[:l])
                    rest = rest[l:]
                    break
            else:
                return ["[UNK]"]
        return out

    _TRAIN = [(1, "low lower lowest"), (2, "new newer newest low")]

    def test_stream_matches_scalar_greedy(self, spark):
        import re

        from ocr_search_spark.ops.text_analysis import (
            wordpiece_artifacts,
            wordpiece_encode,
        )

        df = spark.createDataFrame(self._TRAIN, "doc_id long, text string")
        vocab = wordpiece_artifacts(df, n_merges=6)
        got = sorted(
            tuple(r) for r in wordpiece_encode(df, vocab).collect()
        )
        want = []
        for doc_id, text in self._TRAIN:
            for pos, w in enumerate(re.findall(r"[a-zа-яё0-9_]+", text)):
                for sym_pos, sym in enumerate(
                    self._scalar_greedy(w, vocab, 100)
                ):
                    want.append((doc_id, pos, sym_pos, vocab.get(sym, -1), sym))
        assert got == sorted(want)

    def test_unk_rules_and_custom_unk_id(self, spark):
        from ocr_search_spark.ops.text_analysis import (
            wordpiece_artifacts,
            wordpiece_encode,
        )

        df = spark.createDataFrame(self._TRAIN, "doc_id long, text string")
        vocab = wordpiece_artifacts(df, n_merges=6)
        new = spark.createDataFrame(
            [(9, "low lowerer qz new")], "doc_id long, text string"
        )
        got = [
            (r.pos, r.sym_pos, r.token_id, r.symbol)
            for r in wordpiece_encode(new, vocab, max_word_len=5, unk_id=-7)
            .orderBy("pos", "sym_pos")
            .collect()
        ]
        # 'lowerer' over the 5-char cap and OOV 'qz' both collapse to ONE
        # whole-word unk row (BERT's is_bad rule — never partial output)
        assert got == [
            (0, 0, vocab["low"], "low"),
            (1, 0, -7, "[UNK]"),
            (2, 0, -7, "[UNK]"),
            (3, 0, vocab["ne"], "ne"),
            (3, 1, vocab["w"], "w"),
        ]

    def test_longest_match_beats_merge_order(self, spark):
        """Greedy picks the longest piece even when a shorter piece was
        merged earlier — the structural difference from BPE encoding."""
        from ocr_search_spark.ops.text_analysis import wordpiece_encode

        df = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
        vocab = {"a": 0, "b": 1, "c": 2, "ab": 3, "abc": 4}
        got = [
            (r.sym_pos, r.token_id, r.symbol)
            for r in wordpiece_encode(df, vocab).collect()
        ]
        assert got == [(0, 4, "abc")]

    def test_validation(self, spark):
        from ocr_search_spark.ops.text_analysis import wordpiece_encode

        df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        with pytest.raises(ValueError):
            wordpiece_encode(df, {})
        with pytest.raises(ValueError):
            wordpiece_encode(df, {"a": 0}, max_word_len=0)
        with pytest.raises(ValueError):
            wordpiece_encode(df, {"[UNK]": 0})
        with pytest.raises(ValueError):
            wordpiece_encode(df, {"a": 0}, engine="rdd")

    def test_engines_bit_identical(self, spark):
        """The arrow (mapInPandas greedy) and sql (Catalyst round loop)
        engines must emit the identical token stream — including the
        over-cap and OOV whole-word [UNK] paths."""
        from ocr_search_spark.ops.text_analysis import (
            wordpiece_artifacts,
            wordpiece_encode,
        )

        df = spark.createDataFrame(self._TRAIN, "doc_id long, text string")
        vocab = wordpiece_artifacts(df, n_merges=6)
        new = spark.createDataFrame(
            [(9, "low lowerer qz new lowest")], "doc_id long, text string"
        )
        for frame, cap in ((df, 100), (new, 5)):
            a = sorted(
                tuple(r)
                for r in wordpiece_encode(
                    frame, vocab, max_word_len=cap, engine="arrow"
                ).collect()
            )
            s = sorted(
                tuple(r)
                for r in wordpiece_encode(
                    frame, vocab, max_word_len=cap, engine="sql"
                ).collect()
            )
            assert a == s and a


class TestUnigramSegment:
    """Viterbi-optimal unigram-LM segmentation (ops/text_analysis.py
    unigram_artifacts + unigram_segment): scalar Viterbi parity with
    the smallest-backpointer tie rule, optimality over greedy, and the
    whole-word [UNK] conservation rules."""

    @staticmethod
    def _viterbi(word, costs, cap, inf=1 << 40):
        if len(word) > cap:
            return ["[UNK]"]
        P = max(map(len, costs))
        n = len(word)
        dp, bp = [0] + [inf] * n, [None] * (n + 1)
        for i in range(1, n + 1):
            cands = []
            for j in range(max(0, i - P), i):
                c = costs.get(word[j:i])
                cands.append(
                    (inf if c is None or dp[j] >= inf else dp[j] + c, j)
                )
            best = min(c for c, _ in cands)
            if best < inf:
                dp[i] = best
                bp[i] = next(j for c, j in cands if c == best)
        if dp[n] >= inf:
            return ["[UNK]"]
        out, e = [], n
        while e > 0:
            out.append(word[bp[e]:e])
            e = bp[e]
        return out[::-1]

    _TRAIN = [(1, "low lower lowest"), (2, "new newer newest low")]

    def test_stream_matches_scalar_viterbi(self, spark):
        import re

        from ocr_search_spark.ops.text_analysis import (
            unigram_artifacts,
            unigram_segment,
        )

        df = spark.createDataFrame(self._TRAIN, "doc_id long, text string")
        costs = unigram_artifacts(df, n_merges=6)
        got = sorted(
            tuple(r)
            for r in unigram_segment(df, costs, max_word_len=8).collect()
        )
        want = []
        for doc_id, text in self._TRAIN:
            for pos, w in enumerate(re.findall(r"[a-zа-яё0-9_]+", text)):
                for sym_pos, sym in enumerate(self._viterbi(w, costs, 8)):
                    want.append(
                        (doc_id, pos, sym_pos, sym, costs.get(sym, -1))
                    )
        assert got == sorted(want)

    def test_viterbi_beats_greedy(self, spark):
        """'abc' with costs ab=1, c=9, a=5, bc=1: greedy takes ab+c
        (cost 10); Viterbi takes a+bc (cost 6)."""
        from ocr_search_spark.ops.text_analysis import unigram_segment

        df = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
        costs = {"ab": 1, "c": 9, "a": 5, "bc": 1}
        got = [
            (r.sym_pos, r.symbol, r.cost_hb)
            for r in unigram_segment(df, costs)
            .orderBy("sym_pos")
            .collect()
        ]
        assert got == [(0, "a", 5), (1, "bc", 1)]

    def test_tie_prefers_smallest_backpointer(self, spark):
        """'ab' with a=b=ab=2: single piece 'ab' (cost 2) beats a+b
        (4); with ab=4 the tie between paths cannot arise, but equal
        candidate costs at one position resolve to the earliest j."""
        from ocr_search_spark.ops.text_analysis import unigram_segment

        df = spark.createDataFrame([(1, "ab")], "doc_id long, text string")
        got = [
            r.symbol
            for r in unigram_segment(df, {"a": 2, "b": 2, "ab": 4})
            .orderBy("sym_pos")
            .collect()
        ]
        # dp[2] = 4 via both j=0 (piece 'ab') and j=1 ('a'+'b');
        # smallest j wins -> single piece 'ab'
        assert got == ["ab"]

    def test_unk_rules(self, spark):
        from ocr_search_spark.ops.text_analysis import unigram_segment

        df = spark.createDataFrame(
            [(1, "ab qz abcdefghij")], "doc_id long, text string"
        )
        got = {
            r.pos: (r.symbol, r.cost_hb)
            for r in unigram_segment(
                df, {"a": 1, "b": 1, "ab": 1, "c": 1}, max_word_len=6,
                unk_id_cost=-9,
            )
            .filter(F.col("sym_pos") == 0)
            .collect()
        }
        assert got[1] == ("[UNK]", -9)  # no lattice path through q/z
        assert got[2] == ("[UNK]", -9)  # over the 6-char cap

    def test_validation(self, spark):
        from ocr_search_spark.ops.text_analysis import unigram_segment

        df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        with pytest.raises(ValueError):
            unigram_segment(df, {})
        with pytest.raises(ValueError):
            unigram_segment(df, {"[UNK]": 1})
        with pytest.raises(ValueError):
            unigram_segment(df, {"a": 1}, max_word_len=0)
        with pytest.raises(ValueError):
            unigram_segment(df, {f"p{i}": 1 for i in range(5000)})


class TestBpeApply:
    """Shipped-tokenizer serve path (ops/text_analysis.py bpe_artifacts +
    bpe_apply): artifact export convention, cross-corpus application,
    and the self-application ≡ bpe_encode identity."""

    _TRAIN = [
        (1, "low lower lowest"),
        (2, "new newer newest low"),
        (3, "wide wider widest new"),
    ]

    def test_self_application_reproduces_bpe_encode(self, spark):
        from ocr_search_spark.ops.text_analysis import (
            bpe_apply,
            bpe_artifacts,
            bpe_encode,
        )

        df = spark.createDataFrame(self._TRAIN, "doc_id long, text string")
        merges, vocab = bpe_artifacts(df, n_merges=6)
        got = sorted(tuple(r) for r in bpe_apply(df, merges, vocab).collect())
        want = sorted(tuple(r) for r in bpe_encode(df, n_merges=6).collect())
        assert got == want

    def test_oov_symbols_get_unk_id(self, spark):
        from ocr_search_spark.ops.text_analysis import bpe_apply, bpe_artifacts

        df = spark.createDataFrame(self._TRAIN, "doc_id long, text string")
        merges, vocab = bpe_artifacts(df, n_merges=6)
        new = spark.createDataFrame([(9, "low qqz new")], "doc_id long, text string")
        got = sorted(
            (r.pos, r.sym_pos, r.token_id, r.symbol)
            for r in bpe_apply(new, merges, vocab).collect()
        )
        # 'low' and 'new' are shipped merge symbols; q/z never appeared
        # in training so every character of 'qqz' maps to unk_id.
        assert got == [
            (0, 0, vocab["low"], "low"),
            (1, 0, -1, "q"),
            (1, 1, -1, "q"),
            (1, 2, -1, "z"),
            (2, 0, vocab["new"], "new"),
        ]
        custom = bpe_apply(new, merges, vocab, unk_id=-99).collect()
        assert {r.token_id for r in custom if r.symbol == "q"} == {-99}

    def test_artifact_ids_follow_encode_convention(self, spark):
        from ocr_search_spark.ops.text_analysis import bpe_artifacts

        # 'aaaa' trains merges aa then aaaa; alphabet {a, b} -> a=0,
        # b=1; merge k at |alphabet|+k-1 (bpe_encode's vocab rule).
        df = spark.createDataFrame(
            [(1, "aaaa aaaa aaaa aaaab"), (2, "aa b")],
            "doc_id long, text string",
        )
        merges, vocab = bpe_artifacts(df, n_merges=2)
        assert merges == [("a", "a"), ("aa", "aa")]
        assert vocab == {"a": 0, "b": 1, "aa": 2, "aaaa": 3}

    def test_checkpoint_cadence_does_not_change_output(self, spark):
        from ocr_search_spark.ops.text_analysis import bpe_apply, bpe_artifacts

        df = spark.createDataFrame(self._TRAIN, "doc_id long, text string")
        merges, vocab = bpe_artifacts(df, n_merges=6)
        a = sorted(
            tuple(r)
            for r in bpe_apply(df, merges, vocab, checkpoint_every=2).collect()
        )
        b = sorted(
            tuple(r)
            for r in bpe_apply(df, merges, vocab, checkpoint_every=100).collect()
        )
        assert a == b


class TestHeapsLaw:
    """Vocabulary growth curve (ops/sketch.py heaps_law): brute-force
    parity per fraction via the shared md5 bucket convention."""

    @staticmethod
    def _bucket(doc_id, salt="heaps"):
        import hashlib

        h = hashlib.md5(f"{salt}{doc_id}".encode()).hexdigest()
        return int(h[:8], 16) % 10_000

    def test_matches_bruteforce_per_fraction(self, spark):
        import re

        from ocr_search_spark.ops.sketch import heaps_law

        rows = [
            (i, f"alpha beta w{i % 7} gamma" if i % 3 else f"delta w{i % 5}")
            for i in range(200)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = [
            (r.frac_ppm, r.docs, r.tokens, r.distinct_words)
            for r in heaps_law(df, fracs=(0.1, 0.5, 1.0)).collect()
        ]
        for (frac_ppm, docs, tokens, words), f in zip(got, (0.1, 0.5, 1.0)):
            cut = int(round(f * 10_000))
            sel = [t for i, t in rows if self._bucket(i) < cut]
            toks = [w for t in sel for w in re.findall(r"[a-zа-яё0-9_]+", t.lower())]
            assert frac_ppm == int(round(f * 1_000_000))
            assert docs == len(sel)
            assert tokens == len(toks)
            assert words == len(set(toks))

    def test_nesting_is_monotone(self, spark):
        from ocr_search_spark.ops.sketch import heaps_law

        df = spark.createDataFrame(
            [(i, f"word{i} shared") for i in range(100)],
            "doc_id long, text string",
        )
        rows = heaps_law(df, fracs=(0.05, 0.25, 1.0)).collect()
        for a, b in zip(rows, rows[1:]):
            assert a.docs <= b.docs
            assert a.tokens <= b.tokens
            assert a.distinct_words <= b.distinct_words
        assert rows[-1].docs == 100

    def test_bad_fracs_raise(self, spark):
        import pytest

        from ocr_search_spark.ops.sketch import heaps_law

        df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        for bad in [
            (), (0.5, 0.1), (0.0, 1.0), (0.5, 1.5),
            (0.00004, 0.5, 1.0),      # rounds to cut 0: silent empty sample
            (0.00006, 0.00014, 1.0),  # distinct fracs, same rounded cut
        ]:
            with pytest.raises(ValueError):
                heaps_law(df, fracs=bad)


class TestZipfSpectrum:
    """Half-bit frequency-of-frequencies (ops/sketch.py zipf_spectrum)."""

    def test_matches_bruteforce_bands(self, spark):
        import math
        import re
        from collections import Counter

        from ocr_search_spark.ops.sketch import zipf_spectrum

        # frequencies spanning several half-bit bands: 1, 2, 3, 5, 9, 17
        words = (
            ["hapax"] + ["twice"] * 2 + ["thrice"] * 3 + ["five"] * 5
            + ["nine"] * 9 + ["seventeen"] * 17
        )
        docs = [(i, " ".join(words[i::4])) for i in range(4)]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = [
            (r.hb_band, r.n_words, r.tokens, r.min_count, r.max_count)
            for r in zipf_spectrum(df).collect()
        ]
        counts = Counter(
            w for _, t in docs for w in re.findall(r"[a-zа-яё0-9_]+", t.lower())
        )
        bands = {}
        for _w, c in counts.items():
            b = math.floor(2 * math.log2(c))
            n, tot, lo, hi = bands.get(b, (0, 0, c, c))
            bands[b] = (n + 1, tot + c, min(lo, c), max(hi, c))
        want = sorted((b, *v) for b, v in bands.items())
        assert got == want
        assert got[0][0] == 0 and got[0][3] == 1  # hapax band present

    def test_band_identity(self, spark):
        from ocr_search_spark.ops.sketch import zipf_spectrum

        # c = 1 -> band 0; c = 2 -> band 2; c = 4 -> band 4
        df = spark.createDataFrame(
            [(1, "one two two four four four four")],
            "doc_id long, text string",
        )
        got = {r.hb_band: (r.n_words, r.min_count) for r in zipf_spectrum(df).collect()}
        assert got == {0: (1, 1), 2: (1, 2), 4: (1, 4)}

    def test_hb_wide_exact_beyond_the_squaring_cap(self, spark):
        """_hb_wide must equal exact integer floor(2*log2 c) across the
        whole BIGINT range — including counts >= 2^31 where the dsir
        _hb identity (which squares) would raise; 100 TB head words
        live there."""
        from pyspark.sql import functions as F

        from ocr_search_spark.ops.sketch import _hb_wide

        vals = (
            list(range(1, 18))
            + [2**k for k in range(1, 62)]
            + [2**k + 1 for k in range(1, 62)]
            + [2**k - 1 for k in range(2, 63)]
            + [10**12, 10**12 + 7, 3**39, (1 << 62) - 1]
        )
        df = spark.createDataFrame([(v,) for v in vals], "c long")
        got = {
            r.c: r.b
            for r in df.select("c", _hb_wide(F.col("c")).alias("b")).collect()
        }
        for c in vals:
            lv = c.bit_length() - 1
            want = 2 * lv + (1 if c * c >= 1 << (2 * lv + 1) else 0)
            assert got[c] == want, (c, got[c], want)


class TestBpeFertility:
    """Per-language tokenizer fertility (ops/text_analysis.py
    bpe_fertility_by_lang): scalar trainer + encoder parity."""

    def test_matches_scalar_model(self, spark):
        from collections import Counter

        from ocr_search_spark.ops.text_analysis import bpe_fertility_by_lang

        rows = [
            (1, "en", "low lower lowest low"),
            (2, "en", "new newer low"),
            (3, "de", "niedrig niedriger"),
            (4, "de", ""),
        ]
        df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
        words = Counter(w for _, _, t in rows for w in t.split())
        segs = {w: list(w) for w in words}
        for _ in range(3):
            pc = Counter()
            for w, c in words.items():
                s = segs[w]
                for x, y in zip(s, s[1:]):
                    pc[(x, y)] += c
            if not pc:
                break
            (l, r), _ = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
            for w, s in segs.items():
                out = []
                for sym in s:
                    if out and out[-1] == l and sym == r:
                        out[-1] = l + r
                    else:
                        out.append(sym)
                segs[w] = out
        want = {}
        for _, lang, t in rows:
            ws = t.split()
            d = want.setdefault(lang, [0, 0, 0])
            d[0] += 1
            d[1] += len(ws)
            d[2] += sum(len(segs[w]) for w in ws)
        got = {
            r.lang: (r.docs, r.words, r.symbols, r.fertility_ppm)
            for r in bpe_fertility_by_lang(df, n_merges=3).collect()
        }
        for lang, (docs, nw, ns) in want.items():
            fert = ns * 1_000_000 // nw if nw else None
            assert got[lang] == (docs, nw, ns, fert)

    def test_all_docs_counted_even_empty_text(self, spark):
        from ocr_search_spark.ops.text_analysis import bpe_fertility_by_lang

        df = spark.createDataFrame(
            [(1, "zz", "")], "doc_id long, lang string, text string"
        )
        r = bpe_fertility_by_lang(df, n_merges=2).collect()[0]
        assert (r.lang, r.docs, r.words, r.symbols, r.fertility_ppm) == (
            "zz", 1, 0, 0, None,
        )


class TestBpeTokenCounts:
    """Trained-tokenizer per-doc token counts (ops/text_analysis.py
    bpe_token_counts) — the pack budget in real tokenizer tokens."""

    def test_matches_scalar_and_keeps_empty_docs(self, spark):
        from collections import Counter

        from ocr_search_spark.ops.text_analysis import bpe_token_counts

        rows = [(1, "low low lower"), (2, "newest newest"), (3, "")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        words = Counter(w for _, t in rows for w in t.split())
        segs = {w: list(w) for w in words}
        for _ in range(3):
            pc = Counter()
            for w, c in words.items():
                s = segs[w]
                for x, y in zip(s, s[1:]):
                    pc[(x, y)] += c
            if not pc:
                break
            (l, r), _ = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
            for w, s in segs.items():
                out = []
                for sym in s:
                    if out and out[-1] == l and sym == r:
                        out[-1] = l + r
                    else:
                        out.append(sym)
                segs[w] = out
        got = {
            r.id: r.bpe_tokens
            for r in bpe_token_counts(df, n_merges=3).collect()
        }
        want = {
            i: sum(len(segs[w]) for w in t.split()) for i, t in rows
        }
        assert got == want
        assert got[3] == 0  # empty doc reported, not dropped


class TestOversample:
    """Epoch-factor oversampling (ops/sampling.py oversample)."""

    def test_copy_counts_and_expectation(self, spark):
        from ocr_search_spark.ops.sampling import hash_bucket, oversample

        rows = [(i, "wiki" if i % 2 == 0 else "web") for i in range(2000)]
        df = spark.createDataFrame(rows, "doc_id long, grp string")
        out = oversample(df, "grp", {"wiki": 3.5, "web": 1.0},
                         id_col="doc_id", salt="s").collect()
        per_doc: dict[int, list] = {}
        for r in out:
            per_doc.setdefault(r.doc_id, []).append(r.copy_idx)
        # every web doc exactly once; wiki docs 3 or 4 times, copy_idx dense
        for did, grp in rows:
            copies = sorted(per_doc[did])
            assert copies == list(range(len(copies)))
            if grp == "web":
                assert len(copies) == 1
            else:
                assert len(copies) in (3, 4)
        n_wiki = sum(len(per_doc[i]) for i, g in rows if g == "wiki")
        # fractional top-up hits ~50% of wiki docs (md5-uniform): expect
        # 3.5 ± a few percent over 1000 docs
        assert 3300 <= n_wiki <= 3700
        # determinism: second run identical
        again = oversample(df, "grp", {"wiki": 3.5, "web": 1.0},
                           id_col="doc_id", salt="s").count()
        assert again == len(out)

    def test_validates_factors(self, spark):
        from ocr_search_spark.ops.sampling import oversample

        df = spark.createDataFrame([(1, "a")], "doc_id long, grp string")
        with pytest.raises(ValueError):
            oversample(df, "grp", {})
        with pytest.raises(ValueError):
            oversample(df, "grp", {"a": 0.0})


class TestPackSequencesScale:
    """pack_sequences group-state bound — same discipline as the
    pack_shards 1M-row probe."""

    def test_group_state_bound_at_scale(self, spark):
        from ocr_search_spark.ops.sampling import pack_sequences

        df = spark.range(1_000_000).select(
            F.format_string("doc_%07d", "id").alias("doc_id"),
            F.lit(500).alias("n"),
        )
        out = pack_sequences(df, "doc_id", "n", seq_len=2048, n_groups=256)
        stats = (
            out.groupBy("shard_group")
            .count()
            .agg(F.max("count").alias("mx"), F.count("*").alias("groups"))
            .collect()[0]
        )
        assert stats.groups == 256
        # 500-token docs at seq_len 2048: ~25% of docs straddle a
        # boundary, so rows/group ≈ 1.25 × docs/group; bound at 1.3× of
        # that uniform expectation
        mean = 1_000_000 * 1.25 / 256
        assert stats.mx <= mean * 1.3


class TestNgramNovelty:
    """Shingle novelty signal (ops/text_analysis.py ngram_novelty)."""

    def test_novel_vs_remixed_docs(self, spark):
        from ocr_search_spark.ops.text_analysis import ngram_novelty

        rows = [
            (1, "alpha beta gamma delta epsilon"),   # fully novel
            (2, "alpha beta gamma delta epsilon"),   # exact dup of 1
            (3, "one two three four"),               # novel
            (4, "one two three nine ten eleven"),    # shares 'one two three'
            (5, "xy"),                               # < 3 tokens: no shingles
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r.id: r for r in ngram_novelty(df).collect()}
        assert set(out) == {1, 2, 3, 4, 5}
        # dup pair: every shingle shared -> novelty 0
        assert out[1].novelty_ppm == 0 and out[2].novelty_ppm == 0
        # doc 3: 2 shingles, 'one two three' shared with doc 4 -> 1 novel
        assert (out[3].n_shingles, out[3].n_novel, out[3].novelty_ppm) == (
            2, 1, 500_000)
        # doc 4: 4 shingles, 3 novel
        assert (out[4].n_shingles, out[4].n_novel, out[4].novelty_ppm) == (
            4, 3, 750_000)
        assert (out[5].n_shingles, out[5].novelty_ppm) == (0, None)


class TestSplitLeakage:
    """Cross-split near-dup leakage matrix (q_split_leakage composition)."""

    def test_planted_cross_split_dup_detected(self, spark):
        from ocr_search_spark.ops.dedup import verified_near_dup_pairs
        from ocr_search_spark.ops.sampling import hash_split

        base = "the quick brown fox jumps over the lazy dog again and again"
        # 40 distinct docs + one planted near-identical pair
        rows = [(i, f"doc number {i} talks about topic {i} entirely") for i in range(40)]
        rows += [(100, base), (101, base + " extra")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        pairs = verified_near_dup_pairs(
            df, "doc_id", "text", threshold=0.3, n_hashes=8, band_size=2
        ).select("a_id", "b_id")
        split = hash_split(df, {"train": 0.5, "test": 0.5})
        got = {(r.a_id, r.b_id) for r in pairs.collect()}
        assert (100, 101) in got
        sp = {r.doc_id: r.split for r in split.collect()}
        j = [(min(sp[a], sp[b]), max(sp[a], sp[b])) for a, b in got]
        # the composed matrix counts every pair exactly once
        from collections import Counter

        assert sum(Counter(j).values()) == len(got)


class TestSimhashNearDedup:
    """Pigeonhole-band simhash dedup (ops/dedup.py simhash_near_dedup)."""

    def test_near_identical_pair_found_exactly(self, spark):
        from ocr_search_spark.ops.dedup import (
            simhash_df,
            simhash_near_dup_pairs,
        )

        words = [f"word{i}" for i in range(40)]
        rows = [
            (1, " ".join(words)),
            (2, " ".join(words[:-1] + ["changed"])),  # one token swapped
            (3, "totally different vocabulary about gardening and soil"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        sig = {r.id: r.simhash for r in simhash_df(df, "doc_id", "text").collect()}
        ham12 = bin(sig[1] ^ sig[2]).count("1")
        pairs = {
            (r.a_id, r.b_id): r.hamming
            for r in simhash_near_dup_pairs(
                df, "doc_id", "text", bits=32, n_bands=4, max_hamming=3
            ).collect()
        }
        if ham12 <= 3:
            # pigeonhole guarantee: the pair MUST be found (100% recall)
            assert pairs[(1, 2)] == ham12
        else:
            assert (1, 2) not in pairs
        assert not any(3 in p for p in pairs)

    def test_exact_dup_always_recalled_and_dropped(self, spark):
        from ocr_search_spark.ops.dedup import simhash_near_dedup

        rows = [(i, f"unique doc {i} about topic{i} only") for i in range(10)]
        rows += [(50, "alpha beta gamma delta"), (51, "alpha beta gamma delta")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        kept = {
            r.doc_id
            for r in simhash_near_dedup(df, "doc_id", "text").collect()
        }
        assert 50 in kept and 51 not in kept  # hamming 0, min-id keeper

    def test_validates_params(self, spark):
        from ocr_search_spark.ops.dedup import simhash_near_dup_pairs

        df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        with pytest.raises(ValueError, match="divide"):
            simhash_near_dup_pairs(df, "doc_id", "text", bits=32, n_bands=5)
        with pytest.raises(ValueError, match="pigeonhole"):
            simhash_near_dup_pairs(
                df, "doc_id", "text", n_bands=4, max_hamming=4
            )


class TestSemanticDecontaminate:
    """Embedding-space decontamination (ops/similarity.py)."""

    def test_drops_near_eval_keeps_far(self, spark):
        from ocr_search_spark.ops.similarity import semantic_decontaminate

        ev = spark.createDataFrame(
            [(100, [1.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
        )
        pool = spark.createDataFrame(
            [
                (1, [0.99, 0.01, 0.0]),  # ~parallel to eval -> contaminated
                (2, [0.0, 1.0, 0.0]),    # orthogonal -> survives
                (3, [-1.0, 0.0, 0.0]),   # anti-parallel (cos -1) -> survives
            ],
            "vec_id long, embedding array<float>",
        )
        kept = {
            r.vec_id
            for r in semantic_decontaminate(pool, ev, threshold=0.9).collect()
        }
        assert kept == {2, 3}

    def test_any_eval_vector_contaminates(self, spark):
        from ocr_search_spark.ops.similarity import semantic_decontaminate

        ev = spark.createDataFrame(
            [(100, [1.0, 0.0]), (101, [0.0, 1.0])],
            "vec_id long, embedding array<float>",
        )
        pool = spark.createDataFrame(
            [(1, [0.99, 0.01]), (2, [0.01, 0.99]), (3, [-0.7, -0.7])],
            "vec_id long, embedding array<float>",
        )
        kept = {
            r.vec_id
            for r in semantic_decontaminate(pool, ev, threshold=0.9).collect()
        }
        assert kept == {3}  # 1 hits eval#100, 2 hits eval#101

    def test_plan_is_broadcast_anti_no_pool_shuffle(self, spark):
        from ocr_search_spark.ops.similarity import semantic_decontaminate

        ev = spark.createDataFrame(
            [(0, [1.0, 0.0])], "vec_id long, embedding array<float>"
        )
        pool = spark.createDataFrame(
            [(i, [float(i), 1.0]) for i in range(1, 6)],
            "vec_id long, embedding array<float>",
        )
        plan = (
            semantic_decontaminate(pool, ev, threshold=0.99)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # one broadcast nested-loop anti pass; the pool side is never shuffled
        assert "BroadcastNestedLoopJoin" in plan
        assert "LeftAnti" in plan
        assert "Exchange hashpartitioning" not in plan


class TestCorpusDataCard:
    """CUBE data card (ops/text_analysis.py corpus_data_card)."""

    def test_cells_subtotals_and_grand_total(self, spark):
        from pyspark.sql import functions as F

        from ocr_search_spark.ops.text_analysis import corpus_data_card

        rows = [
            ("en", "train", 10),
            ("en", "train", 20),
            ("en", "val", 5),
            ("ru", "train", 7),
        ]
        df = spark.createDataFrame(rows, "lang string, split string, n long")
        out = corpus_data_card(df, ["lang", "split"], {"n": F.sum("n")})
        got = {(r.lang, r.split): (r.docs, r.n) for r in out.collect()}
        # 2^2 grouping sets: cells, each 1-dim subtotal, grand total
        assert got[("en", "train")] == (2, 30)
        assert got[("en", "val")] == (1, 5)
        assert got[("ru", "train")] == (1, 7)
        assert got[("en", None)] == (3, 35)
        assert got[(None, "train")] == (3, 37)
        assert got[(None, None)] == (4, 42)
        assert len(got) == 3 + 2 + 2 + 1

    def test_single_job_single_shuffle(self, spark):
        from pyspark.sql import functions as F

        from ocr_search_spark.ops.text_analysis import corpus_data_card

        df = spark.createDataFrame(
            [("en", "train", 1)], "lang string, split string, n long"
        )
        plan = (
            corpus_data_card(df, ["lang", "split"], {"n": F.sum("n")})
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # expand + partial aggregate before ONE exchange — not a job per cut
        assert plan.count("Exchange") == 1
        assert "Expand" in plan


class TestGlobalShuffle:
    """Two-level deterministic permutation vs the serial oracle."""

    def test_matches_serial_row_number(self, spark):
        import hashlib

        from ocr_search_spark.ops.sampling import global_shuffle

        ids = [f"doc-{i:04d}" for i in range(300)]
        df = spark.createDataFrame([(i,) for i in ids], "doc_id string")
        got = {
            r.doc_id: r.position
            for r in global_shuffle(df, "doc_id", salt="s1").collect()
        }
        order = sorted(
            ids,
            key=lambda d: (hashlib.md5(("s1" + d).encode()).hexdigest(), d),
        )
        want = {d: pos for pos, d in enumerate(order)}
        assert got == want

    def test_dense_permutation_and_salt_independence(self, spark):
        from ocr_search_spark.ops.sampling import global_shuffle

        df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
        a = {
            r.doc_id: r.position
            for r in global_shuffle(df, "doc_id", salt="a").collect()
        }
        b = {
            r.doc_id: r.position
            for r in global_shuffle(df, "doc_id", salt="b").collect()
        }
        assert sorted(a.values()) == list(range(500))
        assert sorted(b.values()) == list(range(500))
        assert a != b  # a different salt draws a different permutation

    def test_partition_invariance(self, spark):
        from ocr_search_spark.ops.sampling import global_shuffle

        df1 = spark.range(0, 200).withColumnRenamed("id", "doc_id")
        df8 = df1.repartition(8)
        a = {
            r.doc_id: r.position
            for r in global_shuffle(df1, "doc_id").collect()
        }
        b = {
            r.doc_id: r.position
            for r in global_shuffle(df8, "doc_id").collect()
        }
        assert a == b

    def test_null_id_raises(self, spark):
        import pytest
        from py4j.protocol import Py4JJavaError

        from ocr_search_spark.ops.sampling import global_shuffle

        df = spark.createDataFrame(
            [("a",), (None,)], "doc_id string"
        )
        with pytest.raises(Exception, match="null doc_id|raise_error|RAISE_ERROR|USER_RAISED"):
            global_shuffle(df, "doc_id").collect()

    def test_prefix_hex_validated(self, spark):
        import pytest

        from ocr_search_spark.ops.sampling import global_shuffle

        df = spark.range(1).withColumnRenamed("id", "doc_id")
        with pytest.raises(ValueError):
            global_shuffle(df, "doc_id", prefix_hex=0)


class TestJaccardIndexAndRecall:
    """Inverted-index exact Jaccard == quadratic reference; recall audit."""

    @pytest.fixture(scope="class")
    def corpus(self, spark):
        import pathlib

        texts = []
        base = pathlib.Path("/root/testdata/sf0.001/documents.parquet")
        df = spark.read.parquet(str(base)).select("doc_id", "text").limit(200)
        return df

    def test_index_matches_quadratic(self, corpus):
        from ocr_search_spark.ops.dedup import (
            jaccard_pairs_exact,
            jaccard_pairs_index,
        )

        for thr in (0.3, 0.7):
            quad = {
                (r.a_id, r.b_id, r.inter, r["union"])
                for r in jaccard_pairs_exact(
                    corpus, "doc_id", "text", threshold=thr
                ).collect()
            }
            idx = {
                (r.a_id, r.b_id, r.inter, r["union"])
                for r in jaccard_pairs_index(
                    corpus, "doc_id", "text", threshold=thr
                ).collect()
            }
            assert idx == quad

    def test_threshold_zero_rejected(self, corpus):
        from ocr_search_spark.ops.dedup import jaccard_pairs_index

        with pytest.raises(ValueError):
            jaccard_pairs_index(corpus, "doc_id", "text", threshold=0.0)

    def test_recall_audit(self, corpus):
        from ocr_search_spark.ops.dedup import neardup_recall

        row = neardup_recall(
            corpus, "doc_id", "text", threshold=0.3, n_hashes=8, band_size=2
        ).collect()[0]
        assert row.n_found <= row.n_true
        if row.n_true:
            assert 0 <= row.recall_bp <= 10000
            assert row.recall_bp == (row.n_found * 10000) // row.n_true
        else:
            assert row.recall_bp is None

    def test_recall_perfect_on_exact_dups(self, spark):
        from ocr_search_spark.ops.dedup import neardup_recall

        rows = [(f"d{i}", "identical text body of this document here") for i in range(4)] + [
            ("x", "совершенно другой текст без общих слов вообще")
        ]
        df = spark.createDataFrame(rows, "doc_id string, text string")
        row = neardup_recall(df, "doc_id", "text", threshold=0.5).collect()[0]
        assert row.n_true == 6  # C(4,2) identical pairs
        assert row.n_found == 6 and row.recall_bp == 10000


class TestLengthBuckets:
    def test_bucket_and_batch_semantics(self, spark):
        from ocr_search_spark.ops.sampling import length_buckets

        rows = [(f"d{i:03d}", n) for i, n in enumerate(
            [0, 1, 2, 3, 7, 8, 100, 120, 130, 140, 150, None]
        )]
        df = spark.createDataFrame(rows, "doc_id string, n_tokens int")
        got = {
            r.doc_id: (r.tokens, r.bucket, r.batch_idx)
            for r in length_buckets(df, batch_size=2).collect()
        }
        assert got["d000"] == (0, 0, 0)   # zero tokens -> bucket 0
        assert got["d011"] == (0, 0, 1)   # null -> 0 tokens, bucket 0
        assert got["d001"][1] == 0        # floor(log2(1)) = 0
        assert got["d002"][1] == 1 and got["d003"][1] == 1
        assert got["d004"][1] == 2 and got["d005"][1] == 3
        assert all(got[f"d{i:03d}"][1] == 6 for i in range(6, 8))   # 100,120
        assert all(got[f"d{i:03d}"][1] == 7 for i in range(8, 11))  # >=128
        # within-bucket batches of 2 in doc_id order
        assert [got[f"d{i:03d}"][2] for i in range(6, 8)] == [0, 0]
        assert [got[f"d{i:03d}"][2] for i in range(8, 11)] == [0, 0, 1]

    def test_batch_size_validated(self, spark):
        from ocr_search_spark.ops.sampling import length_buckets

        df = spark.createDataFrame([("a", 1)], "doc_id string, n_tokens int")
        import pytest as _pytest

        with _pytest.raises(ValueError):
            length_buckets(df, batch_size=0)


class TestCaptionPairs:
    ROWS = [
        # doc A: text, image, text  -> tie (dist 1 both sides) -> preceding
        ("A", "txt", "before text", None, 0),
        ("A", "image", "", "m://a1", 1),
        ("A", "txt", "after text", None, 2),
        # doc B: image leads, only following text
        ("B", "image", "", "m://b1", 0),
        ("B", "html", "  ", None, 1),        # blank -> not a candidate
        ("B", "txt", "caption b", None, 2),
        # doc C: no text at all
        ("C", "image", "", "m://c1", 0),
        ("C", "image", "", "m://c2", 1),
        # doc D: nearest wins over first
        ("D", "txt", "far", None, 0),
        ("D", "txt", "near", None, 3),
        ("D", "image", "", "m://d1", 4),
    ]

    def _flat(self, spark):
        return spark.createDataFrame(
            self.ROWS,
            "doc_id string, kind string, text string, media_ref string, order int",
        )

    def test_semantics(self, spark):
        from ocr_search_spark.ops.multimodal import caption_pairs

        got = {
            (r.doc_id, r.media_ref): (r.caption_order, r.caption, r.distance)
            for r in caption_pairs(self._flat(spark)).collect()
        }
        assert got[("A", "m://a1")] == (0, "before text", 1)  # tie -> prev
        assert got[("B", "m://b1")] == (2, "caption b", 2)    # blank skipped
        assert got[("C", "m://c1")] == (None, None, None)
        assert got[("C", "m://c2")] == (None, None, None)
        assert got[("D", "m://d1")] == (3, "near", 1)

    def test_matches_scalar_twin_on_corpus(self, spark):
        from ocr_search_spark.corpus import build_document, load_base_texts
        from ocr_search_spark.corpus import corpus_df
        from ocr_search_spark.kernels.reference_impl import (
            extract_document_spans,
        )
        from ocr_search_spark.ops.multimodal import caption_pairs
        from ocr_search_spark.pipeline.extract import explode_spans, extract_documents

        flat = explode_spans(
            extract_documents(corpus_df(spark, "/root/testdata/sf0.001", n_docs=80))
        )
        got = {
            (r.doc_id, r.media_order): (r.caption_order, r.caption)
            for r in caption_pairs(flat).collect()
        }
        base = load_base_texts("/root/testdata/sf0.001")
        want = {}
        for i in range(80):
            doc = build_document(i, base)
            spans = extract_document_spans(doc["spans"])
            caps = [
                (s["order"], s["text"])
                for s in spans
                if s["kind"] != "image" and s["text"].strip()
            ]
            for s in spans:
                if s["kind"] != "image":
                    continue
                if not caps:
                    want[(doc["doc_id"], s["order"])] = (None, None)
                    continue
                best = min(
                    caps, key=lambda c: (abs(c[0] - s["order"]), c[0])
                )
                want[(doc["doc_id"], s["order"])] = best
        assert got == want


class TestHtmlLinks:
    def test_extracts_href_anchor_in_order(self, spark):
        from ocr_search_spark.ops.graph import html_links

        spans = [
            ("A", [("html", '<p>x</p><a href="/one">First</a> mid '
                            '<a class="z" href="/two" rel="no">Second</a>'
                            '<a href="/skip"><b>nested</b></a>', None, 0),
                   ("txt", "no links here", None, 1)]),
            ("B", [("txt", '<a href="/not-html">n</a>', None, 0)]),
        ]
        df = spark.createDataFrame(
            spans,
            "doc_id string, spans array<struct<kind:string,text:string,"
            "media_ref:string,offset:int>>",
        )
        rows = sorted(
            (r.doc_id, r.span_offset, r.link_order, r.href, r.anchor)
            for r in html_links(df).collect()
        )
        # nested-tag anchor is excluded (tag-free body contract);
        # txt spans never contribute
        assert rows == [
            ("A", 0, 0, "/one", "First"),
            ("A", 0, 1, "/two", "Second"),
        ]

    def test_matches_python_re_twin_on_corpus(self, spark):
        import re

        from ocr_search_spark.corpus import (
            build_document,
            corpus_df,
            load_base_texts,
        )
        from ocr_search_spark.ops.graph import html_links

        docs = corpus_df(spark, "/root/testdata/sf0.001", n_docs=120)
        got = sorted(
            (r.doc_id, r.span_offset, r.link_order, r.href, r.anchor)
            for r in html_links(docs).collect()
        )
        pat = re.compile(r'<a\s[^>]*href="[^"]*"[^>]*>[^<]*</a>')
        want = []
        base = load_base_texts("/root/testdata/sf0.001")
        for i in range(120):
            d = build_document(i, base)
            for s in d["spans"]:
                if s["kind"] != "html":
                    continue
                for order, m in enumerate(pat.findall(s["text"])):
                    href = re.search(r'href="([^"]*)"', m).group(1)
                    anchor = re.search(r">([^<]*)</a>", m).group(1)
                    want.append((d["doc_id"], s["offset"], order, href, anchor))
        assert got == sorted(want)


class TestInterleaveProfile:
    def test_islands_and_ratios(self, spark):
        from ocr_search_spark.ops.multimodal import interleave_profile

        rows = []
        # doc A: t i i i t i  -> max run 3, 4 media / 6 spans
        for o, k in enumerate(["txt", "image", "image", "image", "txt", "image"]):
            rows.append(("A", k, o))
        # doc B: all text
        for o in range(3):
            rows.append(("B", "pdf", o))
        # doc C: all media
        for o in range(2):
            rows.append(("C", "image", o))
        df = spark.createDataFrame(rows, "doc_id string, kind string, order int")
        got = {
            r.doc_id: (r.n_text, r.n_media, r.media_ratio_bp, r.max_media_run)
            for r in interleave_profile(df).collect()
        }
        assert got["A"] == (2, 4, 6666, 3)
        assert got["B"] == (3, 0, 0, 0)
        assert got["C"] == (0, 2, 10000, 2)

    def test_single_window_shuffle(self, spark):
        from ocr_search_spark.ops.multimodal import interleave_profile

        df = spark.createDataFrame(
            [("A", "txt", 0)], "doc_id string, kind string, order int"
        )
        plan = (
            interleave_profile(df)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # the kind-keyed window must reuse the doc-keyed sort's exchange:
        # exchanges = windows(1 shared) + runs agg + counts agg + join
        assert plan.count("Window") == 2


class TestContainmentPairs:
    def test_quote_inside_long_doc(self, spark):
        from ocr_search_spark.ops.dedup import containment_pairs

        quote = "the quick brown fox jumps over the lazy dog tonight"
        filler = " ".join(f"word{i} token{i} item{i}" for i in range(60))
        rows = [
            ("short", quote),
            ("long", filler + " " + quote + " " + filler[::-1].replace("  ", " ")),
            ("other", "совсем другой текст без общих слов вообще здесь"),
        ]
        df = spark.createDataFrame(rows, "doc_id string, text string")
        got = {
            (r.a_id, r.b_id): r.containment_bp
            for r in containment_pairs(df, "doc_id", "text", 8000).collect()
        }
        # every shingle of the quote appears in the long doc
        assert got.get(("long", "short")) == 10000 or got.get(("short", "long")) == 10000
        assert not any("other" in k for k in got)

    def test_matches_scalar_twin(self, spark):
        from ocr_search_spark.ops.dedup import containment_pairs

        docs = (
            spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text")
            .limit(150)
        )
        got = {
            (r.a_id, r.b_id): (r.inter, r.n_a, r.n_b, r.containment_bp)
            for r in containment_pairs(docs, "doc_id", "text", 5000).collect()
        }
        import re

        tok = re.compile(r"[^a-zа-яё0-9_]+")
        rows = docs.collect()

        def sh(t):
            toks = [x for x in tok.split(t.lower()) if x]
            return {
                " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
            } if len(toks) >= 3 else set()

        sets = {r.doc_id: sh(r.text) for r in rows}
        want = {}
        ids = sorted(sets)
        for i, ai in enumerate(ids):
            for bi in ids[i + 1 :]:
                A, B = sets[ai], sets[bi]
                if not A or not B:
                    continue
                inter = len(A & B)
                if inter * 10000 >= 5000 * min(len(A), len(B)):
                    want[(ai, bi)] = (
                        inter,
                        len(A),
                        len(B),
                        (inter * 10000) // min(len(A), len(B)),
                    )
        assert got == want


class TestMmrSelect:
    """MMR diversified reranking (ops/similarity.py mmr_select)."""

    def _pool(self, spark, rows):
        return spark.createDataFrame(
            rows, "vec_id bigint, rel_e6 bigint, embedding array<float>"
        )

    @staticmethod
    def _scalar_mmr(rows, k, lam):
        """Reference greedy MMR on the same e6 lattice."""
        import math

        def cos_e6(a, b):
            dot = sum(x * y for x, y in zip(a, b))
            na = math.sqrt(sum(x * x for x in a))
            nb = math.sqrt(sum(x * x for x in b))
            return round(round(dot / (na * nb), 6) * 1_000_000)

        by_id = {i: v for i, _, v in rows}
        pool = {i: (r, v) for i, r, v in rows}
        sel: list[int] = []
        while pool and len(sel) < k:
            if not sel:
                pick = max(pool, key=lambda i: (pool[i][0], -i))
            else:
                def score(i):
                    ms = max(
                        cos_e6(pool[i][1], by_id[s]) for s in sel
                    )
                    return lam * pool[i][0] - (10000 - lam) * ms

                pick = max(pool, key=lambda i: (score(i), -i))
            sel.append(pick)
            pool = {i: rv for i, rv in pool.items() if i != pick}
        return sel

    def test_matches_scalar_model(self, spark):
        """8 deterministic vectors: exact pick-order parity with the
        scalar greedy model at an interior lambda."""
        import math

        rows = []
        for i in range(8):
            ang = 2.0 * math.pi * (i % 4) / 4.0 + 0.1 * (i // 4)
            rows.append(
                (i, 900_000 - 37_000 * i, [math.cos(ang), math.sin(ang), 0.25])
            )
        from ocr_search_spark.ops.similarity import mmr_select

        got = [
            r.vec_id
            for r in mmr_select(
                self._pool(spark, rows), k=5, lambda_bp=7000
            ).collect()
        ]
        assert got == self._scalar_mmr(rows, 5, 7000)

    def test_lambda_10000_is_pure_relevance(self, spark):
        from ocr_search_spark.ops.similarity import mmr_select

        rows = [
            (1, 100, [1.0, 0.0]),
            (2, 300, [1.0, 0.01]),
            (3, 200, [0.0, 1.0]),
        ]
        got = [
            r.vec_id
            for r in mmr_select(
                self._pool(spark, rows), k=3, lambda_bp=10000
            ).collect()
        ]
        assert got == [2, 3, 1]

    def test_diversity_beats_redundancy_at_low_lambda(self, spark):
        """Two near-identical top-relevance vectors: at low lambda the
        orthogonal (less relevant) vector is picked second."""
        from ocr_search_spark.ops.similarity import mmr_select

        rows = [
            (1, 1_000_000, [1.0, 0.0]),
            (2, 999_999, [1.0, 0.001]),   # near-dup of 1
            (3, 500_000, [0.0, 1.0]),     # orthogonal
        ]
        got = [
            r.vec_id
            for r in mmr_select(
                self._pool(spark, rows), k=2, lambda_bp=1000
            ).collect()
        ]
        assert got == [1, 3]

    def test_small_pool_and_validation(self, spark):
        import pytest as _pytest

        from ocr_search_spark.ops.similarity import mmr_select

        rows = [(1, 10, [1.0, 0.0]), (2, 20, [0.0, 1.0])]
        out = mmr_select(self._pool(spark, rows), k=10).collect()
        assert [r.vec_id for r in out] == [2, 1]
        assert [r.pick_order for r in out] == [1, 2]
        # zero vector excluded at entry
        rows0 = rows + [(3, 99, [0.0, 0.0])]
        assert len(mmr_select(self._pool(spark, rows0), k=10).collect()) == 2
        with _pytest.raises(ValueError):
            mmr_select(self._pool(spark, rows), k=0)
        with _pytest.raises(ValueError):
            mmr_select(self._pool(spark, rows), lambda_bp=10001)


class TestFunnelAndCohort:
    """Sequential event analytics (ops/events.py)."""

    def _events(self, spark, rows):
        return spark.createDataFrame(
            rows, "user_id bigint, ts timestamp, event_type string"
        )

    def test_funnel_order_is_enforced(self, spark):
        from datetime import datetime as dt

        from ocr_search_spark.ops.events import funnel

        rows = [
            # u1 completes in order
            (1, dt(2024, 1, 1, 0), "view"),
            (1, dt(2024, 1, 1, 1), "click"),
            (1, dt(2024, 1, 1, 2), "purchase"),
            # u2 clicked BEFORE viewing -> stops at view
            (2, dt(2024, 1, 1, 0), "click"),
            (2, dt(2024, 1, 1, 1), "view"),
            # u3 view+click only
            (3, dt(2024, 1, 1, 0), "view"),
            (3, dt(2024, 1, 1, 1), "click"),
            # u4 never viewed -> not even step 1
            (4, dt(2024, 1, 1, 0), "purchase"),
        ]
        out = {
            r.event_type: (r.users, r.conversion_bp)
            for r in funnel(
                self._events(spark, rows), ["view", "click", "purchase"]
            ).collect()
        }
        assert out == {
            "view": (3, 10000),
            "click": (2, 6666),
            "purchase": (1, 3333),
        }

    def test_funnel_greedy_earliest_is_complete(self, spark):
        """A later step-1 event would also work, but greedy earliest
        must still find the completion (earliest prefix only widens the
        suffix window)."""
        from datetime import datetime as dt

        from ocr_search_spark.ops.events import funnel

        rows = [
            (1, dt(2024, 1, 1, 0), "view"),   # earliest view
            (1, dt(2024, 1, 1, 5), "view"),
            (1, dt(2024, 1, 1, 6), "click"),  # after BOTH views
        ]
        out = {
            r.event_type: r.users
            for r in funnel(
                self._events(spark, rows), ["view", "click"]
            ).collect()
        }
        assert out == {"view": 1, "click": 1}

    def test_funnel_empty_first_step_and_validation(self, spark):
        from datetime import datetime as dt

        import pytest as _pytest

        from ocr_search_spark.ops.events import funnel

        rows = [(1, dt(2024, 1, 1), "click")]
        out = funnel(
            self._events(spark, rows), ["view", "click"]
        ).collect()
        assert [(r.users, r.conversion_bp) for r in out] == [(0, 0), (0, 0)]
        with _pytest.raises(ValueError):
            funnel(self._events(spark, rows), [])
        with _pytest.raises(ValueError):
            funnel(self._events(spark, rows), ["view", "view"])

    def test_funnel_is_lazy(self, spark):
        """funnel must return a plan, not run jobs at construction (the
        eager form ran 2·|steps| jobs inside the constructor and re-ran
        them per composition — ADVICE r5): no Spark job may belong to
        the construction-scoped job group."""
        from datetime import datetime as dt

        from ocr_search_spark.ops.events import funnel

        sc = spark.sparkContext
        rows = [(1, dt(2024, 1, 1), "view"), (1, dt(2024, 1, 2), "click")]
        ev = self._events(spark, rows)
        sc.setJobGroup("funnel-lazy-probe", "construction must run no jobs")
        try:
            out = funnel(ev, ["view", "click"])
            jobs = sc.statusTracker().getJobIdsForGroup("funnel-lazy-probe")
        finally:
            sc.setJobGroup(None, None)
        assert jobs == [], f"funnel ran {len(jobs)} job(s) at construction"
        # and the returned plan still computes the right answer
        got = [(r.step, r.users) for r in out.orderBy("step").collect()]
        assert got == [(1, 1), (2, 1)]

    def test_cohort_matrix(self, spark):
        from datetime import datetime as dt

        from ocr_search_spark.ops.events import cohort_retention

        rows = [
            (1, dt(2024, 1, 1, 9), "view"),
            (1, dt(2024, 1, 2, 9), "view"),
            (1, dt(2024, 1, 2, 15), "click"),   # same day, counted once
            (2, dt(2024, 1, 1, 5), "view"),
            (3, dt(2024, 1, 2, 5), "view"),
            (3, dt(2024, 1, 4, 5), "view"),
        ]
        out = {
            (str(r.cohort_day), r.day_offset): r.users
            for r in cohort_retention(self._events(spark, rows)).collect()
        }
        assert out == {
            ("2024-01-01 00:00:00", 0): 2,
            ("2024-01-01 00:00:00", 1): 1,
            ("2024-01-02 00:00:00", 0): 1,
            ("2024-01-02 00:00:00", 2): 1,
        }

    def test_cohort_max_offset_truncates(self, spark):
        from datetime import datetime as dt

        from ocr_search_spark.ops.events import cohort_retention

        rows = [
            (1, dt(2024, 1, 1), "view"),
            (1, dt(2024, 1, 9), "view"),
        ]
        out = cohort_retention(
            self._events(spark, rows), max_offset_days=5
        ).collect()
        assert [r.day_offset for r in out] == [0]


class TestGroupPercentiles:
    """Exact discrete percentiles (ops/text_analysis.py group_percentiles)."""

    def test_matches_scalar_model(self, spark):
        import math

        from ocr_search_spark.ops.text_analysis import group_percentiles

        vals = {"a": [5, 1, 9, 3, 7, 7, 2], "b": [10, 20]}
        rows = [(g, v) for g, vs in vals.items() for v in vs]
        df = spark.createDataFrame(rows, "lang string, n bigint")
        got = {
            (r.lang, r.p): r.value
            for r in group_percentiles(df, "lang", "n", ps=[50, 90, 99]).collect()
        }
        exp = {}
        for g, vs in vals.items():
            s = sorted(vs)
            for p in (50, 90, 99):
                exp[(g, p)] = s[math.ceil(p * len(s) / 100) - 1]
        assert got == exp

    def test_tiny_group_hits_multiple_ps(self, spark):
        from ocr_search_spark.ops.text_analysis import group_percentiles

        df = spark.createDataFrame([("a", 42)], "g string, v bigint")
        got = [
            (r.p, r.value)
            for r in group_percentiles(df, "g", "v", ps=[50, 99]).collect()
        ]
        assert got == [(50, 42), (99, 42)]

    def test_nulls_excluded_and_validation(self, spark):
        import pytest as _pytest

        from ocr_search_spark.ops.text_analysis import group_percentiles

        df = spark.createDataFrame(
            [("a", 1), ("a", None), ("b", None)], "g string, v bigint"
        )
        got = group_percentiles(df, "g", "v", ps=[50]).collect()
        assert [(r.g, r.value) for r in got] == [("a", 1)]  # b vanishes
        with _pytest.raises(ValueError):
            group_percentiles(df, "g", "v", ps=[0])
        with _pytest.raises(ValueError):
            group_percentiles(df, "g", "v", ps=[])


class TestEditDistancePairs:
    """q-gram-blocked fuzzy pairs (ops/dedup.py edit_distance_pairs)."""

    @staticmethod
    def _lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    def _brute(self, names, k):
        out = {}
        ns = sorted(set(names))
        for i, a in enumerate(ns):
            for b in ns[i + 1:]:
                d = self._lev(a, b)
                if d <= k:
                    out[(a, b)] = d
        return out

    def test_matches_brute_force(self, spark):
        """Strings ≥ q(k+1) chars: the q-gram candidate filter is
        recall-complete, so the operator must equal brute force."""
        from ocr_search_spark.ops.dedup import edit_distance_pairs

        names = [
            "alpha", "alphb", "alpha1", "beta", "betta", "gamma",
            "gamm", "delta", "alpha",  # dup text, deduped by distinct ids?
        ]
        rows = [(n, n) for n in sorted(set(names))]
        df = spark.createDataFrame(rows, "id string, name string")
        got = {
            (r.a_id, r.b_id): r.dist
            for r in edit_distance_pairs(df, "id", "name", max_dist=1).collect()
        }
        assert got == self._brute(set(names), 1)

    def test_identical_text_different_id_is_distance_zero(self, spark):
        from ocr_search_spark.ops.dedup import edit_distance_pairs

        df = spark.createDataFrame(
            [("x", "same-name"), ("y", "same-name")], "id string, t string"
        )
        got = edit_distance_pairs(df, "id", "t", max_dist=2).collect()
        assert [(r.a_id, r.b_id, r.dist) for r in got] == [("x", "y", 0)]

    def test_length_filter_and_validation(self, spark):
        import pytest as _pytest

        from ocr_search_spark.ops.dedup import edit_distance_pairs

        # shares grams but length differs by 3 > k -> pruned before verify
        df = spark.createDataFrame(
            [("a", "abcdef"), ("b", "abcdefghi")], "id string, t string"
        )
        assert edit_distance_pairs(df, "id", "t", max_dist=1).count() == 0
        with _pytest.raises(ValueError):
            edit_distance_pairs(df, "id", "t", max_dist=-1)
        with _pytest.raises(ValueError):
            edit_distance_pairs(df, "id", "t", q=0)

    def test_sub_q_strings_emit_no_grams(self, spark):
        """Strings shorter than q have no q-grams: sequence(1, len-q+1)
        would otherwise run DESCENDING and fabricate sub-q grams, making
        two identical 1-char strings a dist-0 pair that the DuckDB
        oracle (range-based, emits nothing) never sees (ADVICE r5)."""
        from ocr_search_spark.ops.dedup import edit_distance_pairs

        df = spark.createDataFrame(
            [("a", "x"), ("b", "x"), ("c", "xy")], "id string, t string"
        )
        # default q=2: "x" has no 2-grams -> no candidates at all for it
        assert edit_distance_pairs(df, "id", "t", max_dist=2).count() == 0
        # q=1 keeps matching 1-char strings (bound min_len >= k+1)
        got = {
            (r.a_id, r.b_id): r.dist
            for r in edit_distance_pairs(df, "id", "t", max_dist=1, q=1).collect()
        }
        assert got == {("a", "b"): 0, ("a", "c"): 1, ("b", "c"): 1}


class TestGroupSplitAndOutliers:
    """Leakage-safe group splits + IQR gates (round 5 close queries)."""

    def test_group_split_integrity(self, spark):
        """Every group lands in exactly one split, splits are exhaustive,
        and the assignment is deterministic across invocations."""
        from ocr_search_spark.ops.sampling import hash_split

        df = spark.createDataFrame(
            [(i, f"src{i % 7}") for i in range(100)],
            "doc_id bigint, source string",
        )
        w = {"train": 0.8, "val": 0.1, "test": 0.1}
        out = hash_split(df, w, id_col="source")
        per_group = (
            out.groupBy("source")
            .agg(F.countDistinct("split").alias("k"))
            .collect()
        )
        assert all(r.k == 1 for r in per_group)
        assert out.count() == 100
        again = {
            (r.doc_id, r.split) for r in hash_split(df, w, id_col="source").collect()
        }
        assert again == {(r.doc_id, r.split) for r in out.collect()}

    def test_iqr_fences_hand_case(self, spark):
        """9 values, one planted far outlier: integer Tukey fences flag
        exactly it."""
        from ocr_search_spark.ops.text_analysis import group_percentiles

        vals = [10, 12, 13, 14, 15, 16, 17, 18, 1000]
        df = spark.createDataFrame(
            [("en", v) for v in vals], "lang string, n_chars bigint"
        )
        pcts = {
            r.p: r.value
            for r in group_percentiles(df, "lang", "n_chars", ps=[25, 75]).collect()
        }
        import math

        s = sorted(vals)
        assert pcts == {
            25: s[math.ceil(25 * 9 / 100) - 1],
            75: s[math.ceil(75 * 9 / 100) - 1],
        }
        q1, q3 = pcts[25], pcts[75]
        lo, hi = q1 - (15 * (q3 - q1)) // 10, q3 + (15 * (q3 - q1)) // 10
        flagged = [v for v in vals if v < lo or v > hi]
        assert flagged == [1000]


class TestEventTransitions:
    def test_transition_counts_with_ties(self, spark):
        from datetime import datetime as dt

        from ocr_search_spark.ops.events import event_transitions

        rows = [
            (1, 1, dt(2024, 1, 1, 0), "view"),
            (1, 2, dt(2024, 1, 1, 1), "click"),
            (1, 3, dt(2024, 1, 1, 2), "view"),
            # u2: two simultaneous events -> event_id tiebreak decides order
            (2, 4, dt(2024, 1, 1, 0), "view"),
            (2, 5, dt(2024, 1, 1, 0), "click"),
        ]
        df = spark.createDataFrame(
            rows, "user_id bigint, event_id bigint, ts timestamp, event_type string"
        )
        got = {
            (r.from_type, r.to_type): r.transitions
            for r in event_transitions(df).collect()
        }
        assert got == {
            ("view", "click"): 2,  # u1 + u2 (tiebreak: id 4 before 5)
            ("click", "view"): 1,
        }


class TestWeightedSample:
    """Efraimidis-Spirakis deterministic weighted sampling."""

    def test_matches_scalar_model_and_is_deterministic(self, spark):
        import hashlib
        import math

        from ocr_search_spark.ops.sampling import weighted_sample

        rows = [(f"d{i}", (i % 7) + 1) for i in range(50)]
        df = spark.createDataFrame(rows, "doc_id string, w bigint")
        got = sorted(
            r.doc_id for r in weighted_sample(df, 10, "w").collect()
        )

        def prio(doc_id, w):
            h = hashlib.md5(f"wsample{doc_id}".encode()).hexdigest()
            b = int(h[:8], 16) % 10000
            return round(math.log((b + 1) / 10001.0) / w, 6)

        exp = sorted(
            sorted(rows, key=lambda r: (-prio(*r), r[0]))[:10],
        )
        assert got == sorted(d for d, _ in exp)
        # determinism
        again = sorted(
            r.doc_id for r in weighted_sample(df, 10, "w").collect()
        )
        assert again == got

    def test_weights_bias_selection(self, spark):
        """A handful of huge-weight rows must dominate the sample."""
        from ocr_search_spark.ops.sampling import weighted_sample

        rows = [(f"h{i}", 10_000) for i in range(5)] + [
            (f"l{i}", 1) for i in range(200)
        ]
        df = spark.createDataFrame(rows, "doc_id string, w bigint")
        got = {r.doc_id for r in weighted_sample(df, 5, "w").collect()}
        assert sum(1 for d in got if d.startswith("h")) >= 4

    def test_nonpositive_weights_excluded_and_validation(self, spark):
        import pytest as _pytest

        from ocr_search_spark.ops.sampling import weighted_sample

        df = spark.createDataFrame(
            [("a", 1), ("b", 0), ("c", -3), ("d", None)],
            "doc_id string, w bigint",
        )
        got = [r.doc_id for r in weighted_sample(df, 10, "w").collect()]
        assert got == ["a"]
        with _pytest.raises(ValueError):
            weighted_sample(df, 0, "w")
