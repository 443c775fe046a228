"""Tests for the training-data pipeline operators (similarity, text,
multimodal) and skew handling (F8)."""

from __future__ import annotations

from datetime import timedelta

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from real_time_sliding_window_spark import synth
from real_time_sliding_window_spark.operators import multimodal, similarity, text
from real_time_sliding_window_spark.operators.skew import salted_windowed_agg
from real_time_sliding_window_spark.operators.windows import windowed_agg

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": range(8),
            "text": [
                "the quick brown fox jumps over the lazy dog",
                "the quick brown fox jumps over the lazy cat",   # near-dup of 0
                "the quick brown fox jumps over the lazy dog",   # exact dup of 0
                "completely different content about der die und das spark engine",
                "el gato la casa que los perros una fiesta",
                "short",
                "",
                "Punct!! and,, CAPS 42 tokens?",
            ],
        }
    )
    return spark.createDataFrame(pdf).cache()


class TestSimilarity:
    def test_brute_force_topk(self, spark):
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        out = similarity.cosine_topk(emb, query_ids=range(5), k=3).toPandas()
        assert set(out.query_id) == set(range(5))
        assert (out.groupby("query_id").size() == 3).all()
        for qid, grp in out.groupby("query_id"):
            g = grp.sort_values("rank")
            assert list(g["rank"]) == [1, 2, 3]
            assert g["cosine"].is_monotonic_decreasing or len(set(g["cosine"])) < 3
            assert not (g["neighbor_id"] == qid).any()

    def test_ivf_subset_of_bucket(self, spark):
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        exact = similarity.cosine_topk(emb, query_ids=range(5), k=3).toPandas()
        approx = similarity.ivf_topk(emb, query_ids=range(5), k=3).toPandas()
        # approximate ranks are valid and cosines can't beat exact rank-1
        best_exact = exact[exact["rank"] == 1].set_index("query_id")["cosine"]
        best_approx = approx[approx["rank"] == 1].set_index("query_id")["cosine"]
        for q in best_approx.index:
            assert best_approx[q] <= best_exact[q] + 1e-12

    def test_ivf_multiprobe_recall(self, spark):
        """Multi-probe lifts recall in LSH's designed regime (true near
        neighbors): deterministic planted corpus — base vectors + cosine
        ~0.95 perturbations of the query vectors."""
        rng = np.random.default_rng(7)
        dim, n_base, n_q, per_q = 16, 200, 10, 3
        base = rng.normal(0, 1, (n_base, dim))
        rows = [
            {"vec_id": i, "embedding": base[i].tolist()} for i in range(n_base)
        ]
        nid = n_base
        for qi in range(n_q):
            v = base[qi] / np.linalg.norm(base[qi])
            for _ in range(per_q):
                noise = rng.normal(0, 1, dim)
                noise -= noise @ v * v
                noise /= np.linalg.norm(noise)
                w = 0.95 * v + np.sqrt(1 - 0.95**2) * noise
                rows.append({"vec_id": nid, "embedding": w.tolist()})
                nid += 1
        emb = spark.createDataFrame(pd.DataFrame(rows))
        single = (
            similarity.recall_at_k(
                emb, range(n_q), k=per_q, n_planes=8, multiprobe=False
            )
            .agg(F.avg("recall"))
            .collect()[0][0]
        )
        multi = (
            similarity.recall_at_k(
                emb, range(n_q), k=per_q, n_planes=8, multiprobe=True
            )
            .agg(F.avg("recall"))
            .collect()[0][0]
        )
        assert multi >= single
        assert multi >= 0.6  # measured ~0.8+ in this regime (BENCH/ANN.md)

    @staticmethod
    def _clustered_corpus(spark, n=240, dim=16, n_clusters=6, noise=0.25):
        """Deterministic well-separated mixture: every vector's true
        neighbors share its cluster."""
        rng = np.random.default_rng(42)
        centers = rng.standard_normal((n_clusters, dim))
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        lab = np.arange(n) % n_clusters
        g = rng.standard_normal((n, dim))
        g /= np.linalg.norm(g, axis=1, keepdims=True)
        vecs = centers[lab] + noise * g
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        return spark.createDataFrame(pd.DataFrame({
            "vec_id": range(n),
            "embedding": [v.astype(np.float32).tolist() for v in vecs],
        }))

    def test_kmeans_deterministic_across_partitionings(self, spark):
        """The integer k-means quantizer must give the SAME centroids
        regardless of input partitioning — summation is exact int64, so
        no float order-dependence (the property the oracle's recursive-CTE
        replay relies on)."""
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        a = similarity.kmeans_centroids(emb, n_centroids=6, n_iter=3)
        b = similarity.kmeans_centroids(
            emb.repartition(13), n_centroids=6, n_iter=3
        )
        assert a == b

    def test_kmeans_requires_convergence_raises(self, spark):
        """require_convergence must FAIL loudly when no fixpoint was
        reached — a half-trained quantizer silently degrades recall."""
        import pytest

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        with pytest.raises(RuntimeError, match="fixpoint"):
            similarity.kmeans_centroids(
                emb, n_centroids=6, n_iter=0, require_convergence=True
            )

    def test_ivf_kmeans_exact_on_separated_clusters(self, spark):
        """On a well-separated mixture, learned cells align with the true
        clusters: 1-probe IVF recovers ≥ 0.9 of the exact top-k, and a
        second probe covers the local-optimum case where k-means split one
        true cluster across two cells — then the result is byte-identical
        to brute force. (The regime where sign-sketch LSH already loses
        half its recall — BENCH/ANN.md round 3.)"""
        emb = self._clustered_corpus(spark)
        cents = similarity.kmeans_centroids(emb, n_centroids=6, n_iter=6)
        exact = similarity.cosine_topk(emb, range(12), k=5).toPandas()
        key = lambda p: sorted(
            map(tuple, p[["query_id", "neighbor_id", "rank"]]
                .itertuples(index=False))
        )
        one = similarity.ivf_kmeans_topk(
            emb, range(12), k=5, centroids=cents, n_probe=1
        ).toPandas()
        e = set(map(tuple, exact[["query_id", "neighbor_id"]].values))
        a = set(map(tuple, one[["query_id", "neighbor_id"]].values))
        assert len(e & a) / len(e) >= 0.9
        two = similarity.ivf_kmeans_topk(
            emb, range(12), k=5, centroids=cents, n_probe=2
        ).toPandas()
        assert key(exact) == key(two)

    def test_ivf_kmeans_spill_no_duplicates_and_helps(self, spark):
        """spill > 1 must not emit duplicate (query, neighbor) rows, and
        recall at equal probes must not drop (boundary recovery)."""
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        cents = similarity.kmeans_centroids(emb, n_centroids=16, n_iter=4)

        def hits(spill):
            exact = similarity.cosine_topk(emb, range(10), k=5).toPandas()
            appr = similarity.ivf_kmeans_topk(
                emb, range(10), k=5, centroids=cents, n_probe=2, spill=spill
            ).toPandas()
            assert not appr.duplicated(["query_id", "neighbor_id"]).any()
            e = set(map(tuple, exact[["query_id", "neighbor_id"]].values))
            a = set(map(tuple, appr[["query_id", "neighbor_id"]].values))
            return len(e & a)

        assert hits(2) >= hits(1)


class TestText:
    def test_language_id(self, docs):
        out = text.language_id(docs).toPandas().set_index("doc_id")
        assert out.loc[0, "predicted_lang"] == "en"
        assert out.loc[3, "predicted_lang"] == "de"
        assert out.loc[4, "predicted_lang"] == "es"
        assert out.loc[6, "predicted_lang"] == "en"  # empty: tie -> order

    def test_quality_scores(self, docs):
        out = text.quality_scores(docs).toPandas().set_index("doc_id")
        assert out.loc[6, "n_tokens"] == 0 and out.loc[6, "distinct_permille"] == 0
        # doc 0: 9 tokens, 8 distinct ('the' twice)
        assert out.loc[0, "n_tokens"] == 9
        assert out.loc[0, "n_distinct_tokens"] == 8
        assert out.loc[0, "distinct_permille"] == int(1000 * 8 / 9)

    def test_token_counts(self, docs):
        out = text.token_counts(docs).toPandas().set_index("doc_id")
        assert out.loc[7, "re_tokens"] == 5  # punct, and, caps, 42, tokens
        assert out.loc[5, "subword_est"] == 2  # 'short' -> ceil(5/4)

    def test_fingerprints_normalize(self, spark):
        pdf = pd.DataFrame(
            {
                "doc_id": [0, 1],
                "text": ["Hello,  World!", "hello world"],
            }
        )
        out = text.fingerprints(spark.createDataFrame(pdf)).toPandas()
        assert out.iloc[0]["fingerprint"] == out.iloc[1]["fingerprint"]


class TestMultimodal:
    def test_feature_extraction_schema_and_shape(self, spark):
        media = multimodal.synthesize_media(spark, n=24)
        feats = multimodal.extract_features(media, feature_dim=16).toPandas()
        assert len(feats) == 24
        assert all(len(f) == 16 for f in feats["features"])
        assert (feats["n_bytes"] > 0).all()
        # deterministic: same payload -> same hash across runs
        feats2 = multimodal.extract_features(media, feature_dim=16).toPandas()
        assert list(feats.sort_values("media_id")["content_hash"]) == list(
            feats2.sort_values("media_id")["content_hash"]
        )

    def test_frame_sample_plan(self, spark):
        media = multimodal.synthesize_media(spark, n=9)
        frames = multimodal.frame_sample(media, every_ms=1000).toPandas()
        per_media = frames.groupby("media_id").size()
        assert (per_media == 5).all()  # 5000ms / 1000ms

    def test_resize_images(self, spark):
        """r5: schema-preserving resize — image rows only, payload exactly
        w*h bytes, metadata rewritten, deterministic across partitionings,
        and the output composes with extract_features."""
        media = multimodal.synthesize_media(spark, n=24)
        out = multimodal.resize_images(media, 8, 4).toPandas()
        n_images = media.filter(F.col("kind") == "image").count()
        assert len(out) == n_images > 0
        assert (out["kind"] == "image").all()
        assert all(len(p) == 8 * 4 for p in out["payload"])
        assert (out["width"] == 8).all() and (out["height"] == 4).all()
        # deterministic under repartition (pure function of the row)
        out7 = multimodal.resize_images(media.repartition(7), 8, 4).toPandas()
        a = out.sort_values("media_id").reset_index(drop=True)
        b = out7.sort_values("media_id").reset_index(drop=True)
        assert list(a["payload"]) == list(b["payload"])
        # composes: features over resized payloads
        feats = multimodal.extract_features(
            multimodal.resize_images(media, 8, 4)
        ).toPandas()
        assert len(feats) == n_images and (feats["n_bytes"] == 32).all()
        import pytest as _pytest

        with _pytest.raises(ValueError, match="positive"):
            multimodal.resize_images(media, 0, 4)


class TestSkew:
    def test_salted_agg_matches_unsalted(self, spark):
        """F8: identical results with and without salting."""
        pdf = synth.f8_skew_rows(hot_turns=2000, n_cold=50, cold_turns=10)
        df = synth.to_spark(spark, pdf)
        plain = windowed_agg(
            df, "ts", timedelta(minutes=10), keys=["conv_id"],
            content_payload=["text"], order_cols=["turn_idx"],
        )
        salted = salted_windowed_agg(
            df, "ts", timedelta(minutes=10), keys=["conv_id"], n_salts=8,
            content_payload=["text"], order_cols=["turn_idx"],
        )
        a = plain.select(
            "window_start", "conv_id", "n_rows", "first_ts", "last_ts",
            F.array_join(F.transform("content", lambda x: x["text"]), ",").alias("cs"),
        ).toPandas().sort_values(["window_start", "conv_id"]).reset_index(drop=True)
        b = salted.select(
            "window_start", "conv_id", "n_rows", "first_ts", "last_ts",
            F.array_join(F.transform("content", lambda x: x["text"]), ",").alias("cs"),
        ).toPandas().sort_values(["window_start", "conv_id"]).reset_index(drop=True)
        pd.testing.assert_frame_equal(a, b)

    def test_sharded_content_reassembles(self, spark):
        """merge_content=False: concatenating the per-shard sorted slices
        (each re-sorted globally) equals the plain merged content, and
        shard counts sum to the window count."""
        pdf = synth.f8_skew_rows(hot_turns=2000, n_cold=20, cold_turns=10)
        df = synth.to_spark(spark, pdf)
        plain = windowed_agg(
            df, "ts", timedelta(minutes=10), keys=["conv_id"],
            content_payload=["text"], order_cols=["turn_idx"],
        ).toPandas().set_index(["window_start", "conv_id"])
        shards = salted_windowed_agg(
            df, "ts", timedelta(minutes=10), keys=["conv_id"], n_salts=8,
            content_payload=["text"], order_cols=["turn_idx"],
            merge_content=False,
        ).toPandas()
        for (ws, conv), g in shards.groupby(["window_start", "conv_id"]):
            # disjoint shards: counts add up
            assert g["n_rows"].sum() == plain.loc[(ws, conv), "n_rows"]
            # lossless reassembly: merge-sort the shard slices
            merged = sorted(
                (tuple(row) for content in g["content"] for row in content)
            )
            expect = [tuple(r) for r in plain.loc[(ws, conv), "content"]]
            assert merged == expect


class TestSampling:
    def test_hash_sample_deterministic_under_repartition(self, spark):
        """Content-addressed sampling selects the same rows no matter how
        the data is partitioned or re-run — the reproducibility property
        RNG sampling lacks."""
        from real_time_sliding_window_spark.operators import sampling

        df = spark.range(2000).withColumnRenamed("id", "doc_id")
        a = sorted(r.doc_id for r in sampling.hash_sample(df, "doc_id", 25).collect())
        b = sorted(
            r.doc_id
            for r in sampling.hash_sample(df.repartition(7), "doc_id", 25).collect()
        )
        assert a == b and 0 < len(a) < 2000
        # rate is approximately honored (md5 buckets are uniform)
        assert abs(len(a) / 2000 - 0.25) < 0.05

    def test_mixture_sample_rates_and_consistency(self, spark):
        """r4: per-source rates honored; a doc's keep decision under
        mixture_sample(rate r for its source) == hash_sample(r) — the
        mixture is per-source hash_sample by construction, so mixing
        composes with incremental ingest exactly like sampling does."""
        from pyspark.sql import functions as SF

        from real_time_sliding_window_spark.operators import sampling

        df = spark.range(3000).select(
            F.col("id").alias("doc_id"),
            SF.concat(SF.lit("s"), (F.col("id") % 3)).alias("source"),
        )
        got = sampling.mixture_sample(
            df, "doc_id", "source", {"s0": 100, "s1": 40}, default_pct=0
        ).toPandas()
        by_src = got.groupby("source").size().to_dict()
        assert by_src.get("s0") == 1000          # rate 100 keeps all
        assert by_src.get("s2", 0) == 0          # default 0 drops all
        assert 0 < by_src.get("s1", 0) < 1000    # ~40%
        only_s1 = sampling.hash_sample(
            df.filter(F.col("source") == "s1"), "doc_id", 40
        ).toPandas()
        assert sorted(got[got.source == "s1"].doc_id) == sorted(
            only_s1.doc_id
        )

    def test_mixture_sample_rates_are_percent_at_any_bucket_count(self, spark):
        """ADVICE r4: rates mean PERCENT regardless of n_buckets — pct=80
        at n_buckets=1000 keeps ~80% (not 8%), and n_buckets=100 keeps
        exactly the same semantics as before the fix."""
        from pyspark.sql import functions as SF

        from real_time_sliding_window_spark.operators import sampling

        df = spark.range(4000).select(
            F.col("id").alias("doc_id"), SF.lit("s0").alias("source")
        )
        for n_buckets in (100, 1000, 256):
            kept = sampling.mixture_sample(
                df, "doc_id", "source", {"s0": 80}, n_buckets=n_buckets
            ).count()
            assert abs(kept / 4000 - 0.80) < 0.05, (n_buckets, kept)
        # 0 drops all, 100 keeps all — at every bucket count
        assert sampling.mixture_sample(
            df, "doc_id", "source", {"s0": 0}, n_buckets=1000
        ).count() == 0
        assert sampling.mixture_sample(
            df, "doc_id", "source", {"s0": 100}, n_buckets=1000
        ).count() == 4000

    def test_temperature_mixture(self, spark):
        """r5: alpha-temperature source balancing. alpha=1 keeps
        everything (rate 100% per source); alpha=0 equalizes toward the
        smallest source (rate = min/size); alpha=0.5 thins the head by
        sqrt(min/size); the smallest source always keeps 100%; the kept
        set equals per-source hash_sample at the computed rate
        (content-addressed composition carries over)."""
        from pyspark.sql import functions as SF

        from real_time_sliding_window_spark.operators import sampling

        # sources of size 4000 / 1000 / 250 (16:4:1 head skew)
        df = spark.range(5250).select(
            F.col("id").alias("doc_id"),
            SF.when(F.col("id") < 4000, "big")
            .when(F.col("id") < 5000, "mid")
            .otherwise("small")
            .alias("source"),
        )
        # alpha=1: no thinning at all
        assert (
            sampling.temperature_mixture(df, "doc_id", "source", alpha=1.0)
            .count() == 5250
        )
        # alpha=0.5: rates = sqrt(250/size) -> big 250, mid 500, small 1000 pm
        out = sampling.temperature_mixture(
            df, "doc_id", "source", alpha=0.5
        ).toPandas()
        rates = out.groupby("source").rate_pm.first().to_dict()
        assert rates == {"big": 250, "mid": 500, "small": 1000}
        by = out.groupby("source").size().to_dict()
        assert by["small"] == 250                      # min source: all kept
        assert abs(by["big"] / 4000 - 0.25) < 0.05     # ~25%
        assert abs(by["mid"] / 1000 - 0.50) < 0.07     # ~50%
        # alpha=0: equalize -> rate = min/size (big 62 pm, floor'd)
        eq = sampling.temperature_mixture(
            df, "doc_id", "source", alpha=0.0
        ).toPandas()
        assert eq.groupby("source").rate_pm.first().to_dict() == {
            "big": 62, "mid": 250, "small": 1000
        }
        # composition: kept big-rows == hash_sample at 250/1000 on that source
        only_big = sampling.hash_sample(
            df.filter(F.col("source") == "big"), "doc_id", 250, n_buckets=1000
        ).toPandas()
        assert sorted(out[out.source == "big"].doc_id) == sorted(
            only_big.doc_id
        )
        # weight_col changes sizes: weight 'small' heaviest so it is no
        # longer the 100% source
        wdf = df.withColumn(
            "w",
            SF.when(F.col("source") == "small", 1000).otherwise(1).cast("long"),
        )
        wout = sampling.temperature_mixture(
            wdf, "doc_id", "source", alpha=0.5, weight_col="w"
        ).toPandas()
        wrates = wout.groupby("source").rate_pm.first().to_dict()
        assert wrates["mid"] == 1000 and wrates["small"] < 100
        import pytest as _pytest

        with _pytest.raises(ValueError):
            sampling.temperature_mixture(df, "doc_id", "source", alpha=1.5)

    def test_token_budget_select_edges(self, spark):
        """r4: the two-pass stratum plan equals the naive prefix rule on
        crafted strata, including both edge regimes — whole corpus fits
        (no boundary stratum) and budget inside the FIRST stratum."""
        from real_time_sliding_window_spark.operators.sampling import (
            token_budget_select,
        )

        pdf = pd.DataFrame({
            "doc_id": [1, 2, 3, 4, 5, 6],
            "score": [9, 9, 5, 5, 5, 1],
            "toks": [10, 20, 5, 5, 100, 1],
        })
        df = spark.createDataFrame(pdf)

        def run(budget):
            out = token_budget_select(
                df, budget, score_col="score", token_col="toks"
            ).toPandas()
            return sorted(
                (int(r.doc_id), int(r.cum_tokens)) for r in out.itertuples()
            )

        # naive order: (9,1,10) (9,2,30) (5,3,35) (5,4,40) (5,5,140) (1,6,141)
        assert run(40) == [(1, 10), (2, 30), (3, 35), (4, 40)]
        assert run(139) == [(1, 10), (2, 30), (3, 35), (4, 40)]  # 5 overflows; prefix stops
        assert run(1000) == [(1, 10), (2, 30), (3, 35), (4, 40), (5, 140),
                             (6, 141)]          # whole corpus fits
        assert run(15) == [(1, 10)]             # budget inside first stratum
        assert run(5) == []                     # nothing fits

    def test_split_assignment_partitions_corpus(self, spark):
        from real_time_sliding_window_spark.operators import sampling

        df = spark.range(2000).withColumnRenamed("id", "doc_id")
        out = sampling.split_assignment(df, "doc_id").toPandas()
        counts = out["split"].value_counts()
        assert set(counts.index) == {"train", "val", "test"}
        assert counts.sum() == 2000
        assert abs(counts["train"] / 2000 - 0.8) < 0.05

    def test_decontaminate_flags_overlap_only(self, spark):
        """A held-out doc sharing a rare 3-gram with train is flagged with
        the exact shared-shingle count; clean docs and boilerplate-only
        overlaps are not."""
        from real_time_sliding_window_spark.operators.sampling import decontaminate

        boiler = "terms and conditions apply to every document here now ok"
        pdf = pd.DataFrame({
            "doc_id": [0, 1, 2, 3, 4, 5],
            "split": ["train", "train", "test", "test", "val", "train"],
            "text": [
                f"unique alpha beta gamma delta {boiler}",
                f"different content entirely words {boiler}",
                f"copy of alpha beta gamma delta {boiler}",   # overlaps doc 0
                f"totally clean heldout text xyz {boiler}",   # boilerplate only
                f"different content entirely words {boiler}", # exact dup of 1
                f"more train stuff {boiler}",
            ],
        })
        df = spark.createDataFrame(pdf)
        out = decontaminate(
            df, shingle_k=3, max_df=3
        ).toPandas().set_index("doc_id")
        assert 2 in out.index            # rare-shingle overlap with train
        assert 4 in out.index            # exact dup of a train doc
        assert 3 not in out.index        # boilerplate (df>cap) is not evidence
        assert out.loc[2, "n_contaminated_shingles"] >= 3


class TestChunking:
    def test_chunk_coverage_and_overlap(self, spark):
        """Chunks tile the token stream: with stride < size consecutive
        chunks overlap by (size - stride) tokens; every token appears in
        some chunk; short docs yield exactly one (short) chunk."""
        from real_time_sliding_window_spark.operators.chunking import chunk_documents

        words = [f"w{i}" for i in range(100)]
        pdf = pd.DataFrame({
            "doc_id": [0, 1],
            "text": [" ".join(words), "tiny doc"],
        })
        out = chunk_documents(
            spark.createDataFrame(pdf), chunk_tokens=32, stride=16
        ).toPandas()
        d0 = out[out.doc_id == 0].sort_values("chunk_idx")
        # ceil((100-32)/16)+1 = 6 chunks
        assert len(d0) == 6
        first = d0.iloc[0]["chunk_text"].split(" ")
        second = d0.iloc[1]["chunk_text"].split(" ")
        assert first == words[:32] and second == words[16:48]
        assert first[16:] == second[:16]  # 16-token overlap
        covered = {w for t in d0["chunk_text"] for w in t.split(" ")}
        assert covered == set(words)
        d1 = out[out.doc_id == 1]
        assert len(d1) == 1 and d1.iloc[0]["chunk_text"] == "tiny doc"
        assert d1.iloc[0]["n_tokens"] == 2

    def test_chunk_gap_stride_no_phantom_chunk(self, spark):
        """Gap chunking (stride > chunk_tokens) must not emit an empty chunk
        starting past the end of the word array: 7 words, chunk=1, stride=5
        is exactly 2 chunks (starts 0 and 5), not 3 (ADVICE r02)."""
        from real_time_sliding_window_spark.operators.chunking import chunk_documents

        pdf = pd.DataFrame({
            "doc_id": [0],
            "text": [" ".join(f"w{i}" for i in range(7))],
        })
        out = (
            chunk_documents(spark.createDataFrame(pdf), chunk_tokens=1, stride=5)
            .toPandas()
            .sort_values("chunk_idx")
        )
        assert list(out["chunk_text"]) == ["w0", "w5"]
        assert (out["chunk_text"] != "").all()
        assert list(out["n_tokens"]) == [1, 1]

    def test_pack_documents_budget(self, spark):
        """Sequential packing: bins respect the cumulative-token boundary
        and the assignment is deterministic in doc_id order."""
        from real_time_sliding_window_spark.operators.chunking import pack_documents

        pdf = pd.DataFrame({
            "doc_id": range(6),
            "source": ["s"] * 6,
            "text": [" ".join(["w"] * n) for n in (40, 40, 40, 40, 40, 40)],
        })
        out = pack_documents(
            spark.createDataFrame(pdf), budget_tokens=100
        ).toPandas().sort_values("doc_id")
        # cumsum before each doc: 0,40,80,120,160,200 -> bins 0,0,0,1,1,2
        assert list(out["pack_id"]) == [0, 0, 0, 1, 1, 2]

    def test_pack_documents_sharded(self, spark):
        """Sharded packing: n_shards independent pack streams per key —
        every shard obeys the budget, assignments stay deterministic, and
        every doc is packed exactly once."""
        from real_time_sliding_window_spark.operators.chunking import pack_documents

        pdf = pd.DataFrame({
            "doc_id": range(200),
            "source": ["s"] * 200,
            "text": [" ".join(["w"] * 50)] * 200,
        })
        out = pack_documents(
            spark.createDataFrame(pdf), budget_tokens=200, n_shards=4
        ).toPandas()
        assert len(out) == 200 and out["doc_id"].is_unique
        assert set(out["shard"]) <= set(range(4))
        for (_, _), g in out.groupby(["shard", "pack_id"]):
            assert g["n_tokens"].sum() <= 200 + 50  # last doc may cross
        # deterministic: same assignment on a differently-partitioned input
        again = pack_documents(
            spark.createDataFrame(pdf).repartition(7),
            budget_tokens=200, n_shards=4,
        ).toPandas()
        k = lambda p: sorted(map(tuple, p[["doc_id", "shard", "pack_id"]]
                                 .itertuples(index=False)))
        assert k(out) == k(again)

    def test_contamination_filter_batch_and_stream(self, spark, tmp_path):
        """The ingest guard drops exactly the docs sharing a k-gram with
        the holdout table — in batch, and per micro-batch via foreachBatch
        on a stream."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from real_time_sliding_window_spark.operators.sampling import (
            contamination_filter,
            holdout_shingle_table,
        )

        holdout = spark.createDataFrame(pd.DataFrame({
            "doc_id": [100],
            "text": ["secret eval question about rare topic xyz"],
        }))
        hs = holdout_shingle_table(holdout, shingle_k=3).cache()
        incoming = pd.DataFrame({
            "doc_id": [0, 1, 2],
            "text": [
                "normal training text with common words",
                "another document citing the secret eval question verbatim",
                "more clean training data here",
            ],
        })
        got = contamination_filter(
            spark.createDataFrame(incoming), hs, shingle_k=3
        ).toPandas()
        assert sorted(got["doc_id"]) == [0, 2]  # doc 1 leaked the eval gram

        # streaming ingest: same guard inside foreachBatch
        src = tmp_path / "guard_in"
        src.mkdir()
        pq.write_table(pa.Table.from_pandas(incoming), str(src / "d.parquet"))
        stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
        kept = []
        q = (
            stream.writeStream.foreachBatch(
                lambda df, bid: kept.extend(
                    r.doc_id
                    for r in contamination_filter(df, hs, shingle_k=3).collect()
                )
            )
            .option("checkpointLocation", str(tmp_path / "guard_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert sorted(kept) == [0, 2]


class TestRepetitionSignals:
    def test_known_fixture(self, spark):
        """'a a a b': 4 words, 2 distinct, bigrams [aa, aa, ab] -> top 2."""
        import pandas as pd

        from real_time_sliding_window_spark.operators.text import (
            repetition_signals,
        )

        docs = spark.createDataFrame(pd.DataFrame({
            "doc_id": [0, 1, 2],
            "text": ["a a a b", "solo", ""],
        }))
        out = (
            repetition_signals(docs).toPandas().set_index("doc_id")
        )
        r = out.loc[0]
        assert (r.n_words, r.n_distinct_words, r.n_bigrams,
                r.top_bigram_count) == (4, 2, 3, 2)
        assert r.dup_word_frac == 0.5 and abs(r.top_bigram_frac - 2 / 3) < 1e-12
        # 1-token and empty docs: no bigrams, zero fractions
        assert out.loc[1].n_bigrams == 0 and out.loc[1].top_bigram_frac == 0.0
        assert out.loc[2].n_words == 0 and out.loc[2].dup_word_frac == 0.0


class TestTfidfRetrieval:
    @staticmethod
    def _docs(spark):
        import pandas as pd

        return spark.createDataFrame(pd.DataFrame({
            "doc_id": [0, 1, 2],
            "text": ["apple banana", "apple apple", "cherry"],
        }))

    def test_scoring_and_ranks(self, spark):
        from real_time_sliding_window_spark.operators.retrieval import tfidf_topk

        out = tfidf_topk(
            self._docs(spark), [("q", "apple")], k=5
        ).toPandas().sort_values("rank")
        # df(apple)=2, N=3 -> w = 3000 div 3 = 1000; d1 tf=2 -> 2000
        assert list(out.doc_id) == [1, 0]
        assert list(out.score) == [2000, 1000]
        assert list(out["rank"]) == [1, 2]  # .rank is the pandas method

    def test_max_df_drops_stopword_terms(self, spark):
        from real_time_sliding_window_spark.operators.retrieval import tfidf_topk

        out = tfidf_topk(
            self._docs(spark), [("q", "apple cherry")], k=5, max_df=1
        ).toPandas()
        # apple (df=2) is dropped by the cap; only cherry scores
        assert list(out.doc_id) == [2]


class TestBm25Retrieval:
    @staticmethod
    def _corpus(spark):
        import pandas as pd

        return spark.createDataFrame(pd.DataFrame({
            "doc_id": [0, 1, 2],
            "text": [
                "apple apple",                                  # dl=2, tf=2
                "apple apple filler filler filler filler",      # dl=6, tf=2
                "cherry words other",                           # dl=3, tf=0
            ],
        }))

    def test_length_normalization_ranks_shorter_doc_first(self, spark):
        from real_time_sliding_window_spark.operators.retrieval import bm25_topk

        out = (
            bm25_topk(self._corpus(spark), [("q", "apple")], k=5)
            .toPandas()
            .sort_values("rank")
        )
        # equal tf, shorter doc wins under BM25 length normalization
        assert list(out.doc_id) == [0, 1]

    def test_integer_formula_matches_reference_python(self, spark):
        from real_time_sliding_window_spark.operators.retrieval import (
            BM25_COMP_SCALE, IDF_SCALE, bm25_topk,
        )

        out = (
            bm25_topk(self._corpus(spark), [("q", "apple")], k=5)
            .toPandas()
            .set_index("doc_id")["score"]
        )
        n, sl = 3, 11          # 3 docs, 2+6+3 tokens
        df_t = 2               # 'apple' appears in docs 0 and 1
        idf = ((2 * (n - df_t) + 1) * IDF_SCALE) // (2 * df_t + 1)
        for doc_id, tf, dl in [(0, 2, 2), (1, 2, 6)]:
            r = (dl * n * 1000) // sl
            comp = (2200 * tf * BM25_COMP_SCALE) // (
                1000 * tf + 300 + (9 * r) // 10
            )
            assert out[doc_id] == idf * comp

    def test_max_df_guard_and_empty_corpus(self, spark):
        from real_time_sliding_window_spark.operators.retrieval import bm25_topk

        out = bm25_topk(
            self._corpus(spark), [("q", "apple cherry")], k=5, max_df=1
        ).toPandas()
        # apple (df=2) capped away; only cherry scores
        assert list(out.doc_id) == [2]
        empty = spark.createDataFrame([], "doc_id long, text string")
        with pytest.raises(ValueError, match="empty corpus"):
            bm25_topk(empty, [("q", "apple")])


class TestGroupwiseSample:
    @staticmethod
    def _rows(spark):
        import pandas as pd

        return spark.createDataFrame(pd.DataFrame({
            "doc_id": range(40),
            "source": ["a"] * 25 + ["b"] * 12 + ["c"] * 3,
        }))

    def test_exact_count_and_repartition_stability(self, spark):
        from real_time_sliding_window_spark.operators.sampling import (
            groupwise_bottomk_sample,
        )

        df = self._rows(spark)
        out = groupwise_bottomk_sample(df, "source", "doc_id", k=5).toPandas()
        sizes = out.groupby("source")["doc_id"].count().to_dict()
        assert sizes == {"a": 5, "b": 5, "c": 3}  # min(k, |group|) exactly
        again = (
            groupwise_bottomk_sample(
                df.repartition(7, "doc_id"), "source", "doc_id", k=5
            )
            .toPandas()
        )
        key = lambda p: sorted(map(tuple, p[["source", "doc_id"]].values))
        assert key(out) == key(again)

    def test_bottomk_is_mergeable(self, spark):
        """Bottom-k of a union == bottom-k over the per-increment bottom-k's
        — the property that lets an incremental pipeline keep only k rows
        per group per increment."""
        from real_time_sliding_window_spark.operators.sampling import (
            groupwise_bottomk_sample,
        )

        df = self._rows(spark)
        half1 = df.filter(F.col("doc_id") < 20)
        half2 = df.filter(F.col("doc_id") >= 20)
        merged = groupwise_bottomk_sample(
            groupwise_bottomk_sample(half1, "source", "doc_id", k=5)
            .select("doc_id", "source")
            .unionByName(
                groupwise_bottomk_sample(half2, "source", "doc_id", k=5)
                .select("doc_id", "source")
            ),
            "source", "doc_id", k=5,
        ).toPandas()
        direct = groupwise_bottomk_sample(
            df, "source", "doc_id", k=5
        ).toPandas()
        key = lambda p: sorted(
            map(tuple, p[["source", "doc_id", "sample_rank"]].values)
        )
        assert key(merged) == key(direct)

    def test_k_must_be_positive(self, spark):
        from real_time_sliding_window_spark.operators.sampling import (
            groupwise_bottomk_sample,
        )

        with pytest.raises(ValueError, match="k must be"):
            groupwise_bottomk_sample(self._rows(spark), "source", "doc_id", 0)


class TestRedactPii:
    def test_counts_and_replacement(self, spark):
        out = text.redact_pii(
            spark.createDataFrame(
                [
                    (0, "mail me at jo.doe+x@corp.example.org today"),
                    (1, "ticket 1234567 and card 99887766554433"),
                    (2, "clean text with short num 12345"),
                    (3, ""),
                ],
                "doc_id long, text string",
            )
        ).toPandas().set_index("doc_id")
        assert out.loc[0, "text_redacted"] == "mail me at <email> today"
        assert (out.loc[0, "n_emails"], out.loc[0, "n_longnums"]) == (1, 0)
        assert out.loc[1, "text_redacted"] == "ticket <num> and card <num>"
        assert (out.loc[1, "n_emails"], out.loc[1, "n_longnums"]) == (0, 2)
        # 5-digit run is below the long-num threshold: untouched
        assert out.loc[2, "text_redacted"] == "clean text with short num 12345"
        assert (out.loc[2, "n_emails"], out.loc[2, "n_longnums"]) == (0, 0)
        assert out.loc[3, "text_redacted"] == ""

    def test_digit_bearing_email_counted_once(self, spark):
        out = text.redact_pii(
            spark.createDataFrame(
                [(0, "reach user1234567@host.example.com now")],
                "doc_id long, text string",
            )
        ).toPandas().iloc[0]
        # the 7-digit run lives inside the email: one email, zero longnums
        assert out["text_redacted"] == "reach <email> now"
        assert (out["n_emails"], out["n_longnums"]) == (1, 0)


class TestPercentileGate:
    def test_gate_cuts_at_group_order_statistic(self, spark):
        import pandas as pd

        from real_time_sliding_window_spark.operators.sampling import (
            percentile_gate,
        )

        pdf = pd.DataFrame({
            "doc_id": range(23),
            "source": ["a"] * 20 + ["b"] * 3,
            "n_chars": list(range(100, 2100, 100)) + [5, 7, 9],
        })
        out = percentile_gate(
            spark.createDataFrame(pdf), "source", "n_chars", pct=0.25
        ).toPandas()
        for src, grp in pdf.groupby("source"):
            kept = out[out.source == src]
            thr = kept.gate_threshold.iloc[0]
            # the cut is a MEMBER of the group (discrete order statistic)
            assert thr in set(grp.n_chars)
            # kept == exactly the rows at or above the cut
            assert sorted(kept.n_chars) == sorted(
                grp.n_chars[grp.n_chars >= thr]
            )
            # no more than pct of the group falls strictly below the cut
            assert (grp.n_chars < thr).sum() <= 0.25 * len(grp)
        # the 3-row group keeps at least its top rows (gate never empties)
        assert (out.source == "b").sum() >= 1


class TestLinalg:
    """r5: one-pass Gramian + driver-side PCA (the fixed-size-summary
    doctrine applied to second moments)."""

    def _emb(self, spark, n=120, d=8, seed=7):
        import numpy as np

        rng = np.random.default_rng(seed)
        # low-rank structure + noise so PCA has a meaningful spectrum
        basis = rng.normal(size=(3, d))
        x = rng.normal(size=(n, 3)) @ basis + 0.05 * rng.normal(size=(n, d))
        rows = [(i, [float(v) for v in x[i]]) for i in range(n)]
        return (
            spark.createDataFrame(rows, ["vec_id", "embedding"]),
            x,
        )

    def test_gram_matrix_exact_and_partition_invariant(self, spark):
        import numpy as np

        from real_time_sliding_window_spark.operators import linalg

        df, x = self._emb(spark)
        q = np.round(x.astype(np.float64) * 1000).astype(np.int64)
        want = q.T @ q
        got = {
            (r["i"], r["j"]): r["dot"]
            for r in linalg.gram_matrix(df, dim=8).collect()
        }
        assert got[(0, 0)] == len(x)
        for i in range(8):
            assert got[(i + 1, 0)] == q[:, i].sum()
            for j in range(i, 8):
                assert got[(i + 1, j + 1)] == want[i, j], (i, j)
        # partition-invariant (int math is associative): 1 vs 13 slices
        got13 = {
            (r["i"], r["j"]): r["dot"]
            for r in linalg.gram_matrix(df.repartition(13), dim=8).collect()
        }
        assert got == got13
        # mergeable: gram(A ∪ B) == gram(A) + gram(B) pointwise
        a = df.filter(F.col("vec_id") < 60)
        b = df.filter(F.col("vec_id") >= 60)
        ga = {(r["i"], r["j"]): r["dot"] for r in linalg.gram_matrix(a, dim=8).collect()}
        gb = {(r["i"], r["j"]): r["dot"] for r in linalg.gram_matrix(b, dim=8).collect()}
        assert got == {k: ga[k] + gb[k] for k in got}

    def test_pca_fit_matches_numpy_and_projects(self, spark):
        import numpy as np

        from real_time_sliding_window_spark.operators import linalg

        df, x = self._emb(spark)
        comps, evals, mu = linalg.pca_fit(df, k=3, dim=8)
        # against numpy PCA on the quantized data (the operator's contract
        # is over quantized vectors; quantization noise is ~1e-3)
        xq = np.round(x.astype(np.float64) * 1000) / 1000.0
        mu_np = xq.mean(axis=0)
        cov = (xq - mu_np).T @ (xq - mu_np) / len(xq)
        ev_np, evec_np = np.linalg.eigh(cov)
        order = np.argsort(ev_np)[::-1][:3]
        assert np.allclose(mu, mu_np, atol=1e-9)
        assert np.allclose(evals, ev_np[order], rtol=1e-9)
        # eigenvectors match up to the pinned sign convention
        for c in range(3):
            v = evec_np[:, order[c]]
            v = v * np.sign(v[np.abs(v).argmax()])
            assert np.allclose(comps[:, c], v, atol=1e-9), c
        # orthonormal
        assert np.allclose(comps.T @ comps, np.eye(3), atol=1e-12)
        # distributed projection == numpy projection on ORIGINAL floats
        proj = {
            r["vec_id"]: np.array(r["pca"])
            for r in linalg.pca_project(df, comps, mu).collect()
        }
        xf = np.array([[np.float32(v) for v in row] for row in x], dtype=np.float64)
        want = (xf - mu) @ comps
        for i in range(len(x)):
            assert np.allclose(proj[i], want[i], atol=1e-9), i
        # variance actually concentrates: top-3 explain > 95% here
        assert evals.sum() / cov.trace() > 0.95

    def test_pca_fit_raises_on_tiny_corpus(self, spark):
        import pytest as _pytest

        from real_time_sliding_window_spark.operators import linalg

        df = spark.createDataFrame(
            [(0, [1.0, 2.0])], ["vec_id", "embedding"]
        )
        with _pytest.raises(ValueError):
            linalg.pca_fit(df, k=1, dim=2)


class TestTokenDrift:
    def test_known_fixture_and_contracts(self, spark):
        """r5: exact ppm deltas on a crafted two-slice corpus; symmetric
        under slice swap (delta unchanged); raises on an empty slice."""
        import pytest as _pytest

        from real_time_sliding_window_spark.operators.drift import token_drift

        df = spark.createDataFrame(
            [
                (0, "a", "x x x y"),       # slice a: x:3 y:1 (tot 4)
                (1, "a", "x y z"),         #          x:4 y:2 z:1... tot 7
                (2, "b", "x y y"),         # slice b: x:1 y:2 (tot 5)
                (3, "b", "q y"),           #          q:1 y:3
                (4, "c", "ignored words"),
            ],
            ["doc_id", "source", "text"],
        )
        out = {
            r["token"]: r
            for r in token_drift(df, "source", "a", "b").collect()
        }
        # slice a totals: x4 y2 z1 -> 7; slice b: x1 y3 q1 -> 5
        assert out["x"]["ppm_a"] == 4 * 1_000_000 // 7
        assert out["x"]["ppm_b"] == 1 * 1_000_000 // 5
        assert out["x"]["delta_ppm"] == abs(4000000 // 7 - 200000)
        assert out["q"]["cnt_a"] == 0 and out["q"]["ppm_a"] == 0
        assert out["z"]["cnt_b"] == 0
        assert "ignored" not in out  # other slices excluded
        # swap symmetry: deltas identical
        rev = {
            r["token"]: r["delta_ppm"]
            for r in token_drift(df, "source", "b", "a").collect()
        }
        assert rev == {t: r["delta_ppm"] for t, r in out.items()}
        # top_k is a deterministic prefix of (delta DESC, token ASC)
        all_sorted = sorted(
            out.values(), key=lambda r: (-r["delta_ppm"], r["token"])
        )
        top2 = token_drift(df, "source", "a", "b", top_k=2).collect()
        assert [(r["token"]) for r in top2] == [
            r["token"] for r in all_sorted[:2]
        ]
        with _pytest.raises(ValueError, match="empty slice"):
            token_drift(df, "source", "a", "nosuch")

    def test_incremental_index_equals_batch(self, spark, tmp_path):
        """r5: counts through the exactly-once sink are exactly additive —
        drift_from_index over the accumulated log equals token_drift over
        the same corpus bit-for-bit, including after an empty replay."""
        from real_time_sliding_window_spark.operators.drift import (
            drift_from_index,
            run_token_count_index,
            token_drift,
        )
        from real_time_sliding_window_spark.sources.streams import FileFeed
        from real_time_sliding_window_spark.streaming.sink import (
            ExactlyOnceParquetSink,
        )

        schema = "doc_id long, source string, text string"
        rows = [
            (0, "a", "x x x y"),
            (1, "a", "x y z"),
            (2, "b", "x y y"),
            (3, "b", "q y"),
            (4, "c", "ignored words"),
        ]
        feed = FileFeed(spark, str(tmp_path / "tci_in"))
        sink = ExactlyOnceParquetSink(str(tmp_path / "tci_idx"))
        ckpt = str(tmp_path / "tci_ckpt")
        for lo, hi in ((0, 2), (2, 5)):
            feed.push(spark.createDataFrame(rows[lo:hi], schema))
            run_token_count_index(feed.stream(schema), sink, ckpt, "source")
        run_token_count_index(feed.stream(schema), sink, ckpt, "source")

        df = spark.createDataFrame(rows, schema)
        key = lambda rs: sorted(map(tuple, (r for r in rs)))
        from_idx = drift_from_index(
            sink.read_committed(spark), "a", "b"
        ).collect()
        from_batch = token_drift(df, "source", "a", "b").collect()
        assert key(from_idx) == key(from_batch)
        # top-k prefix agrees too
        ti = drift_from_index(sink.read_committed(spark), "a", "b", top_k=2)
        tb = token_drift(df, "source", "a", "b", top_k=2)
        assert key(ti.collect()) == key(tb.collect())


class TestRemoveBoilerplate:
    def _run(self, spark, rows, **kw):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        return (
            text.remove_boilerplate(df, **kw)
            .toPandas()
            .set_index("doc_id")
            .sort_index()
        )

    def test_hot_segment_removed_everywhere(self, spark):
        # "a b c" appears in 3 docs (df=3 >= min_df=3) -> removed from all,
        # including its second occurrence inside doc 0; tails stay intact
        out = self._run(
            spark,
            [
                (0, "a b c x y z a b c"),
                (1, "a b c p q r"),
                (2, "m n o a b c"),  # "a b c" is doc 2's SECOND segment
                (3, "u v w"),
            ],
            width=3,
            min_df=3,
        )
        assert out.loc[0, "clean_text"] == "x y z"
        assert (out.loc[0, "n_segs"], out.loc[0, "n_kept"]) == (3, 1)
        assert out.loc[1, "clean_text"] == "p q r"
        assert out.loc[2, "clean_text"] == "m n o"
        assert out.loc[3, "clean_text"] == "u v w"
        assert out.loc[3, "n_kept"] == 1

    def test_within_doc_repetition_is_not_boilerplate(self, spark):
        # df counts DISTINCT docs: 3 copies inside one doc stay (df=1)
        out = self._run(
            spark,
            [(0, "a b c a b c a b c"), (1, "x y z")],
            width=3,
            min_df=2,
        )
        assert out.loc[0, "clean_text"] == "a b c a b c a b c"
        assert out.loc[1, "clean_text"] == "x y z"

    def test_fully_removed_doc_keeps_its_row(self, spark):
        out = self._run(
            spark,
            [(0, "a b c"), (1, "a b c"), (2, "a b c"), (3, "k l m")],
            width=3,
            min_df=2,
        )
        for d in (0, 1, 2):
            assert out.loc[d, "clean_text"] == ""
            assert (out.loc[d, "n_segs"], out.loc[d, "n_kept"]) == (1, 0)
        assert out.loc[3, "clean_text"] == "k l m"

    def test_short_tail_segment_counts(self, spark):
        # 7 words at width 3 -> segments "a b c", "d e f", "g" (tail of 1);
        # hot tail "g" (df=2) removed, order of survivors preserved
        out = self._run(
            spark,
            [(0, "a b c d e f g"), (1, "g")],
            width=3,
            min_df=2,
        )
        assert out.loc[0, "n_segs"] == 3
        assert out.loc[0, "clean_text"] == "a b c d e f"
        assert out.loc[1, "clean_text"] == ""

    def test_shuffled_anti_join_path_matches(self, spark):
        rows = [(i, f"a b c w{i} x{i} y{i}") for i in range(6)]
        fast = self._run(spark, rows, width=3, min_df=4)
        slow = self._run(spark, rows, width=3, min_df=4, broadcast_hot=False)
        assert fast.equals(slow)


class TestKnnGraph:
    def _emb(self, spark):
        # three tight clusters of 3 + one isolated vector whose sketch
        # neighborhood is empty of candidates at most probe distances
        rng = np.random.default_rng(11)
        rows = []
        vid = 0
        for c in range(3):
            center = rng.normal(0, 1, 8)
            center /= np.linalg.norm(center)
            for _ in range(3):
                noise = rng.normal(0, 0.05, 8)
                rows.append({"vec_id": vid, "embedding": (center + noise).tolist()})
                vid += 1
        return spark.createDataFrame(pd.DataFrame(rows))

    def test_cluster_members_are_neighbors(self, spark):
        out = similarity.knn_graph(self._emb(spark), k=2).toPandas()
        # every vector's top candidates come from its own tight cluster
        for _, r in out.iterrows():
            assert r["src"] // 3 == r["dst"] // 3
            assert r["cosine"] > 0.9
        # every vector finds at least one cluster-mate; ranks are a dense
        # prefix 1..n (a mate >1 sketch bit away may be missed — LSH recall,
        # not a bug)
        ranks = out.groupby("src")["rank"].apply(list).map(sorted)
        assert set(out["src"]) == set(range(9))
        assert all(r == list(range(1, len(r) + 1)) for r in ranks)

    def test_mutual_filter_is_symmetric(self, spark):
        full = similarity.knn_graph(self._emb(spark), k=2).toPandas()
        mut = similarity.knn_graph(self._emb(spark), k=2, mutual=True).toPandas()
        edges = set(zip(full["src"], full["dst"]))
        expect = {(s, d) for (s, d) in edges if (d, s) in edges}
        assert set(zip(mut["src"], mut["dst"])) == expect
        # mutual graph is symmetric as an edge set
        got = set(zip(mut["src"], mut["dst"]))
        assert {(d, s) for (s, d) in got} == got

    def test_max_bucket_caps_targets_not_sources(self, spark):
        emb = self._emb(spark)
        capped = similarity.knn_graph(emb, k=2, max_bucket=1).toPandas()
        # with every multi-member bucket capped, edges may vanish but no
        # src appears that wasn't in the uncapped graph, and capping never
        # errors (the id universe is only the probe side here)
        full = similarity.knn_graph(emb, k=2).toPandas()
        assert set(capped["src"]) <= set(full["src"])
        assert len(capped) <= len(full)


class TestBloom:
    BITS, K = 1 << 14, 4

    def _sets(self, spark):
        members = spark.range(500).select(
            F.concat(F.lit("in"), "id").alias("key")
        )
        outsiders = spark.range(5000).select(
            F.concat(F.lit("out"), "id").alias("key")
        )
        return members, outsiders

    def test_no_false_negatives(self, spark):
        from real_time_sliding_window_spark.operators import bloom as B

        members, _ = self._sets(spark)
        f = B.bloom_build(members, "key", self.BITS, self.K)
        kept = B.bloom_prefilter(members, "key", f, self.BITS, self.K)
        assert kept.count() == 500  # every true member must survive

    def test_false_positive_rate_sane(self, spark):
        from real_time_sliding_window_spark.operators import bloom as B

        members, outsiders = self._sets(spark)
        f = B.bloom_build(members, "key", self.BITS, self.K)
        fps = B.bloom_prefilter(outsiders, "key", f, self.BITS, self.K).count()
        # 500 keys * 4 hashes in 16384 bits -> theoretical fp ~ (1-e^-kn/m)^k
        # ~ 1.6e-4; allow two orders of slack against hash clustering
        assert fps < 5000 * 0.05

    def test_decontaminate_bloom_equals_exact(self, spark):
        from real_time_sliding_window_spark.operators.sampling import (
            decontaminate,
            split_assignment,
        )

        docs = split_assignment(
            spark.read.parquet(f"{SF_DIR}/documents.parquet"), "doc_id"
        )
        exact = decontaminate(docs, shingle_k=3, max_df=128)
        bloomed = decontaminate(
            docs, shingle_k=3, max_df=128, bloom_bits=1 << 15, bloom_hashes=4
        )
        key = lambda df: sorted(map(tuple, df.collect()))
        assert key(exact) == key(bloomed)


class TestSegmentDfIndex:
    def test_incremental_hotset_equals_batch_removal(self, spark, tmp_path):
        """Per-batch distinct df increments are additive under append-only
        unique ids, so the index-derived hot set — and the removal pass fed
        with it — equals a full batch recompute exactly. Replay adds
        nothing (exactly-once marker)."""
        from real_time_sliding_window_spark.operators.text import (
            hot_segments_from_index,
            remove_boilerplate,
            run_segment_df_index,
        )
        from real_time_sliding_window_spark.sources.streams import FileFeed
        from real_time_sliding_window_spark.streaming.sink import (
            ExactlyOnceParquetSink,
        )

        schema = "doc_id long, text string"
        rows = [
            (0, "a b c x y z a b c"),
            (1, "a b c p q r"),
            (2, "m n o a b c"),
            (3, "u v w"),
            (4, "a b c u v w"),
        ]
        feed = FileFeed(spark, str(tmp_path / "sdi_in"))
        sink = ExactlyOnceParquetSink(str(tmp_path / "sdi_idx"))
        ckpt = str(tmp_path / "sdi_ckpt")
        for lo, hi in ((0, 2), (2, 5)):
            feed.push(spark.createDataFrame(rows[lo:hi], schema))
            run_segment_df_index(feed.stream(schema), sink, ckpt, width=3)
        run_segment_df_index(feed.stream(schema), sink, ckpt, width=3)  # replay

        docs = spark.createDataFrame(rows, schema)
        hot = hot_segments_from_index(sink.read_committed(spark), min_df=3)
        # "a b c" spans batches (docs 0,1 then 2,4): only the summed index
        # sees df=4; "u v w" reaches df=2 < 3 and must stay cold
        assert {r["seg"] for r in hot.collect()} == {"a b c"}
        key = lambda df: sorted(map(tuple, df.collect()))
        incremental = remove_boilerplate(docs, width=3, hot_segments=hot)
        batch = remove_boilerplate(docs, width=3, min_df=3)
        assert key(incremental) == key(batch)


class TestProfile:
    def test_exact_profile_with_nulls(self, spark):
        from real_time_sliding_window_spark.operators.profile import (
            profile_columns,
        )

        df = spark.createDataFrame(
            [(1, "a"), (2, None), (2, "b"), (None, "b")],
            "k long, v string",
        )
        out = {
            r["column"]: r
            for r in profile_columns(df, ["k", "v"]).collect()
        }
        k, v = out["k"], out["v"]
        assert (k["n_rows"], k["n_null"], k["n_distinct"]) == (4, 1, 2)
        assert (k["min_value"], k["max_value"]) == ("1", "2")
        assert (v["n_rows"], v["n_null"], v["n_distinct"]) == (4, 1, 2)
        assert (v["min_value"], v["max_value"]) == ("a", "b")

    def test_approx_path_no_expand_and_close(self, spark):
        from real_time_sliding_window_spark.operators.profile import (
            profile_columns,
        )

        df = spark.range(10_000).selectExpr(
            "id AS k", "cast(id % 97 AS string) AS v"
        )
        approx = profile_columns(df, ["k", "v"], exact_distinct=False)
        plan = approx._jdf.queryExecution().executedPlan().toString()
        assert "Expand" not in plan  # sketches partial-merge, no replication
        exact_plan = (
            profile_columns(df, ["k", "v"])
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Expand" in exact_plan  # the exact lowering replicates rows
        got = {r["column"]: r["n_distinct"] for r in approx.collect()}
        assert abs(got["k"] - 10_000) / 10_000 < 0.05
        assert abs(got["v"] - 97) / 97 < 0.05

    def test_empty_cols_raise(self, spark):
        import pytest as _pytest

        from real_time_sliding_window_spark.operators.profile import (
            profile_columns,
        )

        with _pytest.raises(ValueError, match="at least one column"):
            profile_columns(spark.range(1), [])

    def test_hostile_column_names(self, spark):
        """Advice r5: names containing quotes/spaces/dots/backticks reach
        generated SQL — positional aliases + escaped literals keep them
        working, with the raw name reproduced in the output column."""
        from pyspark.sql import functions as F

        from real_time_sliding_window_spark.operators.profile import (
            profile_columns,
        )

        names = ["a b", "a'b", "a.b", "a`b", "a\\b"]
        df = spark.range(60).select(
            F.col("id").alias(names[0]),
            (F.col("id") % 3).alias(names[1]),
            (F.col("id") % 5).alias(names[2]),
            (F.col("id") % 2).alias(names[3]),
            (F.col("id") % 4).alias(names[4]),
        )
        got = {
            r["column"]: (r["n_rows"], r["n_null"], r["n_distinct"])
            for r in profile_columns(df, names).collect()
        }
        assert set(got) == set(names)
        assert got["a b"] == (60, 0, 60)
        assert got["a'b"] == (60, 0, 3)
        assert got["a.b"] == (60, 0, 5)
        assert got["a`b"] == (60, 0, 2)
        assert got["a\\b"] == (60, 0, 4)


class TestCountMin:
    """operators/cm_sketch.py — over-estimate bound, exact additivity,
    weighted counts, zero-for-absent, and the CM error bound."""

    DEPTH, WIDTH = 4, 256

    @pytest.fixture(scope="class")
    def zipf_keys(self, spark):
        # zipf-ish: key k appears ~ 1000/(k+1) times -> heavy head,
        # long tail; 200 distinct keys, N ~ 5878
        rows = []
        for k in range(200):
            rows.extend([f"key{k}"] * (1000 // (k + 1)))
        return spark.createDataFrame(
            pd.DataFrame({"item": rows})
        ).cache()

    def _true_counts(self, df):
        return {
            r.item: r.cnt
            for r in df.groupBy("item").agg(
                F.count(F.lit(1)).alias("cnt")
            ).collect()
        }

    def test_overestimate_and_error_bound(self, spark, zipf_keys):
        from real_time_sliding_window_spark.operators.cm_sketch import (
            cm_estimate,
            cm_sketch,
        )

        sk = cm_sketch(
            zipf_keys, "item", depth=self.DEPTH, width=self.WIDTH
        ).cache()
        probes = zipf_keys.select("item").distinct()
        est = {
            r.item: r.est_count
            for r in cm_estimate(
                sk, probes, "item", depth=self.DEPTH, width=self.WIDTH
            ).collect()
        }
        true = self._true_counts(zipf_keys)
        n_total = sum(true.values())
        # est >= true always; est <= true + e*N/width for the overwhelming
        # majority (the bound is probabilistic per key at 1 - e^-depth;
        # with depth=4 a single miss in 200 keys is already unlikely)
        bound = (2.718281828 * n_total) / self.WIDTH
        misses = 0
        for k, t in true.items():
            assert est[k] >= t, f"{k}: est {est[k]} < true {t}"
            if est[k] > t + bound:
                misses += 1
        assert misses <= 2, f"{misses}/200 keys above the e*N/width bound"

    def test_absent_key_estimates_zero_or_collision(self, spark, zipf_keys):
        from real_time_sliding_window_spark.operators.cm_sketch import (
            cm_estimate,
            cm_sketch,
        )

        sk = cm_sketch(zipf_keys, "item", depth=self.DEPTH, width=self.WIDTH)
        probes = spark.createDataFrame(
            pd.DataFrame({"item": [f"never{k}" for k in range(50)]})
        )
        est = cm_estimate(
            sk, probes, "item", depth=self.DEPTH, width=self.WIDTH
        )
        vals = [r.est_count for r in est.collect()]
        assert len(vals) == 50
        # absent keys may collide into occupied buckets but min over
        # depth rows keeps most at/near zero; all are >= 0
        assert all(v >= 0 for v in vals)
        assert sorted(vals)[len(vals) // 2] <= 60  # median small vs N~5878

    def test_merge_exactly_additive(self, spark, zipf_keys):
        from real_time_sliding_window_spark.operators.cm_sketch import (
            cm_merge,
            cm_sketch,
        )

        with_id = zipf_keys.withColumn(
            "rid", F.monotonically_increasing_id()
        ).cache()
        a = with_id.filter(F.col("rid") % 2 == 0).select("item")
        b = with_id.filter(F.col("rid") % 2 == 1).select("item")
        merged = cm_merge(
            cm_sketch(a, "item", depth=self.DEPTH, width=self.WIDTH),
            cm_sketch(b, "item", depth=self.DEPTH, width=self.WIDTH),
        )
        whole = cm_sketch(
            zipf_keys, "item", depth=self.DEPTH, width=self.WIDTH
        )
        assert (
            merged.exceptAll(whole).count() == 0
            and whole.exceptAll(merged).count() == 0
        )

    def test_weighted_sketch(self, spark):
        from real_time_sliding_window_spark.operators.cm_sketch import (
            cm_estimate,
            cm_sketch,
        )

        df = spark.createDataFrame(
            pd.DataFrame(
                {"item": ["a", "a", "b"], "w": [10, 5, 7]}
            )
        )
        sk = cm_sketch(df, "item", depth=4, width=64, weight_col="w")
        est = {
            r.item: r.est_count
            for r in cm_estimate(
                sk, df.select("item").distinct(), "item", depth=4, width=64
            ).collect()
        }
        assert est["a"] >= 15 and est["b"] >= 7
        # width 64 >> 2 keys: no collision expected
        assert est["a"] == 15 and est["b"] == 7

    def test_validates_shape(self, spark, zipf_keys):
        from real_time_sliding_window_spark.operators.cm_sketch import (
            cm_merge,
            cm_sketch,
        )

        with pytest.raises(ValueError):
            cm_sketch(zipf_keys, "item", depth=0, width=16)
        with pytest.raises(ValueError):
            cm_merge()


class TestSequenceFunnel:
    """operators/funnel.py — N-stage greedy chain vs a pandas brute
    force, window cut, repeated stage types."""

    W = 40_000_000  # 40 s in micros

    @staticmethod
    def _brute(ev: pd.DataFrame, stages, window_us):
        out = {}
        for k, g in ev.groupby("key"):
            g = g.sort_values(["us", "seq"], kind="stable")
            matched = []
            for _, row in g.iterrows():
                if len(matched) >= len(stages):
                    break
                if row.event_type != stages[len(matched)]:
                    continue
                if not matched:
                    matched.append(int(row.us))
                elif (
                    row.us > matched[-1]
                    and row.us <= matched[0] + window_us
                ):
                    matched.append(int(row.us))
            if matched:
                out[k] = matched
        return out

    @pytest.fixture(scope="class")
    def events(self):
        rng = np.random.default_rng(31)
        n = 400
        return pd.DataFrame(
            {
                "key": [f"k{rng.integers(12)}" for _ in range(n)],
                "seq": range(n),
                "event_type": rng.choice(
                    ["click", "view", "purchase"], size=n,
                    p=[0.5, 0.35, 0.15],
                ),
                # second-granularity WITH ties
                "us": rng.integers(0, 100, n) * 1_000_000,
            }
        )

    def test_matches_brute_force(self, spark, events):
        from real_time_sliding_window_spark.operators.funnel import (
            sequence_funnel,
        )

        stages = ["click", "view", "purchase"]
        df = spark.createDataFrame(
            events, schema="key string, seq long, event_type string, us long"
        )
        got = sequence_funnel(
            df, "key", "event_type", stages, self.W
        ).toPandas().set_index("key")
        exp = self._brute(events, stages, self.W)
        assert set(got.index) == set(exp)
        for k, chain in exp.items():
            for i in range(3):
                cell = got.loc[k, f"stage_{i + 1}_us"]
                if i < len(chain):
                    assert cell == chain[i], (k, i)
                else:
                    assert pd.isna(cell), (k, i)
            assert got.loc[k, "stages_reached"] == len(chain)

    def test_repeated_stage_types(self, spark):
        from real_time_sliding_window_spark.operators.funnel import (
            sequence_funnel,
        )

        # click -> click -> click: three strictly increasing clicks
        ev = pd.DataFrame(
            {
                "key": ["a"] * 4 + ["b"] * 2,
                "seq": range(6),
                "event_type": ["click"] * 6,
                "us": [10, 10, 20, 30, 5, 5],
            }
        )
        got = (
            sequence_funnel(
                spark.createDataFrame(
                    ev,
                    schema="key string, seq long, event_type string, us long",
                ),
                "key",
                "event_type",
                ["click", "click", "click"],
                10**9,
            )
            .toPandas()
            .set_index("key")
        )
        # a: 10 -> 20 -> 30 (the tie at 10 can't chain: strict >)
        assert list(got.loc["a", ["stage_1_us", "stage_2_us",
                                 "stage_3_us"]]) == [10, 20, 30]
        # b: two clicks at the same us -> only stage 1
        assert got.loc["b", "stages_reached"] == 1
        assert pd.isna(got.loc["b", "stage_2_us"])

    def test_window_cut_is_suffix(self, spark):
        from real_time_sliding_window_spark.operators.funnel import (
            sequence_funnel,
        )

        # chain exists but stage 3 lands past the window: nulled, and
        # stages_reached counts the surviving prefix
        ev = pd.DataFrame(
            {
                "key": ["a"] * 3,
                "seq": range(3),
                "event_type": ["click", "view", "purchase"],
                "us": [0, 5_000_000, 60_000_000],
            }
        )
        got = (
            sequence_funnel(
                spark.createDataFrame(
                    ev,
                    schema="key string, seq long, event_type string, us long",
                ),
                "key",
                "event_type",
                ["click", "view", "purchase"],
                self.W,
            )
            .toPandas()
            .iloc[0]
        )
        assert got.stage_1_us == 0 and got.stage_2_us == 5_000_000
        assert pd.isna(got.stage_3_us) and got.stages_reached == 2

    def test_single_sort_exchange_plan(self, spark, events):
        from real_time_sliding_window_spark.operators.funnel import (
            sequence_funnel,
        )

        df = spark.createDataFrame(
            events, schema="key string, seq long, event_type string, us long"
        )
        out = sequence_funnel(
            df, "key", "event_type", ["click", "view", "purchase"], self.W
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        # the 3 chained running-mins + final agg share ONE sort and ONE
        # exchange on key (the agg rides the window's partitioning)
        assert plan.count("Sort ") + plan.count("Sort\n") <= 2  # window sort (+AQE variance)
        import re

        assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


class TestCmInnerProduct:
    """cm_sketch.cm_inner_product — join-size estimation: over-estimate,
    CM error bound, and the zero-overlap floor."""

    def test_join_size_bounds(self, spark):
        from real_time_sliding_window_spark.operators.cm_sketch import (
            cm_inner_product,
            cm_sketch,
        )

        rng = np.random.default_rng(53)
        a = pd.DataFrame(
            {"k": [f"key{rng.integers(80)}" for _ in range(3000)]}
        )
        b = pd.DataFrame(
            {"k": [f"key{rng.integers(80)}" for _ in range(1000)]}
        )
        dfa = spark.createDataFrame(a)
        dfb = spark.createDataFrame(b)
        true_size = dfa.join(dfb, "k").count()
        depth, width = 4, 256
        est = cm_inner_product(
            cm_sketch(dfa, "k", depth=depth, width=width),
            cm_sketch(dfb, "k", depth=depth, width=width),
            depth=depth,
        ).collect()[0].est_join_size
        assert est >= true_size
        bound = 2.718281828 * len(a) * len(b) / width
        assert est <= true_size + bound

    def test_disjoint_keys_near_zero(self, spark):
        from real_time_sliding_window_spark.operators.cm_sketch import (
            cm_inner_product,
            cm_sketch,
        )

        dfa = spark.createDataFrame(
            pd.DataFrame({"k": [f"a{i}" for i in range(40)]})
        )
        dfb = spark.createDataFrame(
            pd.DataFrame({"k": [f"b{i}" for i in range(40)]})
        )
        depth, width = 4, 1024
        est = cm_inner_product(
            cm_sketch(dfa, "k", depth=depth, width=width),
            cm_sketch(dfb, "k", depth=depth, width=width),
            depth=depth,
        ).collect()[0].est_join_size
        # 40x40 keys in 1024 buckets: min over 4 rows is ~always 0
        assert 0 <= est <= 4

    def test_depth_mismatch_raises(self, spark):
        """Advice r5: a caller depth above the build depth used to inject
        all-zero spine rows (silent est=0); below, it silently ignored
        rows. Both now fail loudly; the matched depth is unchanged."""
        import pytest as _pytest

        from real_time_sliding_window_spark.operators.cm_sketch import (
            cm_inner_product,
            cm_sketch,
        )

        dfa = spark.createDataFrame(pd.DataFrame({"k": ["a", "b", "c"] * 5}))
        dfb = spark.createDataFrame(pd.DataFrame({"k": ["b", "c", "d"] * 7}))
        sa = cm_sketch(dfa, "k", depth=4, width=64)
        sb = cm_sketch(dfb, "k", depth=4, width=64)
        ok = cm_inner_product(sa, sb, depth=4).collect()[0].est_join_size
        assert ok >= dfa.join(dfb, "k").count()
        for bad in (6, 2):
            with _pytest.raises(Exception, match="depth mismatch"):
                cm_inner_product(sa, sb, depth=bad).collect()
        # empty sketches stay valid (no rows to contradict any depth)
        empty = cm_sketch(dfa.filter("k = 'zz'"), "k", depth=4, width=64)
        assert (
            cm_inner_product(empty, sb, depth=4).collect()[0].est_join_size
            == 0
        )


class TestPageRank:
    """operators/graph.py — exact integer fixed-point parity vs a
    reference replication, structure sanity, validation."""

    @staticmethod
    def _ref(edges, n_iter=3, damping=85, scale=10**9):
        from collections import Counter, defaultdict

        nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
        n = len(nodes)
        deg = Counter(s for s, _ in edges)
        rank = {v: scale // n for v in nodes}
        base = (100 - damping) * scale // (100 * n)
        for _ in range(n_iter):
            mass = defaultdict(int)
            for s, d in edges:
                mass[d] += rank[s] // deg[s]
            rank = {
                v: base + (damping * mass[v]) // 100 for v in nodes
            }
        return rank

    def test_exact_parity_random_graph(self, spark):
        from real_time_sliding_window_spark.operators.graph import pagerank

        rng = np.random.default_rng(61)
        edges = list(
            {
                (f"n{rng.integers(30)}", f"n{rng.integers(30)}")
                for _ in range(150)
            }
        )
        edges = [(s, d) for s, d in edges if s != d]
        df = spark.createDataFrame(
            pd.DataFrame(edges, columns=["src", "dst"])
        )
        got = {
            r.node: r.rank_scaled
            for r in pagerank(df, n_iter=3).collect()
        }
        assert got == self._ref(edges, n_iter=3)

    def test_star_graph_center_dominates(self, spark):
        from real_time_sliding_window_spark.operators.graph import pagerank

        edges = [(f"leaf{i}", "center") for i in range(20)]
        df = spark.createDataFrame(
            pd.DataFrame(edges, columns=["src", "dst"])
        )
        got = {
            r.node: r.rank_scaled
            for r in pagerank(df, n_iter=3).collect()
        }
        leafs = [v for k, v in got.items() if k != "center"]
        assert got["center"] > 10 * max(leafs)
        # mass never exceeds scale (floor leakage only shrinks it)
        assert sum(got.values()) <= 10**9

    def test_validation(self, spark):
        from real_time_sliding_window_spark.operators.graph import pagerank

        df = spark.createDataFrame(
            pd.DataFrame([("a", "b")], columns=["src", "dst"])
        )
        with pytest.raises(ValueError):
            pagerank(df, n_iter=0)
        with pytest.raises(ValueError):
            pagerank(df, damping_pct=101)


class TestReviewGuards:
    """Review fixes: empty-input guards on pagerank and write_zordered."""

    def test_pagerank_empty_graph(self, spark):
        from real_time_sliding_window_spark.operators.graph import pagerank

        empty = spark.createDataFrame([], "src string, dst string")
        out = pagerank(empty, n_iter=2)
        assert out.count() == 0
        assert out.columns == ["node", "rank_scaled"]

    def test_zorder_validation(self, spark, tmp_path):
        from real_time_sliding_window_spark.storage import write_zordered

        df = spark.createDataFrame(pd.DataFrame({"x": [1], "y": [2]}))
        with pytest.raises(ValueError, match="at least one column"):
            write_zordered(df, str(tmp_path / "z1"), [])
        with pytest.raises(ValueError, match="<= 63"):
            write_zordered(
                df, str(tmp_path / "z2"), ["x", "y"] * 4, bits=10
            )
        empty = spark.createDataFrame([], "x long, y long")
        with pytest.raises(ValueError, match="empty input"):
            write_zordered(empty, str(tmp_path / "z3"), ["x", "y"])


class TestR6Rewrites:
    """r6 optimization round: the rewritten internals must be value-
    identical to their original expression/plan forms (the optimization
    contract — plans may change, results may not)."""

    def test_cm_sketch_pre_agg_identical(self, spark):
        """pre_agg=True collapses to distinct keys before hashing — cells
        must be bit-identical to the default path, weighted or not."""
        from real_time_sliding_window_spark.operators import cm_sketch as CM

        pdf = pd.DataFrame(
            {
                "k": ["a"] * 50 + ["b"] * 20 + ["c"] * 5 + ["d"],
                "w": list(range(76)),
            }
        )
        d = spark.createDataFrame(pdf)

        def cells(df):
            return sorted(
                (int(r.r), int(r.c), int(r.cnt)) for r in df.collect()
            )

        for wcol in (None, "w"):
            a = CM.cm_sketch(d, "k", depth=3, width=64, weight_col=wcol)
            b = CM.cm_sketch(
                d, "k", depth=3, width=64, weight_col=wcol, pre_agg=True
            )
            assert cells(a) == cells(b), wcol

    def test_cosine_topk_expression_twin(self, spark):
        """numpy-scored cosine_topk equals the JVM-expression build
        (crossJoin + interpreted int_dot/int_norm) bit for bit."""
        import numpy as np

        from real_time_sliding_window_spark.functions import columns as C
        from pyspark.sql.window import Window

        rng = np.random.default_rng(17)
        pdf = pd.DataFrame(
            {
                "vec_id": range(40),
                "embedding": [
                    rng.normal(size=16).astype("float32").tolist()
                    for _ in range(40)
                ],
            }
        )
        emb = spark.createDataFrame(pdf)
        got = (
            similarity.cosine_topk(emb, query_ids=[1, 5, 9], k=4)
            .toPandas()
            .sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        )
        q = emb.select(
            F.col("vec_id"), C.quantize("embedding").alias("qv")
        )
        queries = q.filter(F.col("vec_id").isin([1, 5, 9])).select(
            F.col("vec_id").alias("query_id"), F.col("qv").alias("q_qv")
        )
        pairs = F.broadcast(queries).crossJoin(q).filter(
            F.col("query_id") != F.col("vec_id")
        )
        cos = C.int_dot("q_qv", "qv").cast("double") / (
            C.int_norm("q_qv") * C.int_norm("qv")
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id").asc()
        )
        ref = (
            pairs.select(
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                cos.alias("cosine"),
            )
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 4)
            .toPandas()
            .sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        )
        assert got[["query_id", "neighbor_id", "rank"]].equals(
            ref[["query_id", "neighbor_id", "rank"]]
        )
        assert (got["cosine"].to_numpy() == ref["cosine"].to_numpy()).all()
