"""Tests for the training-data pipeline operators (chunking, drift,
profiling), the batch sequence funnel and skew handling (F8)."""

from __future__ import annotations

from datetime import timedelta

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from real_time_sliding_window_spark import synth
from real_time_sliding_window_spark.operators.skew import salted_windowed_agg
from real_time_sliding_window_spark.operators.windows import windowed_agg


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


class TestReviewGuards:
    """Review fixes: empty-input guards on write_zordered."""

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
