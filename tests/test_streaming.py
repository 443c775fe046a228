"""Structured Streaming tests: watermark semantics, stateful ring buffer,
stream-stream join, exactly-once sink (FIXTURES.md F2/F3/F5/F6/F7).

Batch control: each FileFeed.push() is one parquet drop;
maxFilesPerTrigger=1 + availableNow makes every drop its own micro-batch,
so the watermark advances between drops — the deterministic-scheduler
analogue of the reference's TestRunOnlyNTimesTaskScheduler (SURVEY.md §5).
"""

from __future__ import annotations

from datetime import timedelta

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from real_time_sliding_window_spark import synth
from real_time_sliding_window_spark.config import WindowSpec
from real_time_sliding_window_spark.operators.stateful import ring_buffer_stream
from real_time_sliding_window_spark.sources.streams import FileFeed
from real_time_sliding_window_spark.streaming.pipeline import (
    deduped_stream,
    user_tool_stream_join,
    windowed_stream,
)
from real_time_sliding_window_spark.streaming.sink import (
    ExactlyOnceParquetSink,
    run_to_sink,
)

T0 = synth.T0
SEC = timedelta(seconds=1)


def rows(*specs) -> pd.DataFrame:
    """specs: (conv_id, turn_idx, role, text, tool, sec_offset)"""
    data = [
        {
            "conv_id": c,
            "turn_idx": i,
            "role": r,
            "text": t,
            "tool": tl,
            "ts": T0 + off * SEC if not isinstance(off, timedelta) else T0 + off,
        }
        for (c, i, r, t, tl, off) in specs
    ]
    pdf = pd.DataFrame(data)
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    return pdf


def drive(spark, tmp_path, result_fn, pushes, name, schema=None):
    """Build feed, push files one at a time, run availableNow per push,
    return (sink, per-run committed row snapshots). ``schema``: feed rows
    of a non-transcript shape (e.g. events)."""
    feed = FileFeed(spark, str(tmp_path / f"{name}_in"))
    sink = ExactlyOnceParquetSink(str(tmp_path / f"{name}_out"))
    ckpt = str(tmp_path / f"{name}_ckpt")
    snapshots = []
    for push in pushes:
        feed.push(spark.createDataFrame(push, schema=schema) if schema else push)
        result = result_fn(feed.stream(schema) if schema else feed.stream())
        run_to_sink(result, sink, ckpt, query_name=name)
        try:
            snapshots.append(sink.read_committed(spark).toPandas())
        except FileNotFoundError:
            snapshots.append(pd.DataFrame())
    return sink, snapshots


# ---------------------------------------------------------------------------
# Streaming tumbling window + late-data drop (F6)
# ---------------------------------------------------------------------------

class TestStreamingWindow:
    def test_emit_on_watermark_and_late_drop(self, spark, tmp_path):
        spec = WindowSpec(name="wlate", length="2 seconds", watermark_delay="2 seconds")

        def pipe(stream):
            return windowed_stream(
                stream, spec, keys=["conv_id"],
                content_payload=["text"], order_cols=["turn_idx"],
            ).withColumn("content_str",
                         F.array_join(F.transform("content", lambda x: x["text"]), ","),
                         ).drop("content")

        early = rows(
            ("c1", 0, "user", "w0-a", None, 0),
            ("c1", 1, "user", "w0-b", None, 1),
            ("c1", 2, "user", "w1-a", None, 2),
        )
        # advances watermark to 10-2=8s: window [0,2) and [2,4) close
        advance = rows(("c2", 0, "user", "adv", None, 10))
        # late beyond watermark (ts=1s << wm=8s): silently dropped
        late = rows(("c1", 3, "user", "late", None, 1))
        # advance further so any (wrongly accepted) late window would emit
        advance2 = rows(("c2", 1, "user", "adv2", None, 20))

        sink, snaps = drive(spark, tmp_path, pipe, [early, advance, late, advance2], "wlate")
        final = snaps[-1]
        c1 = final[final.conv_id == "c1"].sort_values("window_start")
        assert list(c1["content_str"]) == ["w0-a,w0-b", "w1-a"]
        assert list(c1["n_rows"]) == [2, 1]
        # the late row never surfaced anywhere
        assert not final["content_str"].str.contains("late").any()

    def test_within_delay_included(self, spark, tmp_path):
        spec = WindowSpec(name="wok", length="2 seconds", watermark_delay="10 seconds")

        def pipe(stream):
            return windowed_stream(stream, spec, keys=["conv_id"])

        early = rows(("c1", 0, "user", "a", None, 0))
        newer = rows(("c1", 1, "user", "b", None, 5))
        # ts=1s is late vs max_ts=5s but within the 10s delay => included
        late_ok = rows(("c1", 2, "user", "c", None, 1))
        closer = rows(("c2", 0, "user", "adv", None, 30))
        _, snaps = drive(spark, tmp_path, pipe, [early, newer, late_ok, closer], "wok")
        final = snaps[-1]
        w0 = final[(final.conv_id == "c1")
                   & (final.window_start == T0)]
        assert len(w0) == 1 and w0.iloc[0]["n_rows"] == 2  # both ts=0s and ts=1s


    def test_dropduplicates_within_watermark(self, spark, tmp_path):
        """Redelivered (conv_id, turn_idx) within the watermark horizon is
        dropped; the first delivery survives."""

        def pipe(stream):
            return deduped_stream(
                stream, watermark_delay=timedelta(seconds=30)
            )

        first = rows(("c1", 0, "user", "orig", None, 0),
                     ("c1", 1, "user", "second", None, 1))
        redeliver = rows(("c1", 0, "user", "orig", None, 0))   # same identity
        fresh = rows(("c1", 2, "user", "third", None, 2))
        _, snaps = drive(spark, tmp_path, pipe,
                         [first, redeliver, fresh], "ddwm")
        final = snaps[-1]
        assert sorted(final.turn_idx) == [0, 1, 2]
        assert len(final) == 3  # the redelivery added nothing

    def test_streaming_session_window(self, spark, tmp_path):
        """Session windows close when the watermark passes last_ts + gap."""
        spec = WindowSpec(
            name="sess-s", kind="session", gap="2 seconds",
            watermark_delay="1 second",
        )

        def pipe(stream):
            return windowed_stream(stream, spec, keys=["conv_id"])

        s1 = rows(("c1", 0, "user", "a", None, 0), ("c1", 1, "user", "b", None, 1))
        adv1 = rows(("c2", 0, "user", "adv", None, 10))   # wm -> 9: session 1 closes
        s2 = rows(("c1", 2, "user", "c", None, 10))
        adv2 = rows(("c2", 1, "user", "adv", None, 20))   # wm -> 19: session 2 closes
        _, snaps = drive(spark, tmp_path, pipe, [s1, adv1, s2, adv2], "sess_s")
        c1 = snaps[-1][snaps[-1].conv_id == "c1"].sort_values("session_start")
        assert list(c1["n_rows"]) == [2, 1]
        assert c1.iloc[0]["session_start"] == T0
        assert c1.iloc[0]["session_end"] == T0 + 3 * SEC   # last ts (1s) + 2s gap
        assert c1.iloc[1]["session_start"] == T0 + 10 * SEC
        assert c1.iloc[1]["session_end"] == T0 + 12 * SEC

    def test_streaming_sliding_window(self, spark, tmp_path):
        """Sliding 2s/1s: each row lands in two overlapping windows."""
        spec = WindowSpec(
            name="slide-s", kind="sliding", length="2 seconds",
            slide="1 second", watermark_delay="1 second",
        )

        def pipe(stream):
            return windowed_stream(stream, spec, keys=["conv_id"])

        data = rows(("c1", 0, "user", "a", None, 0), ("c1", 1, "user", "b", None, 1))
        adv = rows(("c2", 0, "user", "adv", None, 30))
        _, snaps = drive(spark, tmp_path, pipe, [data, adv], "slide_s")
        c1 = snaps[-1][snaps[-1].conv_id == "c1"].sort_values("window_start")
        # windows [-1,1): {a}, [0,2): {a,b}, [1,3): {b}
        assert list(c1["n_rows"]) == [1, 2, 1]
        assert list(c1["window_start"]) == [T0 - SEC, T0, T0 + SEC]


# ---------------------------------------------------------------------------
# Stateful ring buffer (F2, F3, F5)
# ---------------------------------------------------------------------------

class TestRingBuffer:
    def test_capacity_eviction_order(self, spark, tmp_path):
        """F3 count variant: maxData=4, 6 turns => EVICT 0 then 1."""

        def pipe(stream):
            return ring_buffer_stream(stream, timedelta(0), max_data=4)

        pushes = [
            rows(*[("c1", i, "user", f"t{i}", None, i) for i in range(4)]),
            rows(("c1", 4, "user", "t4", None, 4)),
            rows(("c1", 5, "user", "t5", None, 5)),
        ]
        sink, snaps = drive(spark, tmp_path, pipe, pushes, "cap")
        after4, after5, after6 = snaps
        assert (after4["action"] == "ADD").all() and len(after4) == 4
        ev5 = after5[after5.action == "EVICT"]
        assert list(ev5.turn_idx) == [0] and list(ev5.reason) == ["capacity"]
        ev6 = snaps[2][snaps[2].action == "EVICT"].sort_values("turn_idx")
        assert list(ev6.turn_idx) == [0, 1]
        # removal order across batches: EVICT(0) committed before EVICT(1)
        lineage = sink.lineage()
        assert len(lineage) >= 3
        # final buffer: ADDs minus EVICTs = turns 2..5
        final = snaps[2]
        added = set(final[final.action == "ADD"].turn_idx)
        evicted = set(final[final.action == "EVICT"].turn_idx)
        assert sorted(added - evicted) == [2, 3, 4, 5]

    def test_age_expiry(self, spark, tmp_path):
        """F2: window length 3s; turns at now-5..now-1; survivors ts>=now-3."""
        now_off = 6  # "now" = T0+6s

        def pipe(stream):
            return ring_buffer_stream(
                stream, timedelta(0), max_duration=timedelta(seconds=3)
            )

        f2 = synth.f2_expiry_rows(T0 + now_off * SEC)
        advance = rows(("cadv", 0, "user", "adv", None, now_off))
        _, snaps = drive(spark, tmp_path, pipe, [f2, advance], "age")
        final = snaps[-1]
        ev = final[(final.action == "EVICT") & (final.conv_id == "c1")]
        assert set(ev.reason) == {"age"}
        assert sorted(ev.text) == ["1", "1", "2", "2"]  # d=5,4 per role
        added = final[(final.action == "ADD") & (final.conv_id == "c1")]
        survivors = added[~added.turn_idx.isin(ev.turn_idx)]
        assert sorted(survivors.text) == ["3", "3", "4", "4", "5", "5"]
        assert (survivors.groupby("role").size() == 3).all()

    def test_age_expiry_nothing_old(self, spark, tmp_path):
        """F2 variant B: nothing older than window => no eviction."""

        def pipe(stream):
            return ring_buffer_stream(
                stream, timedelta(0), max_duration=timedelta(seconds=30)
            )

        f2 = synth.f2_expiry_rows(T0 + 6 * SEC)
        advance = rows(("cadv", 0, "user", "adv", None, 6))
        _, snaps = drive(spark, tmp_path, pipe, [f2, advance], "noev")
        final = snaps[-1]
        assert (final[final.conv_id == "c1"].action == "ADD").all()

    def test_dedup_redelivery(self, spark, tmp_path):
        """F5: redelivered (conv_id, turn_idx) => DUP, not double-ADD."""

        def pipe(stream):
            return ring_buffer_stream(stream, timedelta(0), max_data=10)

        first = rows(("c1", 0, "user", "a", None, 0), ("c1", 1, "user", "b", None, 1))
        redeliver = rows(("c1", 1, "user", "b", None, 1))
        _, snaps = drive(spark, tmp_path, pipe, [first, redeliver], "dup")
        final = snaps[-1]
        assert len(final[final.action == "ADD"]) == 2
        dup = final[final.action == "DUP"]
        assert list(dup.turn_idx) == [1]

    def test_stable_order_same_ts(self, spark, tmp_path):
        """F5: identical ts, different turn_idx => (ts, turn_idx) order."""

        def pipe(stream):
            return ring_buffer_stream(stream, timedelta(0), max_data=2)

        same_ts = rows(
            ("c1", 1, "user", "second", None, 0),
            ("c1", 0, "user", "first", None, 0),
            ("c1", 2, "user", "third", None, 0),
        )
        _, snaps = drive(spark, tmp_path, pipe, [same_ts], "ord")
        final = snaps[-1]
        ev = final[final.action == "EVICT"]
        # capacity 2 over 3 same-ts rows: lowest turn_idx evicted first
        assert list(ev.turn_idx) == [0]

    def test_session_close_matches_session_agg(self, spark, tmp_path):
        """VERDICT r03 #4: session-gap ring mode — closed-session
        boundaries (start = min member ts, end = SESSION_END ts, n =
        SESSION_END buffer_size) must equal operators/windows.session_agg
        on the same corpus, inclusive-merge boundary included (turn at
        exactly last_ts + gap extends the session)."""
        from real_time_sliding_window_spark.operators.windows import (
            session_agg,
        )

        gap = timedelta(seconds=5)

        def pipe(stream):
            return ring_buffer_stream(stream, timedelta(0), session_gap=gap)

        corpus = rows(
            # c1: session A {0,2,4}, B {20,21}, C {40}
            ("c1", 0, "user", "a", None, 0),
            ("c1", 1, "assistant", "b", None, 2),
            ("c1", 2, "user", "c", None, 4),
            ("c1", 3, "user", "d", None, 20),
            ("c1", 4, "assistant", "e", None, 21),
            ("c1", 5, "user", "f", None, 40),
            # c2: inclusive boundary — 9 == 4 + gap merges: one session
            ("c2", 0, "user", "g", None, 4),
            ("c2", 1, "user", "h", None, 9),
        )
        closer = rows(("cadv", 0, "user", "zz", None, 100))
        _, snaps = drive(spark, tmp_path, pipe, [corpus, closer], "sess")
        final = snaps[-1]
        final = final[final.conv_id != "cadv"]

        ends = final[final.action == "SESSION_END"].sort_values("ts")
        evs = final[final.action == "EVICT"]
        assert set(evs.reason) == {"session"}
        # every ADD was eventually session-evicted (wm=100 closes all)
        assert len(evs) == len(final[final.action == "ADD"]) == 8
        assert ends.turn_idx.isnull().all()

        got = [
            (e.conv_id, e.ts, int(e.buffer_size))
            for _, e in ends.iterrows()
        ]
        batch = session_agg(
            spark.createDataFrame(corpus), "ts", gap, keys=["conv_id"]
        ).toPandas()
        want = sorted(
            (r.conv_id, r.session_end, int(r.n_rows))
            for r in batch.itertuples()
        )
        assert sorted(got) == want
        # starts: min EVICT ts per (conv, session_end) == batch first_ts
        start_of = {
            (r.conv_id, r.session_end): r.first_ts for r in batch.itertuples()
        }
        for _, e in ends.iterrows():
            mem = evs[(evs.conv_id == e.conv_id)
                      & (evs.ts >= start_of[(e.conv_id, e.ts)])
                      & (evs.ts <= e.ts - gap)]
            assert int(e.buffer_size) == len(mem)
            assert mem.ts.min() == start_of[(e.conv_id, e.ts)]

    def test_session_closes_via_timer_without_new_turns(
        self, spark, tmp_path
    ):
        """A conversation that goes quiet must close via the re-armed
        EventTimeTimeout when OTHER keys advance the watermark — no new
        turn for the key ever arrives. Also: no premature close while
        wm <= session end (a bridging turn can still arrive)."""
        gap = timedelta(seconds=5)

        def pipe(stream):
            return ring_buffer_stream(stream, timedelta(0), session_gap=gap)

        first = rows(("c1", 0, "user", "a", None, 0),
                     ("c1", 1, "user", "b", None, 4))
        # wm -> 8 < session end (4+5=9): NOT closeable yet
        # (NB: a row at ts == wm is dropped by Spark's late filter —
        # equality counts as late — so the bridge must stay > wm)
        probe = rows(("cx", 0, "user", "p", None, 8))
        # bridging turn at exactly last_ts + gap merges (inclusive) and
        # extends the session to 9 + 5 = 14
        bridge = rows(("c1", 2, "user", "c", None, 9))
        closer = rows(("cy", 0, "user", "q", None, 60))
        _, snaps = drive(
            spark, tmp_path, pipe, [first, probe, bridge, closer], "sesst"
        )
        after_probe = snaps[1]
        assert not (after_probe[after_probe.conv_id == "c1"]
                    .action == "SESSION_END").any()
        final = snaps[-1]
        c1_ends = final[(final.conv_id == "c1")
                        & (final.action == "SESSION_END")]
        # ONE session: bridge merged; end = 9s + 5s = 14s; 3 members
        assert len(c1_ends) == 1
        assert c1_ends.ts.iloc[0] == T0 + 14 * SEC
        assert int(c1_ends.buffer_size.iloc[0]) == 3
        evs = final[(final.conv_id == "c1") & (final.action == "EVICT")]
        assert len(evs) == 3 and set(evs.reason) == {"session"}


# ---------------------------------------------------------------------------
# Stream-stream join (F7)
# ---------------------------------------------------------------------------

class TestShardedRingBuffer:
    """VERDICT r02 #7: hot-conversation mitigation — per-shard buffers.
    Contract: dedup + age eviction EXACT vs the unsharded op; capacity
    shard-local with total <= n_shards*ceil(max_data/n_shards)."""

    @staticmethod
    def _pipe(n_shards, **kw):
        from real_time_sliding_window_spark.operators.stateful import (
            sharded_ring_buffer_stream,
        )

        return lambda stream: sharded_ring_buffer_stream(
            stream, timedelta(0), n_shards=n_shards, **kw
        )

    def test_session_gap_refused_with_sharding(self, spark):
        """VERDICT r04 #5: shard-local last-ts under-estimates the
        conversation's, so session closure would fire early — the
        operator must refuse session_gap rather than emit false
        SESSION_END boundaries."""
        import pytest as _pytest

        from real_time_sliding_window_spark.operators.stateful import (
            sharded_ring_buffer_stream,
        )

        stream = (
            spark.readStream.format("rate").option("rowsPerSecond", 1)
            .load()
            .selectExpr("'c' as conv_id", "CAST(value AS INT) as turn_idx",
                        "'u' as role", "'t' as text",
                        "CAST(NULL AS STRING) as props", "timestamp as ts")
        )
        with _pytest.raises(ValueError, match="session_gap.*shard"):
            sharded_ring_buffer_stream(
                stream, timedelta(0), n_shards=4,
                session_gap=timedelta(seconds=5),
            )

    def test_age_and_dedup_match_unsharded(self, spark, tmp_path):
        """Same pushes through plain vs sharded(3): the (action, reason,
        turn_idx) row sets are identical for age eviction and DUPs."""
        f2 = synth.f2_expiry_rows(T0 + 6 * SEC)
        redeliver = f2.iloc[:2]
        advance = rows(("cadv", 0, "user", "adv", None, 6))
        pushes = [f2, redeliver, advance]

        def plain(stream):
            return ring_buffer_stream(
                stream, timedelta(0), max_duration=timedelta(seconds=3)
            )

        _, psnaps = drive(spark, tmp_path, plain, pushes, "shref")
        _, ssnaps = drive(
            spark, tmp_path,
            self._pipe(3, max_duration=timedelta(seconds=3)),
            pushes, "shrd",
        )
        key = lambda df: sorted(
            map(tuple, df[["conv_id", "action", "reason", "turn_idx"]]
                .fillna("").itertuples(index=False))
        )
        assert key(ssnaps[-1]) == key(psnaps[-1])

    def test_capacity_bound_and_one_shard_exact(self, spark, tmp_path):
        ten = rows(*[("c1", i, "user", f"t{i}", None, i) for i in range(10)])

        # n_shards=2, max_data=4: per-shard cap 2, total kept <= 4
        _, snaps = drive(
            spark, tmp_path, self._pipe(2, max_data=4), [ten], "shcap"
        )
        final = snaps[-1]
        assert len(final[final.action == "ADD"]) == 10
        kept = (
            set(final[final.action == "ADD"].turn_idx)
            - set(final[final.action == "EVICT"].turn_idx)
        )
        assert len(kept) <= 4
        # each shard kept its own newest-2 (shard-local oldest-first evict)
        for _, g in final.groupby("shard"):
            g_kept = set(g[g.action == "ADD"].turn_idx) - set(
                g[g.action == "EVICT"].turn_idx
            )
            g_ev = set(g[g.action == "EVICT"].turn_idx)
            assert all(k > e for k in g_kept for e in g_ev)

        # n_shards=1 == the plain operator, row for row
        def plain(stream):
            return ring_buffer_stream(stream, timedelta(0), max_data=4)

        _, p = drive(spark, tmp_path, plain, [ten], "shone")
        _, s = drive(spark, tmp_path, self._pipe(1, max_data=4), [ten], "shone1")
        cols = ["conv_id", "action", "reason", "turn_idx", "buffer_size"]
        key = lambda df: sorted(
            map(tuple, df[cols].fillna("").itertuples(index=False))
        )
        assert key(s[-1]) == key(p[-1])


class TestStreamJoin:
    def test_user_tool_interval_join(self, spark, tmp_path):
        def pipe(stream):
            return user_tool_stream_join(
                stream,
                horizon=timedelta(seconds=10),
                watermark_delay=timedelta(seconds=2),
                how="inner",
            )

        data = rows(
            # conv with 1 matching tool turn
            ("c1", 0, "user", "q1", None, 0),
            ("c1", 1, "tool", "r1", "search", 3),
            # conv with 3 matching tool turns
            ("c2", 0, "user", "q2", None, 0),
            ("c2", 1, "tool", "r2a", "code", 1),
            ("c2", 2, "tool", "r2b", "code", 5),
            ("c2", 3, "tool", "r2c", "code", 9),
            # tool turn outside the interval (must not join)
            ("c3", 0, "user", "q3", None, 0),
            ("c3", 1, "tool", "r3", "calc", 15),
            # conv with no tool turn
            ("c4", 0, "user", "q4", None, 0),
        )
        advance = rows(("c9", 0, "user", "adv", None, 60))
        _, snaps = drive(spark, tmp_path, pipe, [data, advance], "join")
        final = snaps[-1]
        by_conv = final.groupby("conv_id").size().to_dict()
        assert by_conv == {"c1": 1, "c2": 3}

    def test_late_tool_turn_dropped(self, spark, tmp_path):
        def pipe(stream):
            return user_tool_stream_join(
                stream,
                horizon=timedelta(seconds=10),
                watermark_delay=timedelta(seconds=2),
                how="inner",
            )

        users = rows(("c1", 0, "user", "q", None, 0))
        # the join's global watermark is min(user side, tool side): both
        # sides must advance, or the tool side pins the watermark at 0
        advance = rows(
            ("c9", 0, "user", "adv", None, 60),
            ("c9", 1, "tool", "adv", "calc", 60),
        )
        # tool turn inside the interval but arriving after watermark passed
        late_tool = rows(("c1", 1, "tool", "r", "search", 5))
        advance2 = rows(
            ("c9", 2, "user", "adv2", None, 120),
            ("c9", 3, "tool", "adv2", "calc", 120),
        )
        _, snaps = drive(
            spark, tmp_path, pipe, [users, advance, late_tool, advance2], "latejoin"
        )
        final = snaps[-1]
        assert len(final[final.conv_id == "c1"]) == 0


# ---------------------------------------------------------------------------
# Exactly-once sink + checkpoint resume
# ---------------------------------------------------------------------------

class TestExactlyOnce:
    def test_batch_redelivery_noop(self, spark, tmp_path):
        sink = ExactlyOnceParquetSink(str(tmp_path / "sink"))
        df = synth.to_spark(spark, rows(("c1", 0, "user", "a", None, 0)))
        sink.write_batch(df, 0)
        sink.write_batch(df, 0)  # redelivery
        out = sink.read_committed(spark).toPandas()
        assert len(out) == 1
        assert sink.lineage()[0]["rows"] == 1

    def test_torn_write_recovery(self, spark, tmp_path):
        import os
        import shutil

        sink = ExactlyOnceParquetSink(str(tmp_path / "sink2"))
        df = synth.to_spark(spark, rows(("c1", 0, "user", "a", None, 0)))
        sink.write_batch(df, 0)
        # simulate crash between data write and commit marker
        os.remove(sink._commit_marker(0))
        # the crashed attempt's temp dir survives the crash; a later batch's
        # must not be mistaken for it
        stale = os.path.join(sink.root, "_tmp_0_deadbeef")
        later = os.path.join(sink.root, "_tmp_10_deadbeef")
        for d in (stale, later):
            os.makedirs(d)
            open(os.path.join(d, "part-00000-x-c000.snappy.parquet"), "w").close()
        sink.write_batch(df, 0)  # retry rewrites cleanly
        out = sink.read_committed(spark).toPandas()
        assert len(out) == 1
        assert not os.path.exists(stale)
        assert os.path.exists(later)
        shutil.rmtree(later)
        assert sorted(os.listdir(sink.root)) == ["_commits", "data"]

    def test_resume_from_checkpoint_identical_output(self, spark, tmp_path):
        """Incremental runs with a persistent checkpoint produce exactly the
        rows a single fresh run produces (deterministic resume)."""
        spec = WindowSpec(name="res", length="2 seconds", watermark_delay="0 seconds")

        def pipe(stream):
            return windowed_stream(stream, spec, keys=["conv_id"])

        pushes = [
            rows(("c1", 0, "user", "a", None, 0), ("c1", 1, "user", "b", None, 1)),
            rows(("c1", 2, "user", "c", None, 3)),
            rows(("c1", 3, "user", "d", None, 9)),
        ]
        _, snaps_inc = drive(spark, tmp_path, pipe, pushes, "inc")

        # fresh single run over the same input
        feed = FileFeed(spark, str(tmp_path / "fresh_in"))
        for p in pushes:
            feed.push(p)
        sink2 = ExactlyOnceParquetSink(str(tmp_path / "fresh_out"))
        run_to_sink(pipe(feed.stream()), sink2, str(tmp_path / "fresh_ckpt"), "fresh")
        fresh = sink2.read_committed(spark).toPandas()

        inc = snaps_inc[-1]
        cols = ["window_start", "conv_id", "n_rows"]
        a = inc[cols].sort_values(cols).reset_index(drop=True)
        b = fresh[cols].sort_values(cols).reset_index(drop=True)
        pd.testing.assert_frame_equal(a, b)

    @staticmethod
    def _partition_counts(df) -> dict[str, int]:
        return {
            str(r["pid"]): r["count"]
            for r in df.groupBy(F.spark_partition_id().alias("pid")).count().collect()
        }

    def test_lineage_matches_spark_partition_id(self, spark, tmp_path):
        """Lineage read from the write's part files equals the batch's
        spark_partition_id() counts; the empty partition stays absent."""
        sink = ExactlyOnceParquetSink(str(tmp_path / "lin"))
        df = synth.to_spark(spark, rows(
            ("c1", 0, "user", "a", None, 0),
            ("c2", 0, "user", "b", None, 1),
            ("c3", 0, "user", "c", None, 2),
        )).repartition(4, "conv_id")
        want = self._partition_counts(df)
        assert len(want) < 4 and sum(want.values()) == 3
        sink.write_batch(df, 0)
        assert sink.lineage() == [{"batch_id": 0, "partitions": want, "rows": 3}]

    def test_empty_batch_commits_empty_lineage(self, spark, tmp_path):
        sink = ExactlyOnceParquetSink(str(tmp_path / "empty"))
        df = synth.to_spark(spark, rows(("c1", 0, "user", "a", None, 0))).limit(0)
        sink.write_batch(df, 0)
        assert sink.lineage() == [{"batch_id": 0, "partitions": {}, "rows": 0}]
        out = sink.read_committed(spark)
        assert out.count() == 0
        assert out.columns == df.columns

    def test_lineage_sums_files_of_one_partition(self, spark, tmp_path):
        """maxRecordsPerFile splits a partition over c000, c001, … files;
        the manifest sums them back per partition."""
        import os

        sink = ExactlyOnceParquetSink(str(tmp_path / "split"))
        df = synth.to_spark(spark, rows(
            *[(f"c{i % 3}", i, "user", f"t{i}", None, i) for i in range(7)]
        )).repartition(2, "conv_id")
        want = self._partition_counts(df)
        spark.conf.set("spark.sql.files.maxRecordsPerFile", "1")
        try:
            sink.write_batch(df, 0)
        finally:
            spark.conf.unset("spark.sql.files.maxRecordsPerFile")
        files = [n for n in os.listdir(os.path.join(sink.data_dir, "batch_id=0"))
                 if n.endswith(".parquet")]
        assert len(files) == 7
        assert sink.lineage() == [{"batch_id": 0, "partitions": want, "rows": 7}]

    def test_write_batch_runs_one_spark_job(self, spark, tmp_path):
        """No persist, no lineage aggregation: a batch with no shuffle is
        written by exactly one Spark job."""
        import time

        sink = ExactlyOnceParquetSink(str(tmp_path / "onejob"))
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        try:
            sc.setJobGroup("sink-write-batch", "write_batch")
            sink.write_batch(spark.range(0, 100, 1, 4), 0)
            # job events reach the status tracker through the async listener
            # bus in order: once a later fence job shows, every job of the
            # group has been recorded
            sc.setJobGroup("sink-write-batch-fence", "fence")
            spark.range(1).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        deadline = time.monotonic() + 15
        while (not tracker.getJobIdsForGroup("sink-write-batch-fence")
               and time.monotonic() < deadline):
            time.sleep(0.05)
        assert len(tracker.getJobIdsForGroup("sink-write-batch")) == 1
        assert sink.lineage()[0]["rows"] == 100

    def test_sigkill_mid_stream_resumes_exactly_once(self, spark, tmp_path):
        """A real crash: a child process streams a window query into the
        sink on a processing-time trigger and is SIGKILLed (Python and its
        JVM together) as soon as its first batch commits. Restarting from
        the same checkpoint yields exactly the rows of an uninterrupted run."""
        import os
        import signal
        import subprocess
        import sys
        import time

        spec = WindowSpec(name="crash", length="2 seconds", watermark_delay="0 seconds")
        feed = FileFeed(spark, str(tmp_path / "crash_in"))
        for k in range(5):
            feed.push(rows(*[
                (f"c{c}", k, "user", f"t{k}", None, 3 * k + c) for c in range(3)
            ]))
        sink = ExactlyOnceParquetSink(str(tmp_path / "crash_out"))
        ckpt = str(tmp_path / "crash_ckpt")
        child = CRASH_CHILD.format(
            feed=feed.dir, sink=sink.root, ckpt=ckpt,
            length=spec.length, delay=spec.watermark_delay,
        )
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        env = dict(os.environ, RTSW_DRIVER_MEM="1g")
        env["PYTHONPATH"] = os.pathsep.join(
            p for p in (repo, env.get("PYTHONPATH")) if p
        )
        log_path = tmp_path / "crash_child.log"
        with open(log_path, "w") as log:
            proc = subprocess.Popen(
                [sys.executable, "-c", child], env=env, stdout=log,
                stderr=subprocess.STDOUT, start_new_session=True,
            )
        try:
            deadline = time.monotonic() + 240
            while (not sink.committed_batches() and proc.poll() is None
                   and time.monotonic() < deadline):
                time.sleep(0.05)
            assert proc.poll() is None, log_path.read_text()[-4000:]
            assert sink.committed_batches(), "no batch committed before deadline"
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        committed_at_kill = len(sink.committed_batches())

        def pipe(stream):
            return windowed_stream(stream, spec, keys=["conv_id"])

        run_to_sink(pipe(feed.stream()), sink, ckpt, "crash_resume")
        ref = ExactlyOnceParquetSink(str(tmp_path / "crash_ref"))
        run_to_sink(pipe(feed.stream()), ref, str(tmp_path / "crash_ref_ckpt"),
                    "crash_ref")

        assert len(sink.committed_batches()) > committed_at_kill
        got = sink.read_committed(spark).toPandas()
        want = ref.read_committed(spark).toPandas()
        key = ["window_start", "conv_id"]
        assert len(want) > 0
        assert not got.duplicated(key).any()
        pd.testing.assert_frame_equal(
            got.sort_values(key).reset_index(drop=True),
            want.sort_values(key).reset_index(drop=True),
        )
        assert sum(m["rows"] for m in sink.lineage()) == len(got)


# Child process of test_sigkill_mid_stream_resumes_exactly_once: the window
# query into the sink on a 1 s processing-time trigger, run until killed.
CRASH_CHILD = """
from real_time_sliding_window_spark.config import WindowSpec
from real_time_sliding_window_spark.session import get_spark
from real_time_sliding_window_spark.sources.streams import FileFeed
from real_time_sliding_window_spark.streaming.pipeline import windowed_stream
from real_time_sliding_window_spark.streaming.sink import ExactlyOnceParquetSink

spark = get_spark(app_name="rtsw-crash-child", master="local[2]", shuffle_partitions=4)
spec = WindowSpec(name="crash", length={length!r}, watermark_delay={delay!r})
sink = ExactlyOnceParquetSink({sink!r})
(
    windowed_stream(FileFeed(spark, {feed!r}).stream(), spec, keys=["conv_id"])
    .writeStream.foreachBatch(sink.foreach_batch())
    .outputMode("append")
    .option("checkpointLocation", {ckpt!r})
    .trigger(processingTime="1 second")
    .start()
    .awaitTermination()
)
"""


class TestRingCrash:
    def test_sigkill_mid_ring_stream_resumes_exactly_once(self, spark, tmp_path):
        """A real crash of the ring pipeline: a child process streams
        ring_buffer_stream (capacity and age eviction, so state rows and
        timers) into the sink on a processing-time trigger and is SIGKILLed
        after its first commit marker. Restarted from the same checkpoint,
        every turn is ADDed exactly once, no EVICT precedes its ADD, and the
        committed rows equal an uninterrupted run's."""
        import os
        import signal
        import subprocess
        import sys
        import time

        convs, drops = 4, 6
        feed = FileFeed(spark, str(tmp_path / "ring_crash_in"))
        for k in range(drops):
            feed.push(rows(*[
                (f"c{c}", k, "user", f"t{k}", None, 3 * k + c) for c in range(convs)
            ]))
        sink = ExactlyOnceParquetSink(str(tmp_path / "ring_crash_out"))
        ckpt = str(tmp_path / "ring_crash_ckpt")
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        env = dict(os.environ, RTSW_DRIVER_MEM="1g")
        env["PYTHONPATH"] = os.pathsep.join(
            p for p in (repo, os.path.join(repo, "tests"), env.get("PYTHONPATH"))
            if p
        )
        log_path = tmp_path / "ring_crash_child.log"
        with open(log_path, "w") as log:
            proc = subprocess.Popen(
                [sys.executable, "-c", RING_CRASH_CHILD.format(
                    feed=feed.dir, sink=sink.root, ckpt=ckpt)],
                env=env, stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True,
            )
        try:
            deadline = time.monotonic() + 240
            while (not sink.committed_batches() and proc.poll() is None
                   and time.monotonic() < deadline):
                time.sleep(0.05)
            assert proc.poll() is None, log_path.read_text()[-4000:]
            assert sink.committed_batches(), "no batch committed before deadline"
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        committed_at_kill = len(sink.committed_batches())

        run_to_sink(ring_crash_pipe(feed.stream()), sink, ckpt, "ring_crash_resume")
        ref = ExactlyOnceParquetSink(str(tmp_path / "ring_crash_ref"))
        run_to_sink(ring_crash_pipe(feed.stream()), ref,
                    str(tmp_path / "ring_crash_ref_ckpt"), "ring_crash_ref")

        assert len(sink.committed_batches()) > committed_at_kill
        got = sink.read_committed(spark, with_batch_id=True).toPandas()
        want = ref.read_committed(spark).toPandas()
        adds = got[got.action == "ADD"]
        assert sorted(zip(adds.conv_id, adds.turn_idx)) == sorted(
            (f"c{c}", k) for c in range(convs) for k in range(drops))
        evicts = got[got.action == "EVICT"]
        assert len(evicts) > 0 and not evicts.duplicated(["conv_id", "turn_idx"]).any()
        paired = evicts.merge(adds, on=["conv_id", "turn_idx"], suffixes=("_ev", "_add"))
        assert len(paired) == len(evicts)
        assert (paired.batch_id_ev > paired.batch_id_add).all()
        cols = list(want.columns)
        pd.testing.assert_frame_equal(
            got[cols].sort_values(cols).reset_index(drop=True),
            want.sort_values(cols).reset_index(drop=True),
        )
        assert sum(m["rows"] for m in sink.lineage()) == len(got)


def ring_crash_pipe(stream):
    """The ring query of TestRingCrash: its child process runs the same."""
    return ring_buffer_stream(stream, timedelta(0), max_data=3,
                              max_duration=timedelta(seconds=7))


# Child process of test_sigkill_mid_ring_stream_resumes_exactly_once: the
# ring query into the sink on a 1 s processing-time trigger, run until killed.
RING_CRASH_CHILD = """
from test_streaming import ring_crash_pipe

from real_time_sliding_window_spark.session import get_spark
from real_time_sliding_window_spark.sources.streams import FileFeed
from real_time_sliding_window_spark.streaming.sink import ExactlyOnceParquetSink

spark = get_spark(app_name="rtsw-ring-crash-child", master="local[2]",
                  shuffle_partitions=4)
sink = ExactlyOnceParquetSink({sink!r})
(
    ring_crash_pipe(FileFeed(spark, {feed!r}).stream())
    .writeStream.foreachBatch(sink.foreach_batch())
    .outputMode("append")
    .option("checkpointLocation", {ckpt!r})
    .trigger(processingTime="1 second")
    .start()
    .awaitTermination()
)
"""


class TestIcebergGating:
    def test_unavailable_raises_actionable_error(self, spark, tmp_path):
        """No Iceberg jar in this sandbox: the production-path API must
        refuse clearly (and point at the parquet twin), never half-write."""
        from real_time_sliding_window_spark.streaming import iceberg

        assert iceberg.iceberg_available(spark) is False
        src_dir = tmp_path / "ice_in"
        src_dir.mkdir()
        stream = spark.readStream.schema(synth.TRANSCRIPT_SCHEMA).parquet(
            str(src_dir)
        )
        with pytest.raises(RuntimeError, match="ExactlyOnceParquetSink"):
            iceberg.write_stream_to_iceberg(stream, "rtsw.db.t", str(tmp_path / "ck"))


class TestRoleGauges:
    def test_observed_per_role_counts(self, spark, tmp_path):
        """Per-class item-count gauges (reference BucketedWindow.kt:32-33 /
        Metrics.kt:108-137): with_role_gauges plants observe() counters on
        the streaming plan; the lineage listener accumulates them per batch
        and the totals equal the true per-role input counts."""
        from real_time_sliding_window_spark.streaming import lineage
        from real_time_sliding_window_spark.streaming.lineage import with_role_gauges

        listener = lineage.attach(spark)
        try:
            feed = FileFeed(spark, str(tmp_path / "gauge_in"))
            sink = ExactlyOnceParquetSink(str(tmp_path / "gauge_out"))
            feed.push(rows(
                ("c1", 0, "user", "a", None, 0),
                ("c1", 1, "assistant", "b", None, 1),
                ("c1", 2, "tool", "c", "search", 2),
                ("c1", 3, "user", "d", None, 3),
                ("c2", 0, "user", "e", None, 0),
            ))
            gauged = with_role_gauges(feed.stream())
            run_to_sink(gauged, sink, str(tmp_path / "gauge_ckpt"), query_name="gauges")
            # listener delivery is async — poll briefly for the progress event
            import time

            deadline = time.monotonic() + 15
            totals = listener.role_gauge_totals()
            while not totals and time.monotonic() < deadline:
                time.sleep(0.2)
                totals = listener.role_gauge_totals()
            assert totals.get("n_total") == 5
            assert totals.get("n_user") == 3
            assert totals.get("n_assistant") == 1
            assert totals.get("n_tool") == 1
        finally:
            spark.streams.removeListener(listener)


class TestStateStoreMetrics:
    def test_ring_batch_keeps_state_store_metrics(self, spark, tmp_path):
        """The lineage listener keeps each state operator's customMetrics
        per batch: for the ring buffer on the RocksDB provider, the batch's
        get/put counts and the store's latency timers."""
        import time

        from real_time_sliding_window_spark.streaming import lineage

        def pipe(stream):
            return ring_buffer_stream(stream, timedelta(0), max_data=4)

        listener = lineage.attach(spark)
        try:
            pushes = [rows(*[("c1", i, "user", f"t{i}", None, i) for i in range(6)])]
            drive(spark, tmp_path, pipe, pushes, "ring_metrics")
            # listener delivery is async — poll briefly for the progress event
            deadline = time.monotonic() + 15
            recs = []
            while not recs and time.monotonic() < deadline:
                time.sleep(0.2)
                recs = [r for r in listener.progress
                        if r["query"] == "ring_metrics" and r["num_input_rows"]]
            assert recs
            [op] = recs[0]["state_operators"]
            assert op["operator"] == "applyInPandasWithState"
            metrics = op["custom_metrics"]
            assert metrics["rocksdbGetCount"] >= 1
            assert metrics["rocksdbPutCount"] >= 1
            assert {"rocksdbGetLatency", "rocksdbPutLatency", "rocksdbLoadLatencyMs",
                    "rocksdbCommitFlushLatency"} <= metrics.keys()
        finally:
            spark.streams.removeListener(listener)

    def test_ring_batch_keeps_state_phase_times(self, spark, tmp_path):
        """Each state operator entry keeps the operator's update, removal
        and state-store commit times; to_df still leaves the nested
        state_operators out."""
        import time

        from real_time_sliding_window_spark.streaming import lineage

        def pipe(stream):
            return ring_buffer_stream(stream, timedelta(0), max_data=4)

        listener = lineage.attach(spark)
        try:
            pushes = [rows(*[("c1", i, "user", f"t{i}", None, i) for i in range(6)])]
            drive(spark, tmp_path, pipe, pushes, "ring_phases")
            deadline = time.monotonic() + 15
            recs = []
            while not recs and time.monotonic() < deadline:
                time.sleep(0.2)
                recs = [r for r in listener.progress
                        if r["query"] == "ring_phases" and r["num_input_rows"]]
            assert recs
            [op] = recs[0]["state_operators"]
            times = [op["updates_time_ms"], op["removals_time_ms"], op["commit_time_ms"]]
            assert all(isinstance(t, int) and t >= 0 for t in times)
            # the batch ran the ring body, which is update time
            assert op["updates_time_ms"] > 0
            assert "state_operators" not in listener.to_df(spark).columns
        finally:
            spark.streams.removeListener(listener)


class TestRingBucketState:
    def test_state_rows_are_buckets_not_conversations(self, spark, tmp_path):
        """The ring keeps one state row per conv_id-hash bucket: 200
        conversations leave at most RING_BUCKETS rows in the operator's
        store, and every conversation's turns are still ADDed."""
        import time

        from real_time_sliding_window_spark.operators.stateful import RING_BUCKETS
        from real_time_sliding_window_spark.streaming import lineage

        def pipe(stream):
            return ring_buffer_stream(stream, timedelta(0), max_data=4)

        convs = [f"c{i:03d}" for i in range(200)]
        push = rows(*[(c, i, "user", f"{c}/{i}", None, i)
                      for c in convs for i in range(2)])
        listener = lineage.attach(spark)
        try:
            _, snaps = drive(spark, tmp_path, pipe, [push], "ring_buckets")
            deadline = time.monotonic() + 15
            recs = []
            while not recs and time.monotonic() < deadline:
                time.sleep(0.2)
                recs = [r for r in listener.progress
                        if r["query"] == "ring_buckets" and r["num_input_rows"]]
            assert recs
            [op] = recs[-1]["state_operators"]
            assert 0 < op["num_rows_total"] <= RING_BUCKETS
        finally:
            spark.streams.removeListener(listener)
        adds = snaps[-1][snaps[-1].action == "ADD"]
        assert len(adds) == 2 * len(convs)
        assert set(adds.conv_id) == set(convs)

    def test_ring_batches_compile_no_new_code(self, spark, tmp_path):
        """After its first drop a ring query compiles no new class. State
        array fields would make Spark generate and compile two new state
        (de)serializer classes on every batch. Spark also inlines each
        batch's watermark into a late-row predicate, one class per new
        watermark value whatever the state, so a first drive over the same
        drops warms the code cache and the counted drive replays its
        watermarks."""
        compiles = (
            spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME()
        )
        pushes = [
            rows(*[(f"c{c}", 4 * k + i, "user", f"t{i}", None, 10 * k + i)
                   for c in range(8) for i in range(4)])
            for k in range(3)
        ]
        counts = []

        def pipe(stream):
            counts.append(compiles.getCount())
            return ring_buffer_stream(
                stream, SEC, max_duration=timedelta(seconds=5)
            )

        drive(spark, tmp_path, pipe, pushes, "ring_codegen_warm")
        _, snaps = drive(spark, tmp_path, pipe, pushes, "ring_codegen")
        # counts[len(pushes) + 1]: before the counted drive's second drop
        assert compiles.getCount() - counts[len(pushes) + 1] == 0
        # the timed mode evicted by age
        assert (snaps[-1].reason == "age").sum() == 64


class TestBatchPhaseTimings:
    def test_window_batch_keeps_duration_phases(self, spark, tmp_path):
        """The lineage listener keeps each batch's engine phase timings;
        addBatch (the sink's foreachBatch time) sits inside
        triggerExecution, and to_df flattens them to <phase>_ms columns."""
        import time

        from real_time_sliding_window_spark.streaming import lineage

        spec = WindowSpec(name="phases", length="2 seconds", watermark_delay="0 seconds")

        def pipe(stream):
            return windowed_stream(stream, spec, keys=["conv_id"])

        listener = lineage.attach(spark)
        try:
            pushes = [rows(("c1", 0, "user", "a", None, 0), ("c1", 1, "user", "b", None, 5))]
            drive(spark, tmp_path, pipe, pushes, "phases")
            deadline = time.monotonic() + 15
            recs = []
            while not recs and time.monotonic() < deadline:
                time.sleep(0.2)
                recs = [r for r in listener.progress
                        if r["query"] == "phases" and r["num_input_rows"]]
            assert recs
            d = recs[0]["duration_ms"]
            phases = {"addBatch", "queryPlanning", "walCommit", "commitOffsets",
                      "latestOffset", "getBatch", "triggerExecution"}
            assert phases <= d.keys()
            assert 0 < d["addBatch"] <= d["triggerExecution"]
            pdf = listener.to_df(spark).toPandas()
            assert {f"{p}_ms" for p in phases} <= set(pdf.columns)
            row = pdf[(pdf["query"] == "phases") & (pdf["num_input_rows"] > 0)].iloc[0]
            assert row["addBatch_ms"] == d["addBatch"]
        finally:
            spark.streams.removeListener(listener)


class TestLiveWindowView:
    def test_current_bucket_visible_mid_stream(self, spark, tmp_path):
        """The open window is readable BEFORE the watermark closes it, with
        running counts that grow push by push (reference currentBucket,
        FixedTumblingBucketedWindowTest.kt:287-291), and closed windows
        remain readable via buckets()."""
        from real_time_sliding_window_spark.streaming.live_view import LiveWindowView

        feed = FileFeed(spark, str(tmp_path / "lv_in"))
        view = LiveWindowView(str(tmp_path / "lv_store"))
        spec = WindowSpec(
            name="lv", length="60 seconds", watermark_delay="30 seconds"
        )
        ckpt = str(tmp_path / "lv_ckpt")

        def run_push(pdf):
            feed.push(pdf)
            q = view.start(
                feed.stream(), spec, ckpt, keys=["conv_id"], query_name="lv"
            )
            q.awaitTermination()

        # push 1: two turns in the 00:00-01:00 window -> visible, n=2
        run_push(rows(("c1", 0, "user", "a", None, 0),
                      ("c1", 1, "assistant", "b", None, 5)))
        cur = view.current_bucket(
            spark, T0 + 10 * SEC, keys=["conv_id"]
        ).toPandas()
        assert len(cur) == 1 and cur.iloc[0]["n_rows"] == 2

        # push 2: one more turn, same window -> running count updates to 3
        # (the watermark (max_ts - 30s) is still inside the window: OPEN)
        run_push(rows(("c1", 2, "tool", "c", "search", 20)))
        cur = view.current_bucket(
            spark, T0 + 10 * SEC, keys=["conv_id"]
        ).toPandas()
        assert len(cur) == 1 and cur.iloc[0]["n_rows"] == 3

        # push 3: a turn two windows later closes window 1; both windows
        # stay readable, window 1's final state intact
        run_push(rows(("c1", 3, "user", "d", None, 150)))
        allw = view.buckets(spark, keys=["conv_id"]).toPandas()
        assert len(allw) == 2
        first = allw[allw["n_rows"] == 3]
        assert len(first) == 1
        cur2 = view.current_bucket(
            spark, T0 + 150 * SEC, keys=["conv_id"]
        ).toPandas()
        assert len(cur2) == 1 and cur2.iloc[0]["n_rows"] == 1
        # nonCurrentBuckets getter: only the closed first window
        closed = view.non_current_buckets(
            spark, T0 + 150 * SEC, keys=["conv_id"]
        ).toPandas()
        assert len(closed) == 1 and closed.iloc[0]["n_rows"] == 3

    def test_session_spec_refused_before_any_query(self, tmp_path):
        """Session windows are keyed by session, not ``window``: start
        refuses them before it builds or starts anything."""
        from real_time_sliding_window_spark.streaming.live_view import LiveWindowView

        view = LiveWindowView(str(tmp_path / "ss_store"))
        spec = WindowSpec(name="ss", kind="session", gap="30 seconds")
        ckpt = tmp_path / "ss_ckpt"
        with pytest.raises(ValueError, match="session"):
            view.start(None, spec, str(ckpt))
        assert not ckpt.exists()


class TestKafkaGating:
    def test_unavailable_raises_actionable_error(self, spark):
        """No Kafka connector in this sandbox: the production source must
        refuse clearly, pointing at the FileFeed twin."""
        from real_time_sliding_window_spark.sources import kafka

        assert kafka.kafka_available(spark) is False
        with pytest.raises(RuntimeError, match="FileFeed"):
            kafka.transcript_kafka_stream(spark, "broker:9092", "turns")

    def test_payload_roundtrip(self, spark):
        """to_kafka_payload (key=conv_id, value=JSON) composed with the
        source's from_json parse is lossless — the (de)serialization
        contract is testable without a broker."""
        from real_time_sliding_window_spark.sources.kafka import to_kafka_payload

        df = synth.to_spark(spark, rows(
            ("c1", 0, "user", "hello", None, 0),
            ("c2", 1, "tool", "result", "search", 5),
        ))
        payload = to_kafka_payload(df)
        back = payload.select(
            F.from_json(F.col("value"), synth.TRANSCRIPT_SCHEMA).alias("t"), "key"
        ).select("t.*", "key").toPandas().sort_values("conv_id")
        assert list(back["key"]) == list(back["conv_id"]) == ["c1", "c2"]
        assert list(back["turn_idx"]) == [0, 1]
        assert list(back["tool"].fillna("-")) == ["-", "search"]
        assert list(back["ts"]) == [T0, T0 + 5 * SEC]


class TestStreamStaticJoin:
    def test_enriched_stream_broadcast_dim(self, spark, tmp_path):
        """Stream-static enrichment: tool turns decorated from a static
        registry; unmatched tools keep NULL metadata (left join), and the
        static side is broadcast — the streaming side never shuffles."""
        from real_time_sliding_window_spark.streaming.pipeline import enriched_stream

        dim = spark.createDataFrame(
            pd.DataFrame({"tool": ["search", "calc"],
                          "tool_category": ["retrieval", "math"]})
        )

        def pipe(stream):
            return enriched_stream(
                stream.filter(F.col("role") == "tool"), dim, keys=["tool"]
            ).select("conv_id", "turn_idx", "tool", "tool_category")

        pushes = [rows(
            ("c1", 0, "tool", "a", "search", 0),
            ("c1", 1, "tool", "b", "calc", 1),
            ("c1", 2, "tool", "c", "unknown_tool", 2),
            ("c1", 3, "user", "d", None, 3),
        )]
        _, snaps = drive(spark, tmp_path, pipe, pushes, "enrich")
        final = snaps[-1].sort_values("turn_idx")
        assert list(final["turn_idx"]) == [0, 1, 2]
        assert list(final["tool_category"].fillna("-")) == [
            "retrieval", "math", "-"
        ]


EVENT_SCHEMA = "user_id string, event_type string, ts timestamp"


def event_rows(*specs) -> pd.DataFrame:
    """specs: (user_id, event_type, sec_offset)"""
    return pd.DataFrame(
        [
            {"user_id": u, "event_type": t, "ts": T0 + off * SEC}
            for (u, t, off) in specs
        ]
    )


class TestStreamingTwins:
    """VERDICT r02 #10: batch-only queries events_type_pivot and
    distinct_users_per_day get streaming twins over the same column
    contract — same drive pattern as the role-gauge twin."""

    def test_pivoted_stream_matches_batch_pivot(self, spark, tmp_path):
        from real_time_sliding_window_spark.streaming.pipeline import pivoted_stream

        types = ["click", "view", "purchase"]

        def pipe(stream):
            return pivoted_stream(
                stream, "event_type", types,
                window_length="2 seconds", watermark_delay="1 second",
            )

        batch1 = event_rows(
            ("u1", "click", 0), ("u2", "view", 0), ("u1", "click", 1),
            ("u3", "purchase", 2), ("u1", "view", 3),
        )
        closer = event_rows(("u9", "click", 30))
        sink, snaps = drive(spark, tmp_path, pipe, [batch1, closer], "pivtwin",
                            schema=EVENT_SCHEMA)
        final = snaps[-1].sort_values("window_start").reset_index(drop=True)
        # batch reference: the same conditional aggregate over the same rows
        ref = (
            spark.createDataFrame(pd.concat([batch1, closer]))
            .groupBy(F.window("ts", "2 seconds").alias("w"))
            .pivot("event_type", types)
            .agg(F.count(F.lit(1)))
            .select(
                F.col("w.start").alias("window_start"),
                *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types],
            )
            .toPandas()
        )
        # streaming emits only watermark-closed windows — restrict batch ref
        ref = (
            ref[ref.window_start.isin(set(final.window_start))]
            .sort_values("window_start").reset_index(drop=True)
        )
        assert len(final) == 2  # both 2s windows of batch1 closed
        for t in types:
            assert list(final[f"n_{t}"]) == list(ref[f"n_{t}"])

    def test_distinct_stream_is_exact_and_dedups_redelivery(self, spark, tmp_path):
        from real_time_sliding_window_spark.streaming.pipeline import (
            distinct_per_window_stream,
        )

        def pipe(stream):
            return distinct_per_window_stream(
                stream, "user_id", keys=["event_type"],
                window_length="2 seconds", watermark_delay="5 seconds",
            )

        batch1 = event_rows(
            ("u1", "click", 0), ("u1", "click", 1),   # same user twice
            ("u2", "click", 0), ("u1", "view", 1),
        )
        batch2 = event_rows(("u1", "click", 1))       # redelivered duplicate
        closer = event_rows(("u9", "click", 30))
        _, snaps = drive(
            spark, tmp_path, pipe, [batch1, batch2, closer], "disttwin",
            schema=EVENT_SCHEMA,
        )
        final = snaps[-1]
        w0 = final[final.window_start == T0]
        got = dict(zip(w0.event_type, w0.n_users))
        # u1 counted ONCE per (window, type) despite 3 click arrivals
        assert got == {"click": 2, "view": 1}

    def test_percentile_stream_matches_batch_sketch(self, spark, tmp_path):
        """Windowed GK-sketch percentiles stream (mergeable state — exact
        `percentile` cannot); in the exact regime the closed window's
        values equal the batch operator's on the same rows."""
        from real_time_sliding_window_spark.operators.windows import (
            approx_group_percentiles,
        )
        from real_time_sliding_window_spark.streaming.pipeline import (
            percentile_stream,
        )

        schema = "user_id string, event_type string, v long, ts timestamp"
        batch1 = pd.DataFrame(
            [
                {"user_id": "u1", "event_type": "click", "v": i,
                 "ts": T0 + (i % 2) * SEC}
                for i in range(100)
            ]
        )
        closer = pd.DataFrame(
            [{"user_id": "u9", "event_type": "click", "v": 1,
              "ts": T0 + 60 * SEC}]
        )

        def pipe(stream):
            return percentile_stream(
                stream, "v", (0.5, 0.95), keys=["event_type"],
                window_length="2 seconds", watermark_delay="1 second",
            )

        _, snaps = drive(
            spark, tmp_path, pipe, [batch1, closer], "pcttwin", schema=schema
        )
        final = snaps[-1]
        w0 = final[final.window_start == T0].iloc[0]
        ref = approx_group_percentiles(
            spark.createDataFrame(batch1, schema=schema),
            "v", ["event_type"], (0.5, 0.95),
        ).toPandas().iloc[0]
        assert w0["p_0_5"] == ref["p_0_5"]
        assert w0["p_0_95"] == ref["p_0_95"]
        assert w0["n_rows"] == 100

    def test_unpivot_streams_stateless(self, spark, tmp_path):
        """Unpivot (Expand) is stateless — the batch melt expression runs
        on a stream unchanged, one output row per (row, unpivoted col)."""

        def pipe(stream):
            wide = stream.select(
                "user_id", "ts",
                F.lit(1).alias("n_click"), F.lit(2).alias("n_view"),
            )
            return wide.unpivot(
                ["user_id", "ts"], ["n_click", "n_view"], "metric", "value"
            )

        batch = event_rows(("u1", "click", 0), ("u2", "view", 1))
        _, snaps = drive(
            spark, tmp_path, pipe, [batch], "unpivtwin", schema=EVENT_SCHEMA
        )
        final = snaps[-1]
        assert len(final) == 4  # 2 rows x 2 metrics
        assert sorted(final.metric.unique()) == ["n_click", "n_view"]
        assert sorted(final[final.metric == "n_click"].value) == [1, 1]


class TestLiveViewIdempotence:
    def test_restart_redelivers_committed_stateful_batch(self, spark, tmp_path):
        """Crash after the view committed a batch but before the engine's
        commits/N: the restart redelivers that stateful batch. Its state
        stores must still commit (Spark validates every partition), and
        the view's rows stay exactly once."""
        import os

        from real_time_sliding_window_spark.streaming.live_view import LiveWindowView

        feed = FileFeed(spark, str(tmp_path / "rs_in"))
        view = LiveWindowView(str(tmp_path / "rs_store"))
        spec = WindowSpec(
            name="rs", length="10 minutes", watermark_delay="0 seconds"
        )
        ckpt = str(tmp_path / "rs_ckpt")

        def run():
            view.start(
                feed.stream(), spec, ckpt, keys=["conv_id"], query_name="rs"
            ).awaitTermination()

        for i, sec in enumerate((0, 700, 1400)):
            feed.push(rows(("c1", i, "user", "t", None, sec)))
        run()
        key = lambda p: sorted(
            map(tuple, p[["window_start", "n_rows"]].itertuples(index=False))
        )
        before = key(view.buckets(spark, keys=["conv_id"]).toPandas())
        commits = os.path.join(ckpt, "commits")
        last = max(int(n) for n in os.listdir(commits) if n.isdigit())
        assert os.path.exists(os.path.join(view.root, "_commits", f"{last}.json"))
        os.remove(os.path.join(commits, str(last)))
        os.remove(os.path.join(commits, f".{last}.crc"))
        run()
        assert key(view.buckets(spark, keys=["conv_id"]).toPandas()) == before
        assert before == [(T0, 1), (T0 + 600 * SEC, 1), (T0 + 1200 * SEC, 1)]

    def test_crash_between_sink_and_engine_commit_reads_each_window_once(
        self, spark, tmp_path
    ):
        """The last batch closes a window and the sink commits it, then the
        engine's commits/N is lost. buckets() reads the state at N-1 and
        the sink only up to N-1, so the window shows once (open), not also
        closed; the restart then gives the rows read before the crash."""
        import os

        from real_time_sliding_window_spark.streaming.live_view import LiveWindowView

        feed = FileFeed(spark, str(tmp_path / "seam_in"))
        view = LiveWindowView(str(tmp_path / "seam_store"))
        spec = WindowSpec(
            name="seam", length="10 minutes", watermark_delay="0 seconds"
        )
        ckpt = str(tmp_path / "seam_ckpt")

        def run():
            view.start(
                feed.stream(), spec, ckpt, keys=["conv_id"], query_name="seam"
            ).awaitTermination()

        def read():
            p = view.buckets(spark, keys=["conv_id"]).toPandas()
            return sorted(map(tuple, p[["window_start", "conv_id", "n_rows"]]
                              .itertuples(index=False)))

        for i, sec in enumerate((0, 700, 1400)):
            feed.push(rows(("c1", i, "user", "t", None, sec)))
        run()
        before = read()
        commits = os.path.join(ckpt, "commits")
        last = max(int(n) for n in os.listdir(commits) if n.isdigit())
        # the lost batch is the one that closed [10:00, 20:00)
        closed = view.sink.read_batch(spark, last).toPandas()
        assert list(closed["window_start"]) == [T0 + 600 * SEC]
        os.remove(os.path.join(commits, str(last)))
        os.remove(os.path.join(commits, f".{last}.crc"))
        crashed = read()
        assert [r[:2] for r in crashed] == [r[:2] for r in before]
        run()
        assert read() == before == [
            (T0, "c1", 1), (T0 + 600 * SEC, "c1", 1), (T0 + 1200 * SEC, "c1", 1)
        ]


class TestStatelessDocOpsOnStreams:
    def test_chunking_composes_with_readstream(self, spark, tmp_path):
        """The stateless training-data ops are batch/stream-unified: the
        same chunk_documents call runs on a readStream plan (no .rdd
        touch, no stateful operator) and yields the same chunks."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from real_time_sliding_window_spark.operators.chunking import chunk_documents

        src = tmp_path / "docs_in"
        src.mkdir()
        pdf = pd.DataFrame({
            "doc_id": [0, 1],
            "text": [" ".join(f"w{i}" for i in range(40)), "tiny doc"],
        })
        pq.write_table(pa.Table.from_pandas(pdf), str(src / "d0.parquet"))
        stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
        sink = ExactlyOnceParquetSink(str(tmp_path / "docs_out"))
        run_to_sink(
            chunk_documents(stream, chunk_tokens=16, stride=16),
            sink, str(tmp_path / "docs_ckpt"), query_name="chunk_stream",
        )
        got = sink.read_committed(spark).toPandas()
        batch = chunk_documents(
            spark.createDataFrame(pdf), chunk_tokens=16, stride=16
        ).toPandas()
        k = lambda p: sorted(map(tuple, p[["doc_id", "chunk_idx", "chunk_text"]]
                                 .itertuples(index=False)))
        assert k(got) == k(batch)


class TestRingReplay:
    def test_state_replay_matches_live_buffer(self, spark, tmp_path):
        """Event-sourcing: replaying the emitted ADD/DUP/EVICT log
        reconstructs exactly the turns the ring buffer currently holds
        (capacity 2 -> the two newest turns per conversation)."""
        from real_time_sliding_window_spark.operators.stateful import (
            ring_state_from_actions,
        )

        def pipe(stream):
            return ring_buffer_stream(
                stream, timedelta(seconds=30), max_data=2
            )

        pushes = [
            rows(("c1", 0, "user", "a", None, 0), ("c1", 1, "user", "b", None, 1)),
            rows(("c1", 2, "user", "c", None, 2)),       # evicts turn 0
            # turn 0 re-delivered after its eviction: whether the engine
            # DUPs it or re-adds-and-re-evicts it, replay must agree
            rows(("c1", 0, "user", "a", None, 0)),
            rows(("c2", 0, "user", "x", None, 5)),
        ]
        sink, _ = drive(spark, tmp_path, pipe, pushes, "replay")
        log = sink.read_committed(spark)
        state = ring_state_from_actions(log).toPandas()
        c1 = state[state.conv_id == "c1"].sort_values("turn_rank")
        assert list(c1["turn_idx"]) == [1, 2]   # capacity 2: newest two
        assert list(c1["turn_rank"]) == [1, 2]
        c2 = state[state.conv_id == "c2"]
        assert list(c2["turn_idx"]) == [0]

    def test_state_store_buffer_matches_action_replay(self, spark, tmp_path):
        """The action log and the state it describes agree: decoding every
        bucket row that Spark's state data source reads from the ring's
        checkpoint gives, per conversation and in stored order, the
        (turn_idx, ts) buffer that replaying the log gives in turn_rank
        order, under capacity and age eviction."""
        from real_time_sliding_window_spark.operators.stateful import (
            ring_state_from_actions,
            state_columns,
        )

        def pipe(stream):
            return ring_buffer_stream(
                stream, timedelta(0), max_duration=timedelta(seconds=30),
                max_data=2,
            )

        pushes = [
            rows(("c1", 0, "user", "a", None, 0), ("c1", 1, "user", "b", None, 1),
                 ("c2", 0, "user", "x", None, 2)),
            rows(("c1", 2, "user", "c", None, 3)),          # capacity evicts
            # watermark 50 s ages out everything before 20 s
            rows(("c1", 3, "user", "d", None, 45), ("c3", 0, "user", "y", None, 50)),
            rows(("c3", 1, "user", "z", None, 60), ("c4", 0, "user", "w", None, 61)),
        ]
        sink, _ = drive(spark, tmp_path, pipe, pushes, "ringx")
        log = sink.read_committed(spark)
        reasons = {r.reason for r in log.filter(F.col("action") == "EVICT")
                   .select("reason").distinct().collect()}
        assert reasons == {"capacity", "age"}

        from_state = {}
        state = spark.read.format("statestore").load(str(tmp_path / "ringx_ckpt"))
        for row in state.collect():
            ts, turn_idx, _, _, _, conv_id = state_columns(row.value.groupState)
            for c, t, i in zip(conv_id, ts.tolist(), turn_idx.tolist()):
                from_state.setdefault(c, []).append((i, t))

        replay = {}
        for r in (ring_state_from_actions(log)
                  .select("conv_id", "turn_idx", F.unix_micros("ts").alias("ts"))
                  .orderBy("conv_id", "turn_rank").collect()):
            replay.setdefault(r.conv_id, []).append((r.turn_idx, r.ts))
        assert from_state == replay
        assert sorted(replay) == ["c1", "c3", "c4"]


class TestStreamingTwinValidation:
    def test_distinct_stream_rejects_short_watermark(self, spark):
        """Exactness precondition: watermark_delay < window_length would
        let dedup state expire mid-window and overcount (code-review r03)."""
        from real_time_sliding_window_spark.streaming.pipeline import (
            distinct_per_window_stream,
        )

        stream = (
            spark.readStream.format("rate").option("rowsPerSecond", 1).load()
            .selectExpr("'u' as user_id", "'t' as event_type",
                        "timestamp as ts")
        )
        with pytest.raises(ValueError, match="watermark_delay"):
            distinct_per_window_stream(
                stream, "user_id", keys=["event_type"],
                window_length="1 day", watermark_delay="1 minute",
            )


class TestAsOfStreamJoin:
    def test_matches_batch_asof_with_ties_and_horizon(self, spark, tmp_path):
        """Streaming as-of == batch as_of_join on the same rows: latest
        right <= left_ts within the horizon, equal-ts tie to the higher
        tiebreaker, no-match lefts emitted with nulls, append-mode final."""
        import json

        from real_time_sliding_window_spark.operators.joins import as_of_join
        from real_time_sliding_window_spark.streaming.asof import (
            as_of_stream_join,
        )

        l_schema = "user string, pid long, ts timestamp"
        r_schema = "user string, cid long, ts timestamp"
        lrows = pd.DataFrame({
            "user": ["u1", "u1", "u2"],
            "pid": [100, 101, 102],
            "ts": [T0 + 10 * SEC, T0 + 30 * SEC, T0 + 10 * SEC],
        })
        rrows = pd.DataFrame({
            "user": ["u1", "u1", "u1", "u1", "u2"],
            "cid": [1, 2, 3, 4, 5],
            "ts": [T0 + 3 * SEC, T0 + 7 * SEC, T0 + 7 * SEC,
                   T0 + 12 * SEC, T0 + 40 * SEC],
        })
        closer_l = pd.DataFrame(
            {"user": ["zz"], "pid": [999], "ts": [T0 + 120 * SEC]}
        )

        lfeed = FileFeed(spark, str(tmp_path / "asof_l"))
        rfeed = FileFeed(spark, str(tmp_path / "asof_r"))
        sink = ExactlyOnceParquetSink(str(tmp_path / "asof_out"))
        ckpt = str(tmp_path / "asof_ckpt")

        def run():
            res = as_of_stream_join(
                lfeed.stream(l_schema), rfeed.stream(r_schema),
                keys=["user"], horizon=timedelta(seconds=20),
                watermark_delay=timedelta(seconds=2),
                left_payload=["pid"], right_payload=["cid"],
                right_tiebreaker="cid",
            )
            run_to_sink(res, sink, ckpt, query_name="asofstream")

        # rights first, then lefts, then the watermark closer
        rfeed.push(spark.createDataFrame(rrows, schema=r_schema))
        lfeed.push(spark.createDataFrame(lrows, schema=l_schema))
        run()
        lfeed.push(spark.createDataFrame(closer_l, schema=l_schema))
        run()

        from real_time_sliding_window_spark.streaming.asof import unpack_asof

        typed = unpack_asof(
            sink.read_committed(spark), "user string", "pid long", "cid long"
        ).toPandas()
        typed = typed[typed.user != "zz"]
        assert list(typed.columns) == ["user", "left_ts", "pid",
                                       "right_ts", "cid"]
        got = sink.read_committed(spark).toPandas()
        got = got[~got.key.str.contains("zz")]
        pid = got.left_json.map(lambda s: json.loads(s)["pid"])
        cid = got.right_json.map(
            lambda s: json.loads(s)["cid"] if isinstance(s, str) else None
        )
        stream_match = {
            int(p): (int(c) if pd.notna(c) else None)
            for p, c in zip(pid, cid)
        }

        batch = as_of_join(
            spark.createDataFrame(lrows, schema=l_schema),
            spark.createDataFrame(rrows, schema=r_schema),
            keys=["user"], left_ts="ts", right_ts="ts",
            horizon=timedelta(seconds=20), tiebreakers=["cid"],
        ).toPandas()
        batch_match = dict(zip(batch.l_pid, batch.r_cid))

        # pid 100 -> tie at ts=7 resolves to cid 3; pid 101 -> cid 4;
        # pid 102 (u2): no click at-or-before -> null row still emitted
        assert stream_match == {100: 3, 101: 4, 102: None}
        assert {p: c for p, c in stream_match.items() if c is not None} == \
            batch_match

    def test_nan_and_null_tiebreakers_match_batch(self, spark, tmp_path):
        """ADVICE r4: at equal right ts, a literal NaN tiebreaker must WIN
        (Spark desc ranks NaN above every number) while a NULL tiebreaker
        must LOSE (desc = nulls last) — in BOTH engines. The pandas float64
        path can't tell them apart, so pack() maps null/NaN JVM-side."""
        import json

        from real_time_sliding_window_spark.operators.joins import as_of_join
        from real_time_sliding_window_spark.streaming.asof import (
            as_of_stream_join,
        )

        l_schema = "user string, pid long, ts timestamp"
        r_schema = "user string, cid long, tb double, ts timestamp"
        lrows = pd.DataFrame({
            "user": ["a", "b"],
            "pid": [1, 2],
            "ts": [T0 + 10 * SEC, T0 + 10 * SEC],
        })
        # key a: ties at ts=7 with tb {5.0, NaN, null} -> NaN (cid 12) wins
        # key b: ties at ts=7 with tb {5.0, null}      -> 5.0 (cid 21) wins
        # (built from tuples, NOT pandas: a pandas float64 column folds
        # None into NaN before Spark ever sees the null)
        ts7 = T0 + 7 * SEC
        rrows = [
            ("a", 11, 5.0, ts7),
            ("a", 12, float("nan"), ts7),
            ("a", 13, None, ts7),
            ("b", 21, 5.0, ts7),
            ("b", 22, None, ts7),
        ]
        closer = pd.DataFrame(
            {"user": ["zz"], "pid": [9], "ts": [T0 + 120 * SEC]}
        )

        lfeed = FileFeed(spark, str(tmp_path / "nan_l"))
        rfeed = FileFeed(spark, str(tmp_path / "nan_r"))
        sink = ExactlyOnceParquetSink(str(tmp_path / "nan_out"))
        ckpt = str(tmp_path / "nan_ckpt")

        def run():
            res = as_of_stream_join(
                lfeed.stream(l_schema), rfeed.stream(r_schema),
                keys=["user"], horizon=timedelta(seconds=20),
                watermark_delay=timedelta(seconds=2),
                left_payload=["pid"], right_payload=["cid"],
                right_tiebreaker="tb",
            )
            run_to_sink(res, sink, ckpt, query_name="nanasof")

        rfeed.push(spark.createDataFrame(rrows, schema=r_schema))
        lfeed.push(spark.createDataFrame(lrows, schema=l_schema))
        run()
        lfeed.push(spark.createDataFrame(closer, schema=l_schema))
        run()

        got = sink.read_committed(spark).toPandas()
        got = got[~got.key.str.contains("zz")]
        stream_match = {
            json.loads(l)["pid"]: (
                json.loads(r)["cid"] if isinstance(r, str) else None
            )
            for l, r in zip(got.left_json, got.right_json)
        }

        batch = as_of_join(
            spark.createDataFrame(lrows, schema=l_schema),
            spark.createDataFrame(rrows, schema=r_schema),
            keys=["user"], left_ts="ts", right_ts="ts",
            horizon=timedelta(seconds=20), tiebreakers=["tb"],
        ).toPandas()
        batch_match = dict(zip(batch.l_pid, batch.r_cid))

        assert stream_match == {1: 12, 2: 21}
        assert stream_match == {
            int(p): int(c) for p, c in batch_match.items()
        }

    def test_randomized_parity_with_batch(self, spark, tmp_path):
        """200 seeded random events over 10 keys with heavy ts ties, pushed
        in 3 ts-ordered batches: the streamed output must equal the batch
        as_of_join row set exactly, multi-digit tiebreakers included
        (numeric-descending tie rule)."""
        import json

        import numpy as np

        from real_time_sliding_window_spark.operators.joins import as_of_join
        from real_time_sliding_window_spark.streaming.asof import (
            as_of_stream_join,
        )

        rng = np.random.default_rng(42)
        n_l, n_r = 80, 120
        lrows = pd.DataFrame({
            "user": [f"u{rng.integers(0, 10)}" for _ in range(n_l)],
            "pid": range(n_l),
            "ts": [T0 + int(rng.integers(0, 60)) * SEC for _ in range(n_l)],
        })
        rrows = pd.DataFrame({
            "user": [f"u{rng.integers(0, 10)}" for _ in range(n_r)],
            "cid": [int(rng.integers(0, 1000)) for _ in range(n_r)],
            "ts": [T0 + int(rng.integers(0, 60)) * SEC for _ in range(n_r)],
        })
        closer = pd.DataFrame(
            {"user": ["zz"], "pid": [9999], "ts": [T0 + 600 * SEC]}
        )
        l_schema = "user string, pid long, ts timestamp"
        r_schema = "user string, cid long, ts timestamp"

        lfeed = FileFeed(spark, str(tmp_path / "rasof_l"))
        rfeed = FileFeed(spark, str(tmp_path / "rasof_r"))
        sink = ExactlyOnceParquetSink(str(tmp_path / "rasof_out"))
        ckpt = str(tmp_path / "rasof_ckpt")

        def run():
            res = as_of_stream_join(
                lfeed.stream(l_schema), rfeed.stream(r_schema),
                keys=["user"], horizon=timedelta(seconds=15),
                watermark_delay=timedelta(seconds=0),
                left_payload=["pid"], right_payload=["cid"],
                right_tiebreaker="cid",
            )
            run_to_sink(res, sink, ckpt, query_name="rasof")

        # ts-ordered batches so the watermark only moves forward and no
        # input is watermark-dropped (parity needs identical effective rows)
        lrows_s = lrows.sort_values("ts").reset_index(drop=True)
        rrows_s = rrows.sort_values("ts").reset_index(drop=True)
        cuts = [(0, 20), (20, 40), (40, 61)]
        for lo, hi in cuts:
            lpart = lrows_s[(lrows_s.ts >= T0 + lo * SEC)
                            & (lrows_s.ts < T0 + hi * SEC)]
            rpart = rrows_s[(rrows_s.ts >= T0 + lo * SEC)
                            & (rrows_s.ts < T0 + hi * SEC)]
            lfeed.push(spark.createDataFrame(lpart, schema=l_schema))
            rfeed.push(spark.createDataFrame(rpart, schema=r_schema))
            run()
        lfeed.push(spark.createDataFrame(closer, schema=l_schema))
        run()

        got = sink.read_committed(spark).toPandas()
        got = got[got.key != "zz"]
        stream_rows = sorted(
            (json.loads(l)["pid"],
             json.loads(r)["cid"] if isinstance(r, str) else None)
            for l, r in zip(got.left_json, got.right_json)
        )

        batch = as_of_join(
            spark.createDataFrame(lrows, schema=l_schema),
            spark.createDataFrame(rrows, schema=r_schema),
            keys=["user"], left_ts="ts", right_ts="ts",
            horizon=timedelta(seconds=15), tiebreakers=["cid"],
        ).toPandas()
        matched = dict(zip(batch.l_pid, batch.r_cid))
        batch_rows = sorted(
            (pid, int(matched[pid]) if pid in matched else None)
            for pid in lrows.pid
        )
        assert stream_rows == batch_rows

    def test_right_only_keys_are_reaped(self, spark, tmp_path):
        """A key that only ever receives RIGHT rows must not hold state
        forever: the always-re-armed timer reaps its buffer once the
        watermark passes oldest_right + horizon (code-review r03)."""
        from real_time_sliding_window_spark.streaming.asof import (
            as_of_stream_join,
        )

        l_schema = "user string, pid long, ts timestamp"
        r_schema = "user string, cid long, ts timestamp"
        lfeed = FileFeed(spark, str(tmp_path / "reap_l"))
        rfeed = FileFeed(spark, str(tmp_path / "reap_r"))
        sink = ExactlyOnceParquetSink(str(tmp_path / "reap_out"))
        ckpt = str(tmp_path / "reap_ckpt")

        def run():
            res = as_of_stream_join(
                lfeed.stream(l_schema), rfeed.stream(r_schema),
                keys=["user"], horizon=timedelta(seconds=10),
                watermark_delay=timedelta(seconds=0),
                left_payload=["pid"], right_payload=["cid"],
                right_tiebreaker="cid",
            )
            q = res.writeStream.foreachBatch(sink.foreach_batch()) \
                .outputMode("append").option("checkpointLocation", ckpt) \
                .trigger(availableNow=True).start()
            q.awaitTermination()
            return q

        # uA: rights only; uZ: one left that will emit
        rfeed.push(spark.createDataFrame(
            pd.DataFrame({"user": ["uA", "uA"], "cid": [1, 2],
                          "ts": [T0, T0 + 2 * SEC]}), schema=r_schema))
        lfeed.push(spark.createDataFrame(
            pd.DataFrame({"user": ["uZ"], "pid": [1], "ts": [T0 + 5 * SEC]}),
            schema=l_schema))
        run()
        # watermark far past uA's rights + horizon AND uZ's left
        lfeed.push(spark.createDataFrame(
            pd.DataFrame({"user": ["zz"], "pid": [9], "ts": [T0 + 300 * SEC]}),
            schema=l_schema))
        run()
        # one more empty-ish advance so timers fire with the new watermark
        lfeed.push(spark.createDataFrame(
            pd.DataFrame({"user": ["zz2"], "pid": [10],
                          "ts": [T0 + 600 * SEC]}), schema=l_schema))
        q = run()
        # summed over every state operator, so a plan with more than one
        # cannot pass on an empty first operator alone
        n_state = sum(op["numRowsTotal"]
                      for op in q.lastProgress["stateOperators"])
        # only the final closer key may still be pending; uA (right-only)
        # and uZ (emitted) must be gone
        assert n_state <= 1, f"state not reaped: {n_state} keys remain"

    def test_null_tiebreaker_loses_ties_matching_batch(self, spark, tmp_path):
        """ADVICE r03: a NULL right_tiebreaker became NaN in the float64
        tiebreak array, and np.lexsort sorts NaN LAST — the null right
        used to WIN ties at equal ts. The batch rule is desc-nulls-last
        (null = weakest), so both rights at ts=7 must resolve to the
        numeric cid, not the null one."""
        import json

        from real_time_sliding_window_spark.operators.joins import as_of_join
        from real_time_sliding_window_spark.streaming.asof import (
            as_of_stream_join,
        )

        l_schema = "user string, pid long, ts timestamp"
        r_schema = "user string, cid long, tb double, ts timestamp"
        lrows = pd.DataFrame({
            "user": ["u1"], "pid": [100], "ts": [T0 + 10 * SEC],
        })
        # two rights at the SAME ts: tb NULL vs tb 5.0 — 5.0 must win
        rrows = pd.DataFrame({
            "user": ["u1", "u1"],
            "cid": [1, 2],
            "tb": [None, 5.0],
            "ts": [T0 + 7 * SEC, T0 + 7 * SEC],
        })
        closer = pd.DataFrame(
            {"user": ["zz"], "pid": [999], "ts": [T0 + 120 * SEC]}
        )

        lfeed = FileFeed(spark, str(tmp_path / "ntb_l"))
        rfeed = FileFeed(spark, str(tmp_path / "ntb_r"))
        sink = ExactlyOnceParquetSink(str(tmp_path / "ntb_out"))
        ckpt = str(tmp_path / "ntb_ckpt")

        def run():
            res = as_of_stream_join(
                lfeed.stream(l_schema), rfeed.stream(r_schema),
                keys=["user"], horizon=timedelta(seconds=20),
                watermark_delay=timedelta(seconds=0),
                left_payload=["pid"], right_payload=["cid"],
                right_tiebreaker="tb",
            )
            run_to_sink(res, sink, ckpt, query_name="ntbasof")

        rfeed.push(spark.createDataFrame(rrows, schema=r_schema))
        lfeed.push(spark.createDataFrame(lrows, schema=l_schema))
        run()
        lfeed.push(spark.createDataFrame(closer, schema=l_schema))
        run()

        got = sink.read_committed(spark).toPandas()
        got = got[~got.key.str.contains("zz")]
        assert len(got) == 1
        assert json.loads(got.right_json.iloc[0])["cid"] == 2

        batch = as_of_join(
            spark.createDataFrame(lrows, schema=l_schema),
            spark.createDataFrame(rrows, schema=r_schema),
            keys=["user"], left_ts="ts", right_ts="ts",
            horizon=timedelta(seconds=20), tiebreakers=["tb"],
        ).toPandas()
        assert int(batch.r_cid.iloc[0]) == 2


class TestCepStream:
    """streaming/cep.py — transition pairs and the conversion funnel:
    watermark-final append emission gated against the batch twins."""

    def _push_contiguous(self, spark, feed, events: pd.DataFrame, n_batches):
        """Split a random event set into contiguous time ranges (shuffled
        WITHIN each batch — cross-batch order is what the watermark
        guarantees; intra-batch disorder is the operator's job)."""
        ev = events.sort_values("ts", kind="stable").reset_index(drop=True)
        cuts = np.array_split(np.arange(len(ev)), n_batches)
        rng = np.random.default_rng(7)
        out = []
        for idx in cuts:
            b = ev.iloc[idx].sample(frac=1.0, random_state=int(rng.integers(1e9)))
            out.append(b)
        schema = "key string, event_id long, event_type string, ts timestamp"
        for b in out:
            feed.push(spark.createDataFrame(b, schema=schema))
        return schema

    def _random_events(self, n=240, n_keys=6, seed=11):
        rng = np.random.default_rng(seed)
        return pd.DataFrame(
            {
                "key": [f"k{rng.integers(n_keys)}" for _ in range(n)],
                "event_id": range(n),
                "event_type": rng.choice(
                    ["click", "error", "view"], size=n
                ),
                # integer-second offsets WITH collisions (ties exercise
                # the (ts, seq) stable order)
                "ts": [T0 + int(s) * SEC for s in rng.integers(0, 120, n)],
            }
        )

    def test_transitions_match_batch_lead_randomized(self, spark, tmp_path):
        from real_time_sliding_window_spark.streaming.cep import (
            transitions_stream,
        )

        events = self._random_events()
        feed = FileFeed(spark, str(tmp_path / "tr_in"))
        sink = ExactlyOnceParquetSink(str(tmp_path / "tr_out"))
        ckpt = str(tmp_path / "tr_ckpt")
        schema = self._push_contiguous(spark, feed, events, 3)

        def run():
            res = transitions_stream(
                feed.stream(schema), "key", "event_type",
                seq_col="event_id",
                watermark_delay=timedelta(seconds=1),
            )
            run_to_sink(res, sink, ckpt, query_name="cep-transitions")

        run()
        closer = pd.DataFrame(
            {"key": ["zz"], "event_id": [10**6], "event_type": ["view"],
             "ts": [T0 + 10_000 * SEC]}
        )
        feed.push(spark.createDataFrame(closer, schema=schema))
        run()

        got = sink.read_committed(spark).toPandas()
        got = got[got.key != "zz"]
        static = spark.createDataFrame(events, schema=schema)
        from pyspark.sql.window import Window

        w = Window.partitionBy("key").orderBy("ts", "event_id")
        exp = (
            static.select(
                "key",
                F.col("event_type").alias("from_type"),
                F.lead("event_type").over(w).alias("to_type"),
                F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias(
                    "from_us"
                ),
                F.lead(
                    F.unix_micros(F.col("ts").cast("timestamp_ltz"))
                ).over(w).alias("to_us"),
            )
            .filter(F.col("to_type").isNotNull())
            .toPandas()
        )
        key = ["key", "from_type", "to_type", "from_us", "to_us"]
        g = got[key].sort_values(key).reset_index(drop=True)
        e = exp[key].sort_values(key).reset_index(drop=True)
        pd.testing.assert_frame_equal(g, e)

    def test_transitions_bridge_and_idle_reap(self, spark, tmp_path):
        """Cross-batch pairs ride the bridge; with max_idle the bridge is
        reaped, so a long-idle key starts a FRESH chain (no pair spanning
        the gap) — the documented divergence from batch lead()."""
        from real_time_sliding_window_spark.streaming.cep import (
            transitions_stream,
        )

        schema = "key string, event_id long, event_type string, ts timestamp"
        b1 = pd.DataFrame(
            {"key": ["a", "a"], "event_id": [0, 1],
             "event_type": ["click", "view"],
             "ts": [T0, T0 + 5 * SEC]}
        )
        b2 = pd.DataFrame(  # 500 s after b1 — far past max_idle=60s
            {"key": ["a", "zz"], "event_id": [2, 99],
             "event_type": ["error", "view"],
             "ts": [T0 + 500 * SEC, T0 + 505 * SEC]}
        )
        closer = pd.DataFrame(
            {"key": ["zz"], "event_id": [100], "event_type": ["view"],
             "ts": [T0 + 5000 * SEC]}
        )

        for max_idle, expect_gap_pair in (
            (None, True),
            (timedelta(seconds=60), False),
        ):
            tag = "noidle" if max_idle is None else "idle"
            feed = FileFeed(spark, str(tmp_path / f"br_in_{tag}"))
            sink = ExactlyOnceParquetSink(str(tmp_path / f"br_out_{tag}"))
            ckpt = str(tmp_path / f"br_ckpt_{tag}")

            def run():
                res = transitions_stream(
                    feed.stream(schema), "key", "event_type",
                    seq_col="event_id",
                    watermark_delay=timedelta(seconds=1),
                    max_idle=max_idle,
                )
                run_to_sink(res, sink, ckpt, query_name=f"cep-br-{tag}")

            for push in (b1, b2):
                feed.push(spark.createDataFrame(push, schema=schema))
                run()
            feed.push(spark.createDataFrame(closer, schema=schema))
            run()

            got = sink.read_committed(spark).toPandas()
            got = got[got.key == "a"]
            pairs = set(
                zip(got.from_type, got.to_type)
            )
            assert ("click", "view") in pairs  # within-batch pair always
            assert (("view", "error") in pairs) == expect_gap_pair

    def test_funnel_matches_batch_with_wide_window(self, spark, tmp_path):
        from real_time_sliding_window_spark.streaming.cep import (
            funnel_stream,
        )

        events = self._random_events(seed=23)
        feed = FileFeed(spark, str(tmp_path / "fn_in"))
        sink = ExactlyOnceParquetSink(str(tmp_path / "fn_out"))
        ckpt = str(tmp_path / "fn_ckpt")
        schema = self._push_contiguous(spark, feed, events, 3)

        def run():
            res = funnel_stream(
                feed.stream(schema), "key", "event_type",
                first_type="click", then_type="error",
                window=timedelta(days=1),
                seq_col="event_id",
                watermark_delay=timedelta(seconds=1),
            )
            run_to_sink(res, sink, ckpt, query_name="cep-funnel")

        run()
        # closer far enough to shut every key's 1-day window
        closer = pd.DataFrame(
            {"key": ["zz"], "event_id": [10**6], "event_type": ["view"],
             "ts": [T0 + timedelta(days=3)]}
        )
        feed.push(spark.createDataFrame(closer, schema=schema))
        run()

        got = sink.read_committed(spark).toPandas()
        got = got[got.key != "zz"].set_index("key")

        # batch twin of the unbounded funnel (window >> span)
        static = events
        exp = {}
        us = static.ts.map(
            lambda t: int(pd.Timestamp(t).value // 1000)
        )
        static = static.assign(us=us)
        for k, grp in static.groupby("key"):
            clicks = grp[grp.event_type == "click"]
            if clicks.empty:
                continue
            fc = int(clicks.us.min())
            errs = grp[(grp.event_type == "error") & (grp.us > fc)]
            exp[k] = (fc, int(errs.us.min()) if len(errs) else None)
        assert set(got.index) == set(exp)
        for k, (fc, fe) in exp.items():
            assert got.loc[k, "first_us"] == fc
            if fe is None:
                assert pd.isna(got.loc[k, "then_us"])
            else:
                assert got.loc[k, "then_us"] == fe
                assert got.loc[k, "latency_us"] == fe - fc

    def test_funnel_window_and_once_semantics(self, spark, tmp_path):
        """Conversion outside the window -> null; at exactly
        first+window -> counts; at ts == first -> excluded (strict);
        each key emits exactly once and leaves state."""
        from real_time_sliding_window_spark.streaming.cep import (
            funnel_stream,
        )

        schema = "key string, event_id long, event_type string, ts timestamp"
        rows = pd.DataFrame(
            {
                "key": ["in_w", "in_w", "edge", "edge", "late", "late",
                        "same", "same"],
                "event_id": range(8),
                "event_type": ["click", "error"] * 4,
                "ts": [
                    T0, T0 + 5 * SEC,            # inside window
                    T0, T0 + 30 * SEC,           # exactly first+window
                    T0, T0 + 31 * SEC,           # one past the window
                    T0, T0,                      # error AT the click ts
                ],
            }
        )
        closer = pd.DataFrame(
            {"key": ["zz"], "event_id": [99], "event_type": ["view"],
             "ts": [T0 + 5000 * SEC]}
        )
        feed = FileFeed(spark, str(tmp_path / "fw_in"))
        sink = ExactlyOnceParquetSink(str(tmp_path / "fw_out"))
        ckpt = str(tmp_path / "fw_ckpt")

        def run():
            res = funnel_stream(
                feed.stream(schema), "key", "event_type",
                first_type="click", then_type="error",
                window=timedelta(seconds=30),
                seq_col="event_id",
                watermark_delay=timedelta(seconds=1),
            )
            run_to_sink(res, sink, ckpt, query_name="cep-fwin")

        feed.push(spark.createDataFrame(rows, schema=schema))
        run()
        feed.push(spark.createDataFrame(closer, schema=schema))
        run()
        n_after_close = sink.read_committed(spark).count()
        # extra drain with a fresh closer: no re-emission (state removed)
        feed.push(spark.createDataFrame(
            closer.assign(event_id=[100], ts=[T0 + 6000 * SEC]),
            schema=schema))
        run()
        assert sink.read_committed(spark).count() == n_after_close

        got = sink.read_committed(spark).toPandas().set_index("key")
        t0us = int(pd.Timestamp(T0).value // 1000)
        assert got.loc["in_w", "then_us"] == t0us + 5_000_000
        assert got.loc["edge", "then_us"] == t0us + 30_000_000
        assert pd.isna(got.loc["late", "then_us"])
        assert pd.isna(got.loc["same", "then_us"])


class TestSequenceFunnelStream:
    """streaming/cep.py::sequence_funnel_stream — randomized parity vs
    the batch operator, early-emit on full match, one-shot per key."""

    def test_matches_batch_operator_randomized(self, spark, tmp_path):
        from real_time_sliding_window_spark.operators.funnel import (
            sequence_funnel,
        )
        from real_time_sliding_window_spark.streaming.cep import (
            sequence_funnel_stream,
        )

        rng = np.random.default_rng(41)
        n = 300
        events = pd.DataFrame(
            {
                "key": [f"k{rng.integers(10)}" for _ in range(n)],
                "event_id": range(n),
                "event_type": rng.choice(
                    ["click", "view", "purchase"], size=n,
                    p=[0.5, 0.35, 0.15],
                ),
                "ts": [T0 + int(s) * SEC for s in rng.integers(0, 100, n)],
            }
        )
        schema = "key string, event_id long, event_type string, ts timestamp"
        stages = ["click", "view", "purchase"]
        window = timedelta(seconds=40)

        feed = FileFeed(spark, str(tmp_path / "sq_in"))
        sink = ExactlyOnceParquetSink(str(tmp_path / "sq_out"))
        ckpt = str(tmp_path / "sq_ckpt")
        ev = events.sort_values("ts", kind="stable").reset_index(drop=True)
        for idx in np.array_split(np.arange(n), 3):
            b = ev.iloc[idx].sample(frac=1.0, random_state=5)
            feed.push(spark.createDataFrame(b, schema=schema))

        def run():
            res = sequence_funnel_stream(
                feed.stream(schema), "key", "event_type", stages, window,
                seq_col="event_id",
                watermark_delay=timedelta(seconds=1),
            )
            run_to_sink(res, sink, ckpt, query_name="cep-seq")

        run()
        closer = pd.DataFrame(
            {"key": ["zz"], "event_id": [10**6], "event_type": ["view"],
             "ts": [T0 + 100_000 * SEC]}
        )
        feed.push(spark.createDataFrame(closer, schema=schema))
        run()

        got = sink.read_committed(spark).toPandas()
        got = got[got.key != "zz"]
        # stream emits ROUNDS; round 1 (earliest stage-1 ts per key) is
        # the batch operator's chain
        got["s1"] = got.stage_us.map(lambda a: a[0])
        first = got.sort_values("s1").groupby("key").first()

        static = spark.createDataFrame(events, schema=schema).select(
            "key",
            F.col("event_id").alias("seq"),
            "event_type",
            F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("us"),
        )
        exp = sequence_funnel(
            static, "key", "event_type", stages,
            int(window.total_seconds() * 1_000_000),
        ).toPandas().set_index("key")

        assert set(first.index) == set(exp.index)
        for k in exp.index:
            chain = [
                int(exp.loc[k, f"stage_{i + 1}_us"])
                for i in range(3)
                if not pd.isna(exp.loc[k, f"stage_{i + 1}_us"])
            ]
            assert list(first.loc[k, "stage_us"]) == chain, k
            assert first.loc[k, "stages_reached"] == len(chain)
        # later rounds never start before the previous closes (equality
        # allowed: after a FULL match, a same-us later-seq stage-1 event
        # may open the next round — stage 1 has no strict-> constraint)
        for k, grp in got.groupby("key"):
            chains = sorted(grp.stage_us, key=lambda a: a[0])
            for a, b in zip(chains, chains[1:]):
                assert b[0] >= a[-1]

    def test_full_match_emits_early_and_once(self, spark, tmp_path):
        """A completed chain emits as soon as its events are final —
        BEFORE the stage-1 window closes — and never re-emits."""
        from real_time_sliding_window_spark.streaming.cep import (
            sequence_funnel_stream,
        )

        schema = "key string, event_id long, event_type string, ts timestamp"
        b1 = pd.DataFrame(
            {
                "key": ["a", "a", "a", "mover"],
                "event_id": [0, 1, 2, 3],
                "event_type": ["click", "view", "purchase", "view"],
                "ts": [T0, T0 + 2 * SEC, T0 + 4 * SEC, T0 + 30 * SEC],
            }
        )
        feed = FileFeed(spark, str(tmp_path / "se_in"))
        sink = ExactlyOnceParquetSink(str(tmp_path / "se_out"))
        ckpt = str(tmp_path / "se_ckpt")

        def run():
            res = sequence_funnel_stream(
                feed.stream(schema), "key", "event_type",
                ["click", "view", "purchase"],
                window=timedelta(days=365),  # window NEVER closes in-test
                seq_col="event_id",
                watermark_delay=timedelta(seconds=1),
            )
            run_to_sink(res, sink, ckpt, query_name="cep-early")

        feed.push(spark.createDataFrame(b1, schema=schema))
        run()
        # the mover row put the watermark past a's chain: full match out
        got = sink.read_committed(spark).toPandas()
        got = got[got.key == "a"]
        assert len(got) == 1 and got.iloc[0].stages_reached == 3

        # more a-events later: no second emission (state was removed)
        b2 = pd.DataFrame(
            {"key": ["a", "zz"], "event_id": [10, 11],
             "event_type": ["click", "view"],
             "ts": [T0 + 60 * SEC, T0 + 120 * SEC]}
        )
        feed.push(spark.createDataFrame(b2, schema=schema))
        run()
        closer = pd.DataFrame(
            {"key": ["zz"], "event_id": [12], "event_type": ["view"],
             "ts": [T0 + timedelta(days=400)]}
        )
        feed.push(spark.createDataFrame(closer, schema=schema))
        run()
        got = sink.read_committed(spark).toPandas()
        a_rows = got[got.key == "a"]
        # the original chain emitted once; the post-removal click@60s
        # starts a FRESH one-shot funnel that later emits stage-1-only
        assert len(a_rows) == 2
        assert sorted(a_rows.stages_reached) == [1, 3]


class TestFunnelTombstone:
    """Review fix: a key that emitted its funnel row must NEVER emit
    again — even when new first_type events arrive afterwards — so the
    output cannot depend on how events were batched into triggers."""

    def test_no_restart_after_emission(self, spark, tmp_path):
        from real_time_sliding_window_spark.streaming.cep import (
            funnel_stream,
        )

        schema = "key string, event_id long, event_type string, ts timestamp"
        b1 = pd.DataFrame(
            {"key": ["a", "zz"], "event_id": [0, 1],
             "event_type": ["click", "view"],
             "ts": [T0, T0 + 60 * SEC]}
        )
        # a second click for 'a' long after its window closed
        b2 = pd.DataFrame(
            {"key": ["a", "zz"], "event_id": [2, 3],
             "event_type": ["click", "view"],
             "ts": [T0 + 300 * SEC, T0 + 600 * SEC]}
        )
        feed = FileFeed(spark, str(tmp_path / "tomb_in"))
        sink = ExactlyOnceParquetSink(str(tmp_path / "tomb_out"))
        ckpt = str(tmp_path / "tomb_ckpt")

        def run():
            res = funnel_stream(
                feed.stream(schema), "key", "event_type",
                first_type="click", then_type="error",
                window=timedelta(seconds=30),
                seq_col="event_id",
                watermark_delay=timedelta(seconds=1),
            )
            run_to_sink(res, sink, ckpt, query_name="cep-tomb")

        feed.push(spark.createDataFrame(b1, schema=schema))
        run()  # watermark 59s: a's window (30s) closed -> row emitted
        got = sink.read_committed(spark).toPandas()
        assert len(got[got.key == "a"]) == 1
        feed.push(spark.createDataFrame(b2, schema=schema))
        run()  # the new click must hit the tombstone, not restart
        got = sink.read_committed(spark).toPandas()
        assert len(got[got.key == "a"]) == 1


class TestSlicedSlidingStream:
    """pipeline.sliced_sliding_stream — chained stateful aggs: drained
    output equals the batch native sliding operator row-for-row."""

    def test_equals_batch_native(self, spark, tmp_path):
        from real_time_sliding_window_spark.operators.windows import (
            windowed_agg,
        )
        from real_time_sliding_window_spark.streaming.pipeline import (
            sliced_sliding_stream,
        )

        rng = np.random.default_rng(83)
        n = 2000
        events = pd.DataFrame(
            {
                "user_id": rng.integers(0, 20, n),
                "v": rng.integers(0, 100, n),
                "ts": [T0 + int(s) * SEC for s in rng.integers(0, 7200, n)],
            }
        )
        schema = "user_id long, v long, ts timestamp"
        feed = FileFeed(spark, str(tmp_path / "sls_in"))
        sink = ExactlyOnceParquetSink(str(tmp_path / "sls_out"))
        ckpt = str(tmp_path / "sls_ckpt")
        ev = events.sort_values("ts", kind="stable").reset_index(drop=True)
        for idx in np.array_split(np.arange(n), 3):
            feed.push(spark.createDataFrame(ev.iloc[idx], schema=schema))
        closer = pd.DataFrame(
            {"user_id": [99], "v": [0],
             "ts": [T0 + timedelta(days=2)]}
        )
        feed.push(spark.createDataFrame(closer, schema=schema))

        def run():
            res = sliced_sliding_stream(
                feed.stream(schema), "ts",
                timedelta(minutes=60), timedelta(minutes=15),
                sum_exprs={"sum_v": F.col("v")},
                watermark_delay="1 second",
            )
            run_to_sink(res, sink, ckpt, query_name="sls")

        run()
        got = sink.read_committed(spark).toPandas()
        batch = windowed_agg(
            spark.createDataFrame(events, schema=schema),
            "ts", timedelta(minutes=60), slide=timedelta(minutes=15),
            extra_aggs=[F.sum("v").alias("sum_v")],
        ).toPandas()
        # drop the closer's windows from the batch side? the closer row
        # is NOT in the batch input, and its own windows never finalize
        # in the stream (watermark stops at its ts) — both sides cover
        # exactly the 2000 real events
        cols = ["window_start", "n_rows", "first_ts", "last_ts", "sum_v"]
        g = got[cols].sort_values("window_start").reset_index(drop=True)
        b = batch[cols].sort_values("window_start").reset_index(drop=True)
        pd.testing.assert_frame_equal(g, b)

    def test_validation(self, spark, tmp_path):
        from real_time_sliding_window_spark.streaming.pipeline import (
            sliced_sliding_stream,
        )

        feed = FileFeed(spark, str(tmp_path / "slsv_in"))
        schema = "user_id long, v long, ts timestamp"
        with pytest.raises(ValueError, match="integer multiple"):
            sliced_sliding_stream(
                feed.stream(schema), "ts",
                timedelta(minutes=45), timedelta(minutes=10),
            )


class TestRunsStream:
    """streaming/cep.py::runs_stream — closed runs equal the batch
    islands computation minus each key's open tail run."""

    def test_matches_batch_islands_randomized(self, spark, tmp_path):
        from real_time_sliding_window_spark.streaming.cep import runs_stream

        rng = np.random.default_rng(97)
        n = 300
        events = pd.DataFrame(
            {
                "key": [f"k{rng.integers(8)}" for _ in range(n)],
                "event_id": range(n),
                "event_type": rng.choice(["a", "b"], size=n, p=[0.7, 0.3]),
                "ts": [T0 + int(s) * SEC for s in rng.integers(0, 120, n)],
            }
        )
        schema = "key string, event_id long, event_type string, ts timestamp"
        feed = FileFeed(spark, str(tmp_path / "rs_in"))
        sink = ExactlyOnceParquetSink(str(tmp_path / "rs_out"))
        ckpt = str(tmp_path / "rs_ckpt")
        ev = events.sort_values("ts", kind="stable").reset_index(drop=True)
        for idx in np.array_split(np.arange(n), 3):
            feed.push(spark.createDataFrame(
                ev.iloc[idx].sample(frac=1.0, random_state=3), schema=schema
            ))
        feed.push(spark.createDataFrame(
            pd.DataFrame({"key": ["zz"], "event_id": [10**6],
                          "event_type": ["a"],
                          "ts": [T0 + 10_000 * SEC]}),
            schema=schema,
        ))

        def run():
            res = runs_stream(
                feed.stream(schema), "key", "event_type",
                seq_col="event_id",
                watermark_delay=timedelta(seconds=1),
            )
            run_to_sink(res, sink, ckpt, query_name="runs")

        run()
        got = sink.read_committed(spark).toPandas()
        got = got[got.key != "zz"]

        # batch islands reference (pandas): maximal runs per key in
        # (ts, event_id) order; the stream emits all but the tail run
        exp_closed = []
        us = events.ts.map(lambda t: int(pd.Timestamp(t).value // 1000))
        static = events.assign(us=us).sort_values(
            ["key", "us", "event_id"], kind="stable"
        )
        for k, g in static.groupby("key"):
            runs = []
            cur = None
            for _, row in g.iterrows():
                if cur is not None and row.event_type == cur[0]:
                    cur[1] += 1
                    cur[3] = row.us
                else:
                    if cur is not None:
                        runs.append(cur)
                    cur = [row.event_type, 1, row.us, row.us]
            runs.append(cur)
            for r in runs[:-1]:  # tail run stays open in the stream
                exp_closed.append((k, r[0], r[1], r[2], r[3]))
        key = ["key", "run_type", "run_len", "start_us", "end_us"]
        g = got[key].sort_values(key).reset_index(drop=True)
        e = pd.DataFrame(exp_closed, columns=key).sort_values(
            key
        ).reset_index(drop=True)
        pd.testing.assert_frame_equal(g, e)

    def test_max_idle_splits_and_closes(self, spark, tmp_path):
        from real_time_sliding_window_spark.streaming.cep import runs_stream

        schema = "key string, event_id long, event_type string, ts timestamp"
        rows = pd.DataFrame(
            {
                "key": ["a"] * 3 + ["zz"],
                "event_id": range(4),
                "event_type": ["x", "x", "x", "x"],
                # gap of 200 s inside an all-x run -> split at the gap
                "ts": [T0, T0 + 5 * SEC, T0 + 205 * SEC,
                       T0 + 1000 * SEC],
            }
        )
        feed = FileFeed(spark, str(tmp_path / "ri_in"))
        sink = ExactlyOnceParquetSink(str(tmp_path / "ri_out"))
        ckpt = str(tmp_path / "ri_ckpt")

        def run():
            res = runs_stream(
                feed.stream(schema), "key", "event_type",
                seq_col="event_id",
                watermark_delay=timedelta(seconds=1),
                max_idle=timedelta(seconds=60),
            )
            run_to_sink(res, sink, ckpt, query_name="runs-idle")

        feed.push(spark.createDataFrame(rows, schema=schema))
        run()
        got = sink.read_committed(spark).toPandas()
        a = got[got.key == "a"].sort_values("start_us")
        # the 200 s gap split the run; the idle rule also closed the
        # second run (wm 999 s >> 205+60)
        assert list(a.run_len) == [2, 1]
        assert list(a.end_us)[0] < list(a.start_us)[1]
