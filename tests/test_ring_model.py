"""Model-based property test for the ring-buffer state function.

Drives ``make_ring_buffer_fn`` directly (no Spark) with a fake GroupState
against a straightforward Python reference model, over Hypothesis-generated
multi-batch delivery schedules with duplicates and out-of-order arrivals.
Invariants checked per batch and at the end:

- buffer always sorted by (ts, turn_idx), never exceeds max_data;
- set semantics: a (conv_id, turn_idx) identity is ADDed exactly once,
  redeliveries emit DUP;
- age eviction removes exactly the rows with ts < watermark − max_duration,
  capacity eviction removes oldest-first;
- every input row is accounted for: ADD + DUP == delivered rows;
- EVICT rows appear in eviction order (oldest first).

A second property puts several conversations in one state, as a state
bucket holds them, and checks each against a per-conversation model with
its own timer: same rows in the same order, same surviving buffer.

This is the pytest analogue of the reference's reflection-based state
inspection (TestReflection.kt:21-30) — but against a model, not examples.
"""

from __future__ import annotations

import pickle
import struct
from datetime import timedelta

import numpy as np
import pandas as pd
import pytest

from hypothesis import given, settings, strategies as st

from real_time_sliding_window_spark.operators.stateful import (
    make_ring_buffer_fn,
    state_columns,
)

US = 1_000_000


class FakeState:
    """Minimal stand-in for pyspark GroupState (the subset the fn uses)."""

    def __init__(self, watermark_ms: int):
        self._value = None
        self._wm_ms = watermark_ms
        self.hasTimedOut = False
        self.timeout_set = None

    @property
    def exists(self):
        return self._value is not None

    @property
    def get(self):
        assert self._value is not None
        return self._value

    def update(self, v):
        self._value = v

    def remove(self):
        self._value = None

    def getCurrentWatermarkMs(self):
        return self._wm_ms

    def setTimeoutTimestamp(self, ms):
        self.timeout_set = ms


def batch_df(turns):
    """turns: list of (turn_idx, ts_us). role/text/tool derived."""
    return pd.DataFrame(
        {
            "conv_id": "c1",
            "turn_idx": np.array([t for t, _ in turns], dtype=np.int32),
            "role": "user",
            "text": [f"t{t}" for t, _ in turns],
            "tool": None,
            "ts": pd.to_datetime([us for _, us in turns], unit="us"),
        }
    )


@st.composite
def schedules(draw):
    """A multi-batch delivery schedule of (turn_idx, ts) with dups/ooo."""
    n_turns = draw(st.integers(2, 24))
    # each turn's event time: seconds, may collide (same-ts ordering path)
    ts_s = [draw(st.integers(0, 30)) for _ in range(n_turns)]
    deliveries = list(range(n_turns)) + draw(
        st.lists(st.integers(0, n_turns - 1), max_size=8)  # redeliveries
    )
    deliveries = draw(st.permutations(deliveries))
    n_batches = draw(st.integers(1, 4))
    cuts = sorted(
        draw(
            st.lists(
                st.integers(0, len(deliveries)),
                min_size=n_batches - 1,
                max_size=n_batches - 1,
            )
        )
    )
    batches = []
    lo = 0
    for c in cuts + [len(deliveries)]:
        batches.append(deliveries[lo:c])
        lo = c
    return ts_s, batches


@settings(max_examples=60, deadline=None)
@given(
    sched=schedules(),
    max_data=st.one_of(st.none(), st.integers(1, 8)),
    max_dur_s=st.one_of(st.none(), st.integers(1, 20)),
)
def test_ring_buffer_fn_matches_model(sched, max_data, max_dur_s):
    ts_s, batches = sched
    fn = make_ring_buffer_fn(
        timedelta(seconds=max_dur_s) if max_dur_s is not None else None,
        max_data,
    )

    state = FakeState(watermark_ms=0)
    model: list[tuple[int, int]] = []  # (ts_us, turn_idx), sorted
    n_add = n_dup = 0
    max_seen_ts = 0

    for batch in batches:
        if not batch:
            continue
        turns = [(t, ts_s[t] * US) for t in batch]
        max_seen_ts = max([max_seen_ts] + [us for _, us in turns])
        # watermark: max event time seen in PREVIOUS batches minus 5s
        wm_ms = max(0, (max_seen_ts - 5 * US) // 1000)
        state._wm_ms = wm_ms

        out = list(fn(("c1",), iter([batch_df(turns)]), state))
        out = pd.concat(out, ignore_index=True) if out else pd.DataFrame(
            columns=["action", "reason", "turn_idx", "ts"]
        )

        # ---- model update ----
        # Set semantics match the reference skip-list: dedup is against the
        # CURRENT buffer — an identity that was evicted can be re-added
        # (ingest idempotence is deduped_stream's job, upstream).
        adds = []
        dups = []
        current = {t for _, t in model}
        for t, us in sorted(turns, key=lambda x: (x[1], x[0])):
            if t in current:
                dups.append(t)
            else:
                current.add(t)
                adds.append((us, t))
        model = sorted(model + adds)
        evicted_age = []
        if max_dur_s is not None and wm_ms > 0:
            cutoff = wm_ms * 1000 - max_dur_s * US
            evicted_age = [e for e in model if e[0] < cutoff]
            model = [e for e in model if e[0] >= cutoff]
        evicted_cap = []
        if max_data is not None and len(model) > max_data:
            k = len(model) - max_data
            evicted_cap = model[:k]
            model = model[k:]

        # ---- compare ----
        got_add = out[out.action == "ADD"]
        got_dup = out[out.action == "DUP"]
        got_ev_age = out[(out.action == "EVICT") & (out.reason == "age")]
        got_ev_cap = out[(out.action == "EVICT") & (out.reason == "capacity")]
        assert sorted(got_add.turn_idx) == sorted(t for _, t in adds)
        assert sorted(got_dup.turn_idx) == sorted(dups)
        assert list(got_ev_age.turn_idx) == [t for _, t in evicted_age]
        assert list(got_ev_cap.turn_idx) == [t for _, t in evicted_cap]
        n_add += len(got_add)
        n_dup += len(got_dup)

        # state invariant: buffer == model, sorted by (ts, turn_idx)
        if model:
            assert state.exists
            s_ts, s_ti = state_columns(state.get)[:2]
            assert list(zip(s_ts, s_ti)) == model
            if max_data is not None:
                assert len(s_ts) <= max_data
        else:
            assert not state.exists

    delivered = sum(len(b) for b in batches)
    assert n_add + n_dup == delivered


def test_timeout_invocation_evicts_aged():
    """hasTimedOut path: age eviction fires with no new data."""
    fn = make_ring_buffer_fn(timedelta(seconds=5), None)
    state = FakeState(watermark_ms=0)
    # seed state via a normal batch
    list(fn(("c1",), iter([batch_df([(0, 0), (1, 2 * US)])]), state))
    assert state.exists
    # timeout: watermark far ahead => everything aged out
    state.hasTimedOut = True
    state._wm_ms = 60_000
    out = pd.concat(list(fn(("c1",), iter([]), state)), ignore_index=True)
    assert (out.action == "EVICT").all() and (out.reason == "age").all()
    assert list(out.turn_idx) == [0, 1]
    assert not state.exists


# ---------------------------------------------------------------------------
# Many conversations in one bucket's state
# ---------------------------------------------------------------------------


def multi_batch_df(turns):
    """turns: list of (conv_id, turn_idx, ts_us)."""
    return pd.DataFrame(
        {
            "conv_id": [c for c, _, _ in turns],
            "turn_idx": np.array([t for _, t, _ in turns], dtype=np.int32),
            "role": "user",
            "text": [f"{c}/{t}" for c, t, _ in turns],
            "tool": None,
            "ts": pd.to_datetime([us for _, _, us in turns], unit="us"),
        }
    )


class ConvModel:
    """One conversation's ring buffer, as plain Python: the per-key
    semantics the bucketed body must reproduce for every conversation."""

    def __init__(self, max_data, max_dur_us, gap_us):
        self.buf: list[tuple[int, int]] = []  # (ts_us, turn_idx), sorted
        self.max_data, self.max_dur_us, self.gap_us = max_data, max_dur_us, gap_us
        self.timer_ms = None

    def step(self, turns, wm_ms):
        """Process one call (``turns`` empty for a timer-only call); return
        the output rows (action, reason, turn_idx, ts_us, buffer_size)."""
        out = []
        if turns:
            current = {t for _, t in self.buf}
            size_before = len(self.buf)
            adds = []
            for us, t in sorted(turns):
                if t in current:
                    out.append(("DUP", None, t, us, size_before))
                else:
                    current.add(t)
                    adds.append((us, t))
            self.buf = sorted(self.buf + adds)
            out += [("ADD", None, t, us, len(self.buf)) for us, t in adds]
        wm_us = wm_ms * 1000
        if self.gap_us is not None and wm_us > 0 and self.buf:
            sessions: list[list] = []
            for e in self.buf:
                if sessions and e[0] - sessions[-1][-1][0] <= self.gap_us:
                    sessions[-1].append(e)
                else:
                    sessions.append([e])
            closed = [s for s in sessions if s[-1][0] + self.gap_us < wm_us]
            self.buf = [e for s in sessions[len(closed):] for e in s]
            for s in closed:
                out += [("EVICT", "session", t, us, len(self.buf)) for us, t in s]
                out.append(
                    ("SESSION_END", None, None, s[-1][0] + self.gap_us, len(s))
                )
        if self.max_dur_us is not None and wm_us > 0:
            cutoff = wm_us - self.max_dur_us
            aged = [e for e in self.buf if e[0] < cutoff]
            self.buf = [e for e in self.buf if e[0] >= cutoff]
            out += [("EVICT", "age", t, us, len(self.buf)) for us, t in aged]
        if self.max_data is not None and len(self.buf) > self.max_data:
            k = len(self.buf) - self.max_data
            out += [
                ("EVICT", "capacity", t, us, self.max_data)
                for us, t in self.buf[:k]
            ]
            self.buf = self.buf[k:]
        # per-conversation timer, re-armed on every call that keeps state
        wakes = []
        if self.buf and self.max_dur_us is not None:
            wakes.append(self.buf[0][0] + self.max_dur_us)
        if self.buf and self.gap_us is not None:
            first_end = self.buf[0][0]
            for us, _ in self.buf:
                if us - first_end > self.gap_us:
                    break
                first_end = us
            wakes.append(first_end + self.gap_us)
        self.timer_ms = max(min(wakes) // 1000, wm_ms + 1) if wakes else None
        return out


@st.composite
def bucket_schedules(draw):
    """2-5 conversations sharing one state: per-conversation turn times,
    a delivery order with redeliveries, cut into batches, then timer-only
    rounds; the watermark trails the max event time by a drawn delay."""
    n_convs = draw(st.integers(2, 5))
    ts_s = {
        f"c{i}": [draw(st.integers(0, 40)) for _ in range(draw(st.integers(1, 8)))]
        for i in range(n_convs)
    }
    deliveries = [(c, t) for c, times in ts_s.items() for t in range(len(times))]
    deliveries += draw(st.lists(st.sampled_from(deliveries), max_size=8))
    deliveries = draw(st.permutations(deliveries))
    n_batches = draw(st.integers(1, 5))
    cuts = sorted(
        draw(
            st.lists(
                st.integers(0, len(deliveries)),
                min_size=n_batches - 1,
                max_size=n_batches - 1,
            )
        )
    )
    batches = []
    lo = 0
    for c in cuts + [len(deliveries)]:
        batches.append(deliveries[lo:c])
        lo = c
    batches += [[]] * draw(st.integers(1, 3))  # timer-only rounds
    delays_s = draw(
        st.lists(st.integers(0, 8), min_size=len(batches), max_size=len(batches))
    )
    return ts_s, batches, delays_s


@settings(max_examples=80, deadline=None)
@given(
    sched=bucket_schedules(),
    max_data=st.one_of(st.none(), st.integers(1, 6)),
    max_dur_s=st.one_of(st.none(), st.integers(1, 20)),
    gap_s=st.one_of(st.none(), st.integers(1, 8)),
)
def test_bucket_of_conversations_matches_per_conversation_model(
    sched, max_data, max_dur_s, gap_s
):
    """One state holding several conversations behaves, conversation by
    conversation, like a per-conversation ring: same output rows in the
    same order (action, reason, turn_idx, ts, buffer_size), same surviving
    buffer, and the shared timer never wakes later than any of theirs."""
    ts_s, batches, delays_s = sched
    max_dur_us = max_dur_s * US if max_dur_s is not None else None
    gap_us = gap_s * US if gap_s is not None else None
    fn = make_ring_buffer_fn(
        timedelta(seconds=max_dur_s) if max_dur_s is not None else None,
        max_data,
        timedelta(seconds=gap_s) if gap_s is not None else None,
    )
    timed = max_dur_s is not None or gap_s is not None
    state = FakeState(watermark_ms=0)
    models = {c: ConvModel(max_data, max_dur_us, gap_us) for c in ts_s}
    wm_ms = max_seen = 0

    for batch, delay_s in zip(batches, delays_s):
        turns = [(c, t, ts_s[c][t] * US) for c, t in batch]
        max_seen = max([max_seen] + [us for _, _, us in turns])
        wm_ms = max(wm_ms, (max_seen - delay_s * US) // 1000)
        state._wm_ms = wm_ms

        # the reference: each conversation runs on its data or its timer
        want = {}
        for c, m in models.items():
            mine = [(us, t) for cc, t, us in turns if cc == c]
            if mine or (m.buf and m.timer_ms is not None and m.timer_ms < wm_ms):
                rows = m.step(mine, wm_ms)
                if rows:
                    want[c] = rows
        # the bucket: one call on data, else on the bucket's timer
        state.hasTimedOut = not turns
        if turns or (
            timed and state.exists and state.timeout_set is not None
            and state.timeout_set < wm_ms
        ):
            pdfs = iter([multi_batch_df(turns)] if turns else [])
            frames = list(fn((0,), pdfs, state))
        else:
            frames = []
        got: dict[str, list] = {}
        for f in frames:
            for r in f.itertuples(index=False):
                ti = None if pd.isna(r.turn_idx) else int(r.turn_idx)
                got.setdefault(r.conv_id, []).append(
                    (r.action, r.reason, ti, r.ts.value // 1000, int(r.buffer_size))
                )
        # one conversation's rows are contiguous in the output
        ids = [r.conv_id for f in frames for r in f.itertuples(index=False)]
        runs = [c for i, c in enumerate(ids) if i == 0 or c != ids[i - 1]]
        assert len(runs) == len(set(runs))
        assert got == want

        survivors = {}
        if state.exists:
            s_ts, s_ti, _, _, _, s_conv = state_columns(state.get)
            for us, t, c in zip(s_ts, s_ti, s_conv):
                survivors.setdefault(c, []).append((us, t))
        assert survivors == {c: m.buf for c, m in models.items() if m.buf}
        if timed and state.exists:
            assert state.timeout_set <= min(
                m.timer_ms for m in models.values() if m.buf
            )


def payload(tag, ts, ints, strs):
    """A ring state payload built by hand: layout tag, row count, int32
    column count, ts_us int64 bytes, the int32 columns' bytes, then the
    pickled string lists."""
    n = len(ts)
    return b"".join([
        struct.pack("<4sII", tag, n, len(ints)),
        np.asarray(ts, dtype="<i8").tobytes(),
        *(np.asarray(c, dtype="<i4").tobytes() for c in ints),
        pickle.dumps(tuple(strs), protocol=5),
    ])


def test_state_of_another_layout_is_refused():
    """A state row written under another RING_BUCKETS, by the sharded
    ring, or in another payload layout is refused, not read: its
    conversations would hash to buckets that do not hold them, or its
    columns would be misread."""
    from real_time_sliding_window_spark.operators.stateful import RING_BUCKETS

    fn = make_ring_buffer_fn(None, 4)
    state = FakeState(watermark_ms=0)
    list(fn((0,), iter([batch_df([(0, 0)])]), state))
    assert state.get[-1] == RING_BUCKETS
    written = state.get
    # the hand-built payload reads back as the ring's own
    ts, ti, *strs = state_columns(written)
    own = (payload(b"RNG1", ts, [ti], strs), RING_BUCKETS)
    assert written == own
    state.update((written[0], RING_BUCKETS // 4))
    with pytest.raises(ValueError, match="RING_BUCKETS"):
        list(fn((0,), iter([batch_df([(1, US)])]), state))
    # nor is the sharded ring's state (one more column) read as this one's
    state.update((payload(b"RNG1", ts, [ti, [0]], strs), RING_BUCKETS))
    with pytest.raises(ValueError, match="RING_BUCKETS"):
        list(fn((0,), iter([batch_df([(1, US)])]), state))
    # nor a payload of another layout under the same Spark state schema
    state.update((payload(b"RNG2", ts, [ti], strs), RING_BUCKETS))
    with pytest.raises(ValueError, match="RING_BUCKETS"):
        list(fn((0,), iter([batch_df([(1, US)])]), state))
