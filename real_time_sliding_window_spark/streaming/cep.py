"""Streaming CEP (complex-event-processing) operators — watermark-final
transition pairs, conversion-window funnels (2-stage and N-stage
rounds), and maximal-run (Kleene A+) emission via ``runs_stream``, whose
islands-minus-open-tail relation to the batch query is stated in its
docstring (r5).

The batch entry queries ``event_transitions`` and ``funnel_click_error``
answer turn-taking questions AFTER the fact; these are their streaming
twins — the pattern-detection surface Flink ships as CEP / temporal
pattern matching. All four run on ONE keyed event-time kernel
(``_tail_stream``): one shuffle on the key; per key, the unfinalized
events wait in the stable (ts, seq) order until the watermark passes
them, then the operator's ``step`` folds them into its few state fields
and emits watermark-FINAL append rows (no retractions). Every call that
keeps state re-arms the key's timer by the one rule of every stateful
operator (``operators.stateful.arm_timer``): each deadline is a
condition "watermark > X", and the timer wakes exactly when the earliest
one first holds, so idle keys still finalize.

``transitions_stream`` — emits every consecutive (from_type → to_type)
pair per key under the stable (ts, seq) order. A pair is emitted exactly
once, when the watermark passes its LATER event (at that point no event
can still arrive between the two — anything earlier is late and dropped
at the source). Pairs bridge micro-batches: the last finalized event is
kept as the bridge, so cross-batch pairs match the batch ``lead()``
exactly (pinned by randomized parity tests). State per key: the bridge
event + the unfinalized tail (watermark-horizon-bounded, the ring's
bound). ``max_idle`` is an EVENT-TIME session rule: pairs spanning a gap
larger than it are suppressed — by event time, never by arrival batching
— which is also what makes bridge REAPING sound (a bridge older than
``watermark − max_idle`` can never pair again: any future event sits at
``ts ≥ watermark``, so its gap already exceeds the rule). Without
``max_idle`` the semantics equal batch ``lead()`` (pairs across any gap)
and bridges live as long as the key.

``funnel_stream`` — per key, the first ``first_type`` event and the
first ``then_type`` event STRICTLY after it within a CONVERSION WINDOW.
The window is what makes streaming finality possible at all: with an
unbounded funnel (the batch query's semantics) a conversion can arrive
arbitrarily late and no append-mode row is ever final. A key's row
emits exactly once, when the watermark passes ``first + window`` (every
qualifying conversion is behind the watermark by then), and the key's
state collapses to a TOMBSTONE — one-shot means later ``first_type``
events must never restart the key, and a tombstone is the only way to
guarantee that independent of how events were batched into triggers
(an emitted-then-removed key would resurrect on its next event). State:
(pending tail + 2 longs) per un-emitted key, one tombstone row per
emitted key; rolling (restarting) funnels are ``sequence_funnel_stream``
rounds. Batch-equivalence: with ``window`` ≥ the stream's span the
emitted rows equal the batch funnel query exactly (the parity gate in
tests).
"""

from __future__ import annotations

from datetime import timedelta
from typing import Iterator, Sequence, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from real_time_sliding_window_spark.config import interval_str
from real_time_sliding_window_spark.operators.stateful import (
    arm_timer,
    batch_frame,
)

TRANSITIONS_OUTPUT_SCHEMA = StructType(
    [
        StructField("key", StringType(), False),
        StructField("from_type", StringType(), False),
        StructField("to_type", StringType(), False),
        StructField("from_us", LongType(), False),
        StructField("to_us", LongType(), False),
    ]
)

FUNNEL_OUTPUT_SCHEMA = StructType(
    [
        StructField("key", StringType(), False),
        StructField("first_us", LongType(), False),
        StructField("then_us", LongType(), True),
        StructField("latency_us", LongType(), True),
    ]
)

SEQUENCE_OUTPUT_SCHEMA = StructType(
    [
        StructField("key", StringType(), False),
        StructField("stage_us", ArrayType(LongType()), False),
        StructField("stages_reached", LongType(), False),
    ]
)

RUNS_OUTPUT_SCHEMA = StructType(
    [
        StructField("key", StringType(), False),
        StructField("run_type", StringType(), False),
        StructField("run_len", LongType(), False),
        StructField("start_us", LongType(), False),
        StructField("end_us", LongType(), False),
    ]
)

# each operator's own state fields, after the kernel's (us, seq, typ) tail
_TRANSITIONS_EXTRA = [
    StructField("bridge_us", LongType(), True),
    StructField("bridge_typ", StringType(), True),
]
_FUNNEL_EXTRA = [
    StructField("first_us", LongType(), True),
    StructField("then_us", LongType(), True),
]
_SEQUENCE_EXTRA = [StructField("matched", ArrayType(LongType()), True)]
_RUNS_EXTRA = [
    StructField("run_typ", StringType(), True),
    StructField("run_len", LongType(), True),
    StructField("run_start", LongType(), True),
    StructField("run_last", LongType(), True),
]


def _tail_body(step, n_extra: int):
    """The ``applyInPandasWithState`` body of every CEP operator: merge
    this call's rows into the key's tail, split off the events behind
    the watermark (a prefix in (ts, seq) order) and call
    ``step(f_us, f_typ, extra, wm_us, n_pending)`` with them, the
    operator's state fields ``extra`` (all None for a new key) and the
    number of events still pending. It returns ``(rows, extra, wakes_us)``:
    output columns without ``key`` (or None); the new state fields, or
    None when they hold nothing (the key leaves state once its tail is
    empty too); and the step's deadlines, each a condition "watermark µs
    > X" — or None to FINISH the key: its tail is dropped and ``extra``
    kept with no timer (the funnel's tombstone). The timer wakes at the
    earliest of the oldest pending event and those deadlines."""

    def fn(
        key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (k,) = key
        s = state.get if state.exists else ([], [], []) + (None,) * n_extra
        us = np.asarray(s[0], dtype=np.int64)
        seq = np.asarray(s[1], dtype=np.int64)
        typ = np.asarray(s[2], dtype=object)
        extra = tuple(s[3:])
        batch = None if state.hasTimedOut else batch_frame(pdfs)
        if batch is not None:
            b_us = batch["ts"].to_numpy(dtype="datetime64[us]").astype(np.int64)
            us = np.concatenate([us, b_us])
            seq = np.concatenate([seq, batch["seq"].to_numpy(dtype=np.int64)])
            typ = np.concatenate([typ, batch["typ"].to_numpy(dtype=object)])

        wm_us = state.getCurrentWatermarkMs() * 1000
        order = np.lexsort((seq, us))
        us, seq, typ = us[order], seq[order], typ[order]
        n = int(np.searchsorted(us, wm_us))  # events behind the watermark
        rows, extra, wakes_us = step(us[:n], typ[:n], extra, wm_us, len(us) - n)
        us, seq, typ = us[n:], seq[n:], typ[n:]
        if wakes_us is None:
            us, seq, typ, wakes_us = us[:0], seq[:0], typ[:0], []

        if extra is None and len(us) == 0:
            state.remove()
        else:
            state.update(
                (us.tolist(), seq.tolist(), typ.tolist(),
                 *(extra or (None,) * n_extra))
            )
            arm_timer(state, [us[0], *wakes_us] if len(us) else wakes_us)

        if rows is not None:
            yield pd.DataFrame({"key": k, **rows})

    return fn


def _tail_stream(
    stream: DataFrame, key_col: str, type_col: str, ts_col: str,
    seq_col: str, watermark_delay: timedelta, step,
    output_schema: StructType, extra_fields: list,
) -> DataFrame:
    """The one CEP wiring: watermark, the (key, ts, seq, typ)
    normalization and NULL-key filter, one shuffle on the key, and the
    state schema (the tail, then ``extra_fields``) — so the four
    operators cannot drift apart on key-null policy, seq handling or
    timers."""
    packed = (
        stream.withWatermark(ts_col, interval_str(watermark_delay))
        .select(
            F.col(key_col).cast("string").alias("key"),
            F.col(ts_col).alias("ts"),
            F.col(seq_col).cast("long").alias("seq"),
            F.col(type_col).cast("string").alias("typ"),
        )
        .filter(F.col("key").isNotNull())
    )
    state_schema = StructType(
        [
            StructField("us", ArrayType(LongType()), True),
            StructField("seq", ArrayType(LongType()), True),
            StructField("typ", ArrayType(StringType()), True),
            *extra_fields,
        ]
    )
    return packed.groupBy("key").applyInPandasWithState(
        _tail_body(step, len(extra_fields)),
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def _idle_us(max_idle: timedelta | None) -> int | None:
    """``max_idle`` in µs (None: no idle rule)."""
    if max_idle is None:
        return None
    if max_idle < timedelta(0):
        raise ValueError(f"max_idle must not be negative, got {max_idle}")
    return int(max_idle.total_seconds() * 1_000_000)


def _transitions_step(max_idle_us: int | None):
    def step(f_us, f_typ, extra, wm_us, n_pending):
        bridge_us, bridge_typ = extra
        rows = None
        if len(f_us):
            # chain: bridge (if any) -> finalized events, consecutive pairs
            if bridge_us is not None:
                f_us = np.concatenate([[bridge_us], f_us])
                f_typ = np.concatenate([[bridge_typ], f_typ])
            # EVENT-TIME session rule: a pair spanning a gap larger than
            # max_idle is suppressed regardless of which micro-batches
            # carried the two events — output must not depend on arrival
            # batching
            keep = np.diff(f_us) <= (
                max_idle_us if max_idle_us is not None else np.inf
            )
            if keep.any():
                rows = {
                    "from_type": f_typ[:-1][keep],
                    "to_type": f_typ[1:][keep],
                    "from_us": f_us[:-1][keep],
                    "to_us": f_us[1:][keep],
                }
            bridge_us, bridge_typ = int(f_us[-1]), f_typ[-1]

        if bridge_us is None:
            return rows, None, []
        if max_idle_us is None or n_pending:
            return rows, (bridge_us, bridge_typ), []
        if wm_us - bridge_us > max_idle_us:
            return rows, None, []  # idle-reaped: can never pair again
        # bridge-only key with an idle horizon: wake at reap time
        return rows, (bridge_us, bridge_typ), [bridge_us + max_idle_us]

    return step


def transitions_stream(
    stream: DataFrame,
    key_col: str,
    type_col: str,
    ts_col: str = "ts",
    seq_col: str = "event_id",
    watermark_delay: timedelta = timedelta(seconds=30),
    max_idle: timedelta | None = None,
) -> DataFrame:
    """Streaming transition pairs (module docstring). Output one row per
    consecutive (from → to) event pair per key, emitted exactly once
    when the later event is behind the watermark. ``seq_col`` breaks
    equal-timestamp ties (the reference's (ts, turn_idx) stable order);
    aggregate downstream for the transition matrix. A negative
    ``max_idle`` raises ``ValueError``."""
    step = _transitions_step(_idle_us(max_idle))
    return _tail_stream(
        stream, key_col, type_col, ts_col, seq_col, watermark_delay,
        step, TRANSITIONS_OUTPUT_SCHEMA, _TRANSITIONS_EXTRA,
    )


_FUNNEL_DONE = -1  # tombstone sentinel in the first_us state slot


def _funnel_step(first_type: str, then_type: str, window_us: int):
    def step(f_us, f_typ, extra, wm_us, n_pending):
        first_us, then_us = extra
        if first_us == _FUNNEL_DONE:
            # TOMBSTONE: this key already emitted its one row. Drain and
            # discard the batch — without this marker, events pending at
            # emission time (or arriving after) would restart the funnel,
            # making the output depend on how events were batched into
            # triggers. One-shot semantics on an unbounded stream costs
            # one tombstone row per emitted key, forever (state ∝ keys,
            # the transitions bridge bound); rolling funnels are
            # sequence_funnel_stream's job.
            return None, extra, None
        # fold finalized events in order into the (first, then) pair
        for u, t in zip(f_us.tolist(), f_typ):
            if t == first_type and (first_us is None or u < first_us):
                first_us = u
                # a NEW earlier first invalidates a conversion that is no
                # longer inside (first, first+window]... it cannot: events
                # fold in ts order, so first_us only decreases before any
                # conversion at higher ts is seen; window re-check below
                # keeps it honest anyway
                if then_us is not None and (
                    then_us <= first_us or then_us > first_us + window_us
                ):
                    then_us = None
            elif (
                t == then_type
                and first_us is not None
                and then_us is None
                and first_us < u <= first_us + window_us
            ):
                then_us = u

        if first_us is None:
            return None, None, []
        if wm_us > first_us + window_us:
            # window closed: no qualifying conversion can still arrive
            # (it would be <= first+window < wm — late, dropped at source)
            rows = {
                "first_us": [first_us],
                "then_us": [then_us],
                "latency_us": [
                    then_us - first_us if then_us is not None else None
                ],
            }
            # tombstone, never remove: see the tombstone branch above
            return rows, (_FUNNEL_DONE, None), None
        # wake when the funnel window closes (the kernel adds the oldest
        # pending event)
        return None, (first_us, then_us), [first_us + window_us]

    return step


def funnel_stream(
    stream: DataFrame,
    key_col: str,
    type_col: str,
    first_type: str,
    then_type: str,
    window: timedelta,
    ts_col: str = "ts",
    seq_col: str = "event_id",
    watermark_delay: timedelta = timedelta(seconds=30),
) -> DataFrame:
    """Streaming conversion funnel (module docstring). Emits ONE final
    row per key that ever saw ``first_type``: (key, first_us, then_us,
    latency_us) with nulls when no ``then_type`` landed strictly inside
    ``(first, first + window]``. Keys without a ``first_type`` event
    never emit (they exit state as their tail finalizes)."""
    if window <= timedelta(0):
        raise ValueError(f"window must be positive, got {window}")
    step = _funnel_step(first_type, then_type, int(window.total_seconds() * 1_000_000))
    return _tail_stream(
        stream, key_col, type_col, ts_col, seq_col, watermark_delay,
        step, FUNNEL_OUTPUT_SCHEMA, _FUNNEL_EXTRA,
    )


def _sequence_step(stages: tuple, window_us: int):
    k = len(stages)

    def step(f_us, f_typ, extra, wm_us, n_pending):
        matched = list(extra[0]) if extra[0] is not None else []
        rounds: list[list[int]] = []
        # event-time-deterministic ROUND state machine: a round closes
        # when it completes, or when an event lands past its stage-1
        # window — and that same event may then open the next round.
        # Round boundaries depend only on event times, never on how
        # events were batched.
        for u, t in zip(f_us.tolist(), f_typ):
            if matched and len(matched) < k and u > matched[0] + window_us:
                rounds.append(matched)
                matched = []
            if t == stages[len(matched)]:
                if not matched:
                    matched.append(u)  # ts-ordered fold: first == min
                elif u > matched[-1] and u <= matched[0] + window_us:
                    matched.append(u)
                if len(matched) == k:
                    # full match: built from FINAL events and the greedy
                    # chain never revises — emits immediately
                    rounds.append(matched)
                    matched = []

        # the open round closes by WATERMARK once its window is shut (no
        # event can still arrive inside it)
        if matched and wm_us > matched[0] + window_us:
            rounds.append(matched)
            matched = []

        rows = (
            {"stage_us": rounds, "stages_reached": [len(r) for r in rounds]}
            if rounds
            else None
        )
        if not matched:
            return rows, None, []
        return rows, (matched,), [matched[0] + window_us]

    return step


def sequence_funnel_stream(
    stream: DataFrame,
    key_col: str,
    type_col: str,
    stages: Sequence[str],
    window: timedelta,
    ts_col: str = "ts",
    seq_col: str = "event_id",
    watermark_delay: timedelta = timedelta(seconds=30),
) -> DataFrame:
    """N-stage streaming sequence funnel — the generalized Flink-CEP
    "followed-by" chain, same greedy-earliest-within-window rule as the
    batch ``operators/funnel.py::sequence_funnel``. The stream emits
    ROUNDS: the key's event sequence is partitioned greedily — a round
    closes when it completes (emitting EARLY: its events are final and
    the greedy chain never revises) or when an event lands past its
    stage-1 window, in which case that event may open the next round.
    Round boundaries are functions of EVENT TIMES only, never arrival
    batching (the transitions max_idle lesson). The FIRST round per key
    equals the batch operator exactly (randomized parity gate); later
    rounds are the streaming extra — rolling funnels a batch recompute
    would need windowed re-runs to see. State: pending tail + the open
    round's ≤ k timestamps; keys leave state whenever both are empty."""
    if len(stages) < 1:
        raise ValueError("need at least one stage")
    if window <= timedelta(0):
        raise ValueError(f"window must be positive, got {window}")
    step = _sequence_step(tuple(stages), int(window.total_seconds() * 1_000_000))
    return _tail_stream(
        stream, key_col, type_col, ts_col, seq_col, watermark_delay,
        step, SEQUENCE_OUTPUT_SCHEMA, _SEQUENCE_EXTRA,
    )


def _runs_step(max_idle_us: int | None):
    def step(f_us, f_typ, extra, wm_us, n_pending):
        run = list(extra) if extra[0] is not None else None
        closed: list[list] = []
        for u, t in zip(f_us.tolist(), f_typ):
            if run is not None and (
                t != run[0]
                or (max_idle_us is not None and u - run[3] > max_idle_us)
            ):
                closed.append(run)
                run = None
            if run is None:
                run = [t, 1, u, u]
            else:
                run[1] += 1
                run[3] = u

        # idle rule closes the OPEN run by watermark too — by event time
        # (gap from the run's last event), never arrival batching
        if (
            run is not None
            and max_idle_us is not None
            and wm_us - run[3] > max_idle_us
        ):
            closed.append(run)
            run = None

        # closed runs as columns: run_type, run_len, start_us, end_us
        rows = dict(zip(RUNS_OUTPUT_SCHEMA.names[1:], zip(*closed))) if closed else None
        if run is None:
            return rows, None, []
        wakes = [run[3] + max_idle_us] if max_idle_us is not None else []
        return rows, tuple(run), wakes

    return step


def runs_stream(
    stream: DataFrame,
    key_col: str,
    type_col: str,
    ts_col: str = "ts",
    seq_col: str = "event_id",
    watermark_delay: timedelta = timedelta(seconds=30),
    max_idle: timedelta | None = None,
) -> DataFrame:
    """Maximal-run (Kleene A+) emission — the streaming twin of the
    batch gaps-and-islands query (`q_longest_runs_events`): one row per
    MAXIMAL same-type run per key, emitted exactly once when a
    different-type event finalizes after it (the run provably cannot
    extend — any further same-type event would sit behind the breaker
    in the stable order). ``max_idle`` additionally splits runs at
    event-time gaps larger than it AND closes idle open runs by
    watermark — gap rules are always event-time, never arrival batching
    (the transitions doctrine). The LAST run of a key without
    ``max_idle`` never closes (no terminator can arrive-proof it); so
    drained output == batch islands minus each key's open tail run —
    the exact relation the parity test pins. State per key: the open
    run's 4 scalars + the watermark tail. A negative ``max_idle`` raises
    ``ValueError``."""
    step = _runs_step(_idle_us(max_idle))
    return _tail_stream(
        stream, key_col, type_col, ts_col, seq_col, watermark_delay,
        step, RUNS_OUTPUT_SCHEMA, _RUNS_EXTRA,
    )
