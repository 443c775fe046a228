"""Spark-free model test of the CEP kernel (``streaming/cep.py``).

Drives each operator's body directly with PySpark's own ``GroupState``
(which enforces Spark's timer bounds: a timer must be positive and not
below the watermark), the way a streaming query calls it. One key gets
Hypothesis-generated deliveries: contiguous time-range batches shuffled
within each batch, watermark-only batches, late rows dropped at the
source, a timer-only call whenever the key's timer is below the
watermark, then a closing watermark. Checked:

- the emitted rows equal those of a one-batch delivery of the same
  events (output never depends on arrival batching);
- ``transitions_stream`` without ``max_idle`` equals a plain-Python
  ``lead()`` over the (ts, seq) order;
- after every call, no armed timer is later than the key's earliest
  pending finalization (a condition "watermark µs > X" wakes the key at
  timer X // 1000, the first watermark at which it holds).
"""

from __future__ import annotations

from datetime import timedelta

import pandas as pd
import pytest

from hypothesis import given, settings, strategies as st
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from real_time_sliding_window_spark.operators.stateful import arm_timer
from real_time_sliding_window_spark.streaming import cep


def body(op: str, *args):
    """The applyInPandasWithState body of CEP operator ``op``."""
    step = getattr(cep, f"_{op}_step")(*args)
    return cep._tail_body(step, len(getattr(cep, f"_{op.upper()}_EXTRA")))


US = 1_000_000
NO_TIMER = GroupState.NO_TIMESTAMP
FUNNEL_DONE = -1  # the funnel's tombstone in its first_us state slot


def _state(value, wm_ms: int, timed_out: bool) -> GroupState:
    # as Spark builds it per call: timers do not carry over between calls
    return GroupState(
        value, 0, wm_ms, GroupStateTimeout.EventTimeTimeout, timed_out,
        True, value is not None, False, False, NO_TIMER, b"", None,
    )


def _frame(rows) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "key": "k",
            "ts": pd.to_datetime([r[0] for r in rows], unit="us"),
            "seq": [r[1] for r in rows],
            "typ": [r[2] for r in rows],
        }
    )


def _deadlines(op: str, param_us: int, value) -> list[int]:
    """Every X of a condition "watermark µs > X" that finalizes something
    the key holds: its pending events, and the operator's own deadline."""
    s = tuple(value)
    xs = list(s[0])
    if op == "transitions_idle" and not s[0] and s[3] is not None:
        xs.append(s[3] + param_us)  # the bridge is reaped
    elif op == "funnel" and s[3] not in (None, FUNNEL_DONE):
        xs.append(s[3] + param_us)  # the conversion window closes
    elif op == "sequence" and s[3]:
        xs.append(s[3][0] + param_us)  # the open round closes
    elif op == "runs_idle" and s[3] is not None:
        xs.append(s[6] + param_us)  # the open run goes idle
    return xs


def drive(op: str, param_us: int, fn, items, delay_ms: int):
    """Run ``items`` through ``fn`` for one key; returns (rows, delivered)."""
    value, timer, wm_ms, max_seen = None, NO_TIMER, 0, None
    out: list[pd.DataFrame] = []
    delivered: list[tuple] = []

    def call(rows):
        nonlocal value, timer
        state = _state(value, wm_ms, timed_out=not rows)
        out.extend(fn(("k",), iter([_frame(rows)] if rows else []), state))
        value = state._value if state.exists else None
        timer = state._timeout_timestamp if state.exists else NO_TIMER
        if value is not None:
            xs = _deadlines(op, param_us, value)
            if xs:
                assert timer != NO_TIMER and timer <= min(xs) // 1000, (
                    f"timer {timer} ms is later than deadline {min(xs)} us"
                )

    def timers():
        if timer != NO_TIMER and timer < wm_ms:
            call([])

    for kind, arg in items:
        prev_wm = wm_ms
        if kind == "wm":
            wm_ms += arg
            timers()
            continue
        if max_seen is not None:
            wm_ms = max(wm_ms, max_seen // 1000 - delay_ms)
        # late rows: at or behind the watermark the source last applied
        rows = [e for e in arg if e[0] > prev_wm * 1000]
        delivered += rows
        if rows:
            call(rows)
        else:
            timers()
        if arg:
            max_seen = max([max_seen or 0] + [e[0] for e in arg])

    # closing watermark: past every event and every window or idle rule
    wm_ms = max(wm_ms, (max_seen or 0) // 1000) + 100_000
    timers()
    rows = pd.concat(out, ignore_index=True) if out else pd.DataFrame()
    return rows, delivered


@st.composite
def deliveries(draw):
    """Events of one key in contiguous time-range batches, each batch
    shuffled, some preceded by a watermark-only batch."""
    n = draw(st.integers(0, 20))
    events = sorted(
        (
            draw(st.integers(1, 30)) * US
            + draw(st.sampled_from([0, 1, 999, 1000, 1001, 400_000])),
            seq,
            draw(st.sampled_from("ABC")),
        )
        for seq in range(n)
    )
    cuts = sorted(draw(st.lists(st.integers(0, n), max_size=5)))
    items, lo = [], 0
    for c in cuts + [n]:
        if draw(st.booleans()):
            items.append(("wm", draw(st.integers(1, 6000))))
        items.append(("data", draw(st.permutations(events[lo:c]))))
        lo = c
    return items


OPS = ["transitions", "transitions_idle", "funnel", "sequence", "runs", "runs_idle"]


def _body_for(op: str, param_us: int):
    if op == "funnel":
        return body("funnel", "A", "B", param_us)
    if op == "sequence":
        return body("sequence", ("A", "B", "C"), param_us)
    idle = param_us if op.endswith("_idle") else None
    return body(op.removesuffix("_idle"), idle)


@pytest.mark.parametrize("op", OPS)
@settings(max_examples=80, deadline=None)
@given(
    items=deliveries(),
    param=st.integers(0, 12 * US),
    delay_ms=st.integers(0, 5000),
)
def test_output_is_independent_of_batching(op, items, param, delay_ms):
    param_us = param + 1 if op in ("funnel", "sequence") else param
    got, delivered = drive(op, param_us, _body_for(op, param_us), items, delay_ms)
    once, _ = drive(
        op, param_us, _body_for(op, param_us), [("data", delivered)], delay_ms
    )
    assert got.to_dict("records") == once.to_dict("records")

    if op == "transitions":
        chain = sorted(delivered)
        lead = [
            {"key": "k", "from_type": a[2], "to_type": b[2],
             "from_us": a[0], "to_us": b[0]}
            for a, b in zip(chain, chain[1:])
        ]
        assert got.to_dict("records") == lead


@settings(max_examples=200, deadline=None)
@given(wm_ms=st.integers(1, 10**7), ahead_us=st.integers(0, 10**7),
       later_ms=st.integers(0, 10**4))
def test_arm_timer_fires_exactly_when_the_condition_holds(wm_ms, ahead_us, later_ms):
    x = wm_ms * 1000 + ahead_us  # a condition "watermark µs > x" not yet true
    state = _state(None, wm_ms, timed_out=False)
    arm_timer(state, [x + 5_000_000, x])
    wm2 = wm_ms + later_ms
    # Spark fires a timer once the watermark (ms) is past it
    assert (state._timeout_timestamp < wm2) == (wm2 * 1000 > x)


@pytest.mark.parametrize("operator", [cep.transitions_stream, cep.runs_stream])
def test_negative_max_idle_is_refused(operator):
    with pytest.raises(ValueError, match="max_idle must not be negative"):
        operator(None, "key", "typ", max_idle=timedelta(microseconds=-1))
