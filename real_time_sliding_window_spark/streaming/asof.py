"""Stream-stream AS-OF (temporal) join — a capability Spark lacks natively.

Structured Streaming's built-in stream-stream join supports time-RANGE
conditions (``user_tool_stream_join``) but not "latest right at or before
the left's timestamp" — the as-of semantics the batch operators
(`operators/joins.py::as_of_join` / `as_of_join_union`) implement, and the
join Flink ships as a temporal join. This module closes the gap with one
``applyInPandasWithState`` operator over the UNIONED two-sided stream:

- both sides are packed to a common (key, side, ts, tiebreak, payload-json)
  schema and unioned, so ONE shuffle keys the operator (same discipline as
  the ring buffer);
- per key, rights are buffered within the horizon; each left row is held
  until the event-time watermark passes its timestamp — at that moment no
  right row at-or-before it can still arrive (rights behind the watermark
  are dropped at the source), so the match emitted is FINAL. Append-mode
  exactness, no retractions needed. Unmatched lefts emit with nulls
  (left-outer; the batch operator is match-only — filter right_ts IS NOT
  NULL for batch-identical row sets).
- state is bounded BOTH ways: rights older than ``watermark − horizon``
  can no longer match any pending left (pending lefts all have
  ts ≥ watermark) and are discarded; lefts leave state as they emit; and
  a timer is re-registered on EVERY invocation that keeps state, by the
  one rule of every stateful operator (``operators.stateful.arm_timer``)
  — when no lefts are pending it fires when the oldest right ages out of
  the horizon, so right-only keys are reaped instead of lingering forever.

Determinism: the match rule is the batch operator's — latest right with
``l_ts − horizon ≤ r_ts ≤ l_ts``; equal-ts ties resolve by the NUMERIC
``right_tiebreaker`` column descending (exact for |v| < 2^53; the same
single-tiebreaker-descending rule as ``as_of_join(tiebreakers=[c])``) —
so the streamed output is gated against the same batch operator in tests.

Keys are packed with ``to_json(struct(keys))`` — unambiguous for any
value (no separator collisions) — and rows with a NULL in any key column
are FILTERED on both sides, matching the batch equi-join (NULL keys never
match). Payloads ride as JSON strings so the state schema stays fixed for
any caller schema; unpack with ``from_json``.
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
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from real_time_sliding_window_spark.config import interval_str
from real_time_sliding_window_spark.operators.stateful import (
    arm_timer,
    batch_frame,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("key", StringType(), False),
        StructField("left_ts", TimestampType(), False),
        StructField("left_json", StringType(), False),
        StructField("right_ts", TimestampType(), True),
        StructField("right_json", StringType(), True),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("l_ts", ArrayType(LongType()), True),
        StructField("l_pay", ArrayType(StringType()), True),
        StructField("r_ts", ArrayType(LongType()), True),
        StructField("r_tb", ArrayType(DoubleType()), True),
        StructField("r_pay", ArrayType(StringType()), True),
    ]
)

_EMPTY_I64 = np.empty(0, dtype=np.int64)
_EMPTY_F64 = np.empty(0, dtype=np.float64)
_EMPTY_OBJ = np.empty(0, dtype=object)


def _asof_fn(horizon_us: int):
    def fn(
        key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (k,) = key
        if state.exists:
            s = state.get
            l_ts = np.asarray(s[0], dtype=np.int64)
            l_pay = np.asarray(s[1], dtype=object)
            r_ts = np.asarray(s[2], dtype=np.int64)
            r_tb = np.asarray(s[3], dtype=np.float64)
            r_pay = np.asarray(s[4], dtype=object)
        else:
            l_ts, r_ts = _EMPTY_I64, _EMPTY_I64
            r_tb = _EMPTY_F64
            l_pay = r_pay = _EMPTY_OBJ

        new_rights = False
        batch = None if state.hasTimedOut else batch_frame(pdfs)
        if batch is not None:
            ts = batch["ts"].to_numpy(dtype="datetime64[us]").astype(np.int64)
            side = batch["side"].to_numpy(dtype=object)
            # The JVM-side pack() already mapped null -> -inf and NaN ->
            # +inf (see as_of_stream_join), so this column is NaN-free;
            # nan_to_num stays as a belt-and-braces guard (np.lexsort
            # sorts NaN last, which would make a stray NaN WIN ties).
            tb = np.nan_to_num(
                batch["tiebreak"].to_numpy(dtype=np.float64), nan=-np.inf
            )
            pay = batch["payload"].to_numpy(dtype=object)
            is_l = side == "L"
            l_ts = np.concatenate([l_ts, ts[is_l]])
            l_pay = np.concatenate([l_pay, pay[is_l]])
            if (~is_l).any():
                new_rights = True
                r_ts = np.concatenate([r_ts, ts[~is_l]])
                r_tb = np.concatenate([r_tb, tb[~is_l]])
                r_pay = np.concatenate([r_pay, pay[~is_l]])

        # rights stay sorted by (ts, tiebreak) across invocations — state
        # was persisted sorted, so only re-sort when this batch added any
        if new_rights:
            order = np.lexsort((r_tb, r_ts))
            r_ts, r_tb, r_pay = r_ts[order], r_tb[order], r_pay[order]

        wm_us = state.getCurrentWatermarkMs() * 1000
        emit = l_ts < wm_us  # final: no right <= l_ts can still arrive
        out = None
        if emit.any():
            e_ts, e_pay = l_ts[emit], l_pay[emit]
            eorder = np.argsort(e_ts, kind="stable")
            e_ts, e_pay = e_ts[eorder], e_pay[eorder]
            m_ts = np.full(len(e_ts), np.nan)  # float µs; NaN -> NaT
            m_pay = np.empty(len(e_ts), dtype=object)
            for i, lt in enumerate(e_ts):
                hi = int(np.searchsorted(r_ts, lt, side="right"))
                lo = int(np.searchsorted(r_ts, lt - horizon_us, side="left"))
                if hi > lo:
                    # buffer sorted (ts asc, tiebreak asc): the LAST
                    # candidate is the latest ts with the max tiebreaker —
                    # the batch tiebreakers-descending rule
                    m_ts[i] = float(r_ts[hi - 1])
                    m_pay[i] = r_pay[hi - 1]
                else:
                    m_pay[i] = None
            out = pd.DataFrame(
                {
                    "key": k,
                    "left_ts": pd.to_datetime(e_ts, unit="us"),
                    "left_json": e_pay,
                    "right_ts": pd.to_datetime(m_ts, unit="us"),
                    "right_json": m_pay,
                }
            )
            l_ts, l_pay = l_ts[~emit], l_pay[~emit]

        # rights older than wm - horizon cannot match any PENDING left
        # (pending lefts all have ts >= wm)
        if wm_us > 0 and len(r_ts):
            keep = r_ts >= wm_us - horizon_us
            r_ts, r_tb, r_pay = r_ts[keep], r_tb[keep], r_pay[keep]

        if len(l_ts) == 0 and len(r_ts) == 0:
            state.remove()
        else:
            state.update(
                (l_ts.tolist(), l_pay.tolist(), r_ts.tolist(),
                 r_tb.tolist(), r_pay.tolist())
            )
            # ALWAYS re-arm the timer (EventTimeTimeout registrations do
            # not persist): wake when the watermark passes the oldest
            # pending left (emission), else when the oldest right ages out
            # of the horizon (reaping) — so right-only keys are cleaned up
            # instead of holding state forever
            arm_timer(
                state,
                [l_ts.min()] if len(l_ts) else [r_ts.min() + horizon_us],
            )

        if out is not None:
            yield out

    return fn


def unpack_asof(
    joined: DataFrame,
    keys_schema: str,
    left_schema: str,
    right_schema: str,
) -> DataFrame:
    """Unpack the as-of output back to typed columns: the key struct and
    both payload structs via ``from_json`` (schemas as DDL strings, e.g.
    ``"user string"`` / ``"pid long"`` / ``"cid long"``). Right columns
    stay null for unmatched lefts."""
    return joined.select(
        F.from_json("key", keys_schema).alias("__k"),
        "left_ts",
        F.from_json("left_json", left_schema).alias("__l"),
        "right_ts",
        F.from_json("right_json", right_schema).alias("__r"),
    ).select("__k.*", "left_ts", "__l.*", "right_ts", "__r.*")


def as_of_stream_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    horizon: timedelta = timedelta(hours=1),
    watermark_delay: timedelta = timedelta(seconds=30),
    left_payload: Sequence[str] = (),
    right_payload: Sequence[str] = (),
    right_tiebreaker: str | None = None,
) -> DataFrame:
    """Streaming as-of join (see module docstring).

    ``left_payload`` / ``right_payload``: columns packed into the json
    payloads. ``right_tiebreaker``: numeric column resolving equal-ts
    ties DESCENDING (the batch ``as_of_join(tiebreakers=[col])`` rule;
    exact for |v| < 2^53). Output: (key, left_ts, left_json, right_ts,
    right_json); unpack with ``from_json``. Rows with NULL in any key
    column are filtered (equi-join semantics). Unmatched lefts emit with
    null right columns (left-outer).

    Limit: both sides share ONE watermark, taken over the union. A right
    row that arrives more than ``watermark_delay`` behind the max event
    time seen on EITHER side is dropped as late, so the lefts it would
    have matched emit unmatched where batch ``as_of_join`` matches them.
    E.g. horizon 60 s, delay 2 s, four runs in order: (left u1@100 s,
    right u1@95 s), (left u1@200 s), (right u1@150 s), closers at 1,000 s
    on both sides. The left at 200 s emits with no match; batch
    ``as_of_join`` over the same rows matches it to the right at 150 s.
    Equality with the batch operator holds only while both sides advance
    together.
    """
    if not keys:
        raise ValueError("as_of_stream_join requires at least one key column")
    wm = interval_str(watermark_delay)

    def pack(df: DataFrame, side: str, ts_col: str, payload: Sequence[str],
             tb: str | None):
        notnull = None
        for kcol in keys:
            c = F.col(kcol).isNotNull()
            notnull = c if notnull is None else (notnull & c)
        # NULL vs NaN tiebreakers must be told apart HERE, JVM-side —
        # after the Arrow transfer both arrive in pandas as float64 NaN.
        # Batch as_of_join orders .desc(): NaN ranks ABOVE every number
        # (Spark NaN-greatest) while nulls sort last, so map null -> -inf
        # (loses ties) and NaN -> +inf (wins) before the stateful op; the
        # numpy body then never sees a null/NaN tiebreak (ADVICE r4).
        # Contract note: a literal +inf tiebreaker ties with NaN here
        # (batch ranks NaN strictly above +inf) — the one undistinguished
        # edge, documented rather than carried as a third indicator.
        if tb:
            tbd = F.col(tb).cast("double")
            tb_expr = (
                F.when(tbd.isNull(), F.lit(float("-inf")))
                .when(F.isnan(tbd), F.lit(float("inf")))
                .otherwise(tbd)
            )
        else:
            tb_expr = F.lit(0.0)
        return df.filter(notnull).select(
            F.to_json(F.struct(*[F.col(kcol) for kcol in keys])).alias("key"),
            F.lit(side).alias("side"),
            F.col(ts_col).alias("ts"),
            tb_expr.alias("tiebreak"),
            F.to_json(F.struct(*[F.col(c) for c in payload])).alias("payload"),
        )

    unioned = (
        pack(left, "L", left_ts, left_payload, None)
        .unionByName(pack(right, "R", right_ts, right_payload, right_tiebreaker))
        .withWatermark("ts", wm)
    )
    horizon_us = round(horizon.total_seconds() * 1e6)
    return unioned.groupBy("key").applyInPandasWithState(
        _asof_fn(horizon_us),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
