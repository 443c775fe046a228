"""Bucketed stateful ring buffer — the engine's custom operator core.

Generalizes the reference's two eviction mechanisms (SURVEY.md §2 A5-A7)
into one event-time stateful operator implemented with
``applyInPandasWithState`` (PySpark's flatMapGroupsWithState):

- **maxDuration** (the on-demand window's age expiry,
  ``OnDemandBucketedWindow.kt:161-191``: cutoff = now − length): rows whose
  ``ts`` fall behind ``watermark − max_duration`` are evicted; the watermark
  plays the reference's wall-clock "now".
- **maxData** (the fixed window's capacity eviction,
  ``FixedTumblingBucketedWindow.kt:170-179``: evict oldest bucket at
  capacity, firing ``NonCurrentBucketRemoving`` *before* removal): when a
  conversation's buffer exceeds ``max_data`` turns, its oldest rows are
  evicted oldest-first.

Observable output replaces the reference's observer callbacks
(``GenericSubject.kt:37-41``) with action rows:

- ``ADD``    — a turn accepted into the buffer (onAdd);
- ``DUP``    — a redelivered ``(conv_id, turn_idx)`` ignored (the skip-list
  Set dedup semantics, ``OnDemandBucketedWindow.kt:53-58``, made explicit);
- ``EVICT`` / reason ``capacity`` — count eviction, oldest-first
  (removal-order invariant, ``FixedTumblingBucketedWindowTest.kt:442-490``);
- ``EVICT`` / reason ``age`` — maxDuration expiry (also fired on event-time
  timeout when no new data arrives for the conversation).

**Bucketed keying.** Every semantic above is per conversation, but the
state is keyed by ``bucket = pmod(xxhash64(conv_id), RING_BUCKETS)``: one
state row, one Python call and one event-time timer per bucket per
micro-batch, the way the reference expires items in one maintenance pass
over every data class (``OnDemandBucketedWindow.kt:160-191``) rather than
one per item. The body is one segmented numpy pass over all the bucket's
conversations, so ``applyInPandasWithState``'s per-call constant (Arrow to
pandas, state (de)serialization, timer bookkeeping) is paid once per bucket
rather than once per conversation. Consequences:

- at most ``RING_BUCKETS`` state tasks do work in a batch, whatever the
  number of shuffle partitions;
- a bucket touched by a batch (new turns or its timer) rewrites the state
  of all of its conversations;
- the bucket count and the state layout are part of the checkpoint:
  changing ``RING_BUCKETS`` or ``STATE_SCHEMA`` needs a fresh checkpoint.
  Spark refuses a checkpoint of the per-conversation layout (key schema
  ``conv_id`` string vs ``bucket`` int:
  ``STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE``). A changed bucket count keeps
  the key schema, so every state row also stores the count it was written
  with (``n_buckets``) and the body raises on a mismatch rather than route
  conversations to buckets that do not hold their buffers.

A bucket's state row is one binary ``payload`` plus the bucket count. The
payload holds the bucket's buffered turns sorted by (conversation, ts,
turn_idx): a layout tag, ``ts_us`` as raw little-endian int64 bytes,
``turn_idx`` (and the sharded ring's ``shard``) as raw little-endian int32
bytes, and the string columns pickled. The body reads the numbers with
``np.frombuffer`` and writes them with ``.tobytes()``. State array fields
would cost twice per batch: Spark generates and compiles two new classes
for the state's array (de)serializers on every micro-batch (their
``MapObjects`` loops get fresh names, so the code cache never hits), and
every element crosses the JVM/Python boundary as a boxed value on each read
and write. A touched bucket reads and writes all of its conversations, so
one binary value is also what keeps a bucket with many buffered but
untouched conversations cheap. The layout tag makes a future binary layout,
whose Spark state schema would not change, refusable too. The pandas body
is fully vectorized — no per-row or per-conversation Python in the hot
path. State size is bounded by ``max_data`` × row width per conversation
(or watermark horizon × rate for pure timed mode); one shuffle on the
bucket feeds the operator; the RocksDB state store (configured in
session.py) keeps large state off-heap.
"""

from __future__ import annotations

import pickle
import struct
from datetime import timedelta
from typing import Iterator, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# State key space: conversations hash into this many buckets (see the
# module docstring). Part of the checkpoint's state layout.
RING_BUCKETS = 64

OUTPUT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("action", StringType(), False),
        StructField("reason", StringType(), True),
        StructField("turn_idx", IntegerType(), True),
        StructField("role", StringType(), True),
        StructField("text", StringType(), True),
        StructField("tool", StringType(), True),
        StructField("ts", TimestampType(), True),
        StructField("buffer_size", IntegerType(), True),
    ]
)

STATE_SCHEMA = StructType(
    [
        # the bucket's buffer, laid out as _pack writes it
        StructField("payload", BinaryType(), True),
        # the bucket count the state was written with: a resume under
        # another RING_BUCKETS keeps the key schema, so the body checks this
        StructField("n_buckets", IntegerType(), True),
    ]
)

_DTYPES = (np.int64, np.int32, object, object, object, object, np.int32)
_TS, _TI, _ROLE, _TEXT, _TOOL, _CONV, _SHARD = range(7)

# payload layout: tag, row count n, int32 column count k; then ts_us as n
# little-endian int64, k little-endian int32 columns (turn_idx, and shard
# in the sharded ring), then the pickled string lists (role, text, tool,
# conv_id)
_TAG = b"RNG1"
_HEAD = "<4sII"
_HEAD_SIZE = struct.calcsize(_HEAD)


def batch_frame(pdfs: Iterator[pd.DataFrame]) -> pd.DataFrame | None:
    """The rows of one ``applyInPandasWithState`` call as one frame, or
    None when the call brought none (a timer-only call)."""
    chunks = list(pdfs)
    if not chunks:
        return None
    return chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)


def arm_timer(state: GroupState, wakes_us) -> None:
    """The one event-time timer rule of every stateful operator: arm the
    key's timer for the earliest of ``wakes_us`` (none when it is empty).

    Each wake X stands for a condition "watermark µs > X". Spark fires a
    timer T once the watermark (ms) passes T, so T = X // 1000 fires
    exactly when the condition first holds. Spark takes a timer at the
    watermark (>= wm, > 0), so the floor is wm itself: wm + 1 would wake
    the key one tick after its condition holds. Timer registrations do not
    persist across calls: every call that keeps state re-arms."""
    if len(wakes_us):
        state.setTimeoutTimestamp(
            max(int(min(wakes_us)) // 1000, state.getCurrentWatermarkMs(), 1)
        )


def make_ring_buffer_fn(
    max_duration: timedelta | None,
    max_data: int | None,
    session_gap: timedelta | None = None,
):
    """Build the applyInPandasWithState body (a closure over the spec).

    One call handles every conversation of a bucket: the state holds all
    of their buffers, concatenated and sorted by (conv_id, ts, turn_idx),
    and every step below is a segmented numpy operation over that array,
    applied per conversation exactly as if each had its own state:

    1. dedup on ``(conv_id, turn_idx)`` against the buffer and within the
       batch (first occurrence in (ts, turn_idx) order wins) → ``DUP``;
    2. merge the rest into the buffer → ``ADD``;
    3. session close, then age eviction, then capacity eviction;
    4. one event-time timer for the bucket, at the earliest wake of any of
       its conversations.

    Output rows come grouped per conversation, each conversation's rows in
    the order DUP, ADD, session (EVICT rows then SESSION_END, per
    session), age EVICT, capacity EVICT; ``buffer_size`` is the
    conversation's buffer size after the step that emitted the row.

    The body is pure numpy array algebra — no per-row or per-conversation
    Python and no pandas DataFrame construction except the single output
    frame: the per-call constant factor is what bucketing amortizes.

    ``session_gap`` (VERDICT r03 #4) adds the one window kind the stateful
    op didn't speak: per-conversation SESSION-CLOSE semantics matching
    ``operators/windows.session_agg`` exactly — a turn joins the open
    session while ``ts <= prev_ts + gap`` (inclusive merge), the session
    closes once the WATERMARK passes ``last_ts + gap`` (so an in-delay
    late turn can still bridge two would-be sessions, just like the
    session_window agg), and closing emits every member turn as
    ``EVICT``/reason ``session`` followed by ONE ``SESSION_END`` marker
    row (``ts`` = session end = last_ts + gap, ``buffer_size`` = member
    count, null turn columns) — the reference's callback surface
    (GenericSubject.kt:37-41) for gap-closed conversations. The bucket's
    EventTimeTimeout timer wakes it at the earliest open session's
    ``last_ts + gap`` so closure fires even when no new turn ever
    arrives; the timer is RE-ARMED on every keep-state invocation
    (EventTimeTimeout registrations do not persist across invocations).
    Composes with maxDuration / maxData, which keep evicting inside the
    open session.
    """
    return _ring_body(max_duration, max_data, session_gap, sharded=False)


def _ring_body(max_duration, max_data, session_gap, sharded: bool):
    """The segmented body. ``sharded`` segments on (conv_id, shard) and
    keeps the shard as one more state array and a leading output column."""
    max_dur_us = (
        round(max_duration.total_seconds() * 1e6) if max_duration is not None else None
    )
    gap_us = (
        round(session_gap.total_seconds() * 1e6)
        if session_gap is not None
        else None
    )
    n_cols = 7 if sharded else 6
    n_buckets = RING_BUCKETS

    def fn(
        key: Tuple[int], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        # the pool: the buffered rows (state), then this batch's rows
        if state.exists:
            s = state.get
            tag, _, k = struct.unpack_from(_HEAD, s[0])
            written_cols = k + 5  # ts_us, k int32 columns, 4 string lists
            # another bucket count, the other ring (sharded/unsharded) or
            # another payload layout resumed on this checkpoint: same key
            # and state schema
            if s[1] != n_buckets or tag != _TAG or written_cols != n_cols:
                raise ValueError(
                    f"ring state was written with {s[1]} buckets, layout "
                    f"{tag!r} and {written_cols} columns, this ring has "
                    f"RING_BUCKETS = {n_buckets}, layout {_TAG!r} and "
                    f"{n_cols} columns: conversations would not find their "
                    "buffers. Resume from a fresh checkpoint."
                )
            cols = state_columns(s)
            cols = [np.asarray(c, dtype=_DTYPES[i]) for i, c in enumerate(cols)]
        else:
            cols = [np.empty(0, dtype=_DTYPES[c]) for c in range(n_cols)]
        buf = np.arange(len(cols[_TS]))  # pool rows in the buffer, sorted
        batch = None if state.hasTimedOut else batch_frame(pdfs)
        if batch is not None:
            new = [
                batch["ts"].to_numpy(dtype="datetime64[us]").astype(np.int64),
                batch["turn_idx"].to_numpy().astype(np.int32, copy=False),
                batch["role"].to_numpy(dtype=object),
                batch["text"].to_numpy(dtype=object),
                batch["tool"].to_numpy(dtype=object),
                batch["conv_id"].to_numpy(dtype=object),
            ]
            if sharded:
                new.append(batch["shard"].to_numpy().astype(np.int32, copy=False))
            cols = [np.concatenate([c, n]) for c, n in zip(cols, new)]
        ts, ti = cols[_TS], cols[_TI]
        n_pool = len(ts)

        # dense segment (conversation) codes over the pool, in key order
        seg = pd.factorize(cols[_CONV], sort=True, use_na_sentinel=False)[0]
        if sharded:
            seg = np.unique(
                (seg.astype(np.int64) << 32) | cols[_SHARD], return_inverse=True
            )[1]
        n_seg = int(seg.max()) + 1 if n_pool else 0

        def sizes(rows, of):
            """Per-conversation buffer size after a step, for rows ``of``."""
            return np.bincount(seg[rows], minlength=n_seg)[seg[of]]

        # output parts: (action, reason, pool rows, buffer_size per row)
        parts: list[tuple] = []
        if n_pool > len(buf):
            # Set-dedup on row identity (conv_id, turn_idx): against the
            # buffer and within the batch (first occurrence in (ts,
            # turn_idx) order wins — the skip-list Set semantics made
            # explicit).
            inc = len(buf) + np.lexsort(
                (ti[len(buf):], ts[len(buf):], seg[len(buf):])
            )
            ident = (seg.astype(np.int64) << 32) | (ti.astype(np.int64) & 0xFFFFFFFF)
            dup = np.isin(ident[inc], ident[buf])
            intra = np.ones(len(inc), dtype=bool)
            intra[np.unique(ident[inc], return_index=True)[1]] = False
            dup |= intra
            if dup.any():
                parts.append(("DUP", None, inc[dup], sizes(buf, inc[dup])))
            if not dup.all():
                added = inc[~dup]
                buf = np.concatenate([buf, added])
                buf = buf[np.lexsort((ti[buf], ts[buf], seg[buf]))]
                parts.append(("ADD", None, added, sizes(buf, added)))

        wm_us = state.getCurrentWatermarkMs() * 1000
        end_src = end_ts = None  # SESSION_END rows: last member, end ts

        # --- session close: watermark passed last_ts + gap ---------------
        if gap_us is not None and wm_us > 0 and len(buf):
            b_ts, b_seg = ts[buf], seg[buf]
            # a session starts at each conversation's first row and where
            # the inter-turn gap EXCEEDS the session gap (inclusive merge,
            # matching session_agg)
            first = np.ones(len(buf), dtype=bool)
            first[1:] = (b_seg[1:] != b_seg[:-1]) | (np.diff(b_ts) > gap_us)
            sid = np.cumsum(first) - 1
            last = np.append(np.flatnonzero(first)[1:] - 1, len(buf) - 1)
            # a session whose end (last_ts + gap) is STRICTLY below the
            # watermark is final — merge is inclusive (a turn at exactly
            # last_ts + gap extends the session) and rows with ts >= wm
            # are still admissible, so wm == end is not yet closeable.
            # Sessions close in ts order: per conversation a prefix.
            closed_sess = b_ts[last] + gap_us < wm_us
            if closed_sess.any():
                closed = closed_sess[sid]
                gone = buf[closed]
                end_src = buf[last[closed_sess]]
                end_ts = ts[end_src] + gap_us
                n_members = (last - np.flatnonzero(first) + 1)[closed_sess]
                buf = buf[~closed]
                # each session's EVICT rows, then its SESSION_END row
                # (pool row n_pool + k stands for the k-th SESSION_END)
                rows = np.concatenate([gone, n_pool + np.arange(len(end_src))])
                order = np.argsort(
                    np.concatenate(
                        [2 * sid[closed], 2 * np.flatnonzero(closed_sess) + 1]
                    ),
                    kind="stable",
                )
                is_end = rows[order] >= n_pool
                parts.append((
                    np.where(is_end, "SESSION_END", "EVICT").astype(object),
                    np.where(is_end, None, "session"),
                    rows[order],
                    np.concatenate([sizes(buf, gone), n_members])[order],
                ))

        # --- age eviction: cutoff = watermark − max_duration -------------
        if max_dur_us is not None and wm_us > 0 and len(buf):
            aged = ts[buf] < wm_us - max_dur_us
            if aged.any():
                gone, buf = buf[aged], buf[~aged]
                parts.append(("EVICT", "age", gone, sizes(buf, gone)))

        # --- capacity eviction: oldest-first beyond max_data -------------
        if max_data is not None and len(buf):
            b_seg = seg[buf]
            rank = np.arange(len(buf)) - np.searchsorted(b_seg, b_seg)
            over = rank < np.bincount(b_seg, minlength=n_seg)[b_seg] - max_data
            if over.any():
                gone, buf = buf[over], buf[~over]
                parts.append(
                    ("EVICT", "capacity", gone, np.full(len(gone), max_data))
                )

        if len(buf) == 0:
            state.remove()
        else:
            state.update((_pack([c[buf] for c in cols]), n_buckets))
            # the bucket's earliest pending wake over its conversations:
            # age expiry of the oldest row and/or the end of the earliest
            # open session
            b_ts = ts[buf]
            wakes_us = []
            if max_dur_us is not None:
                wakes_us.append(int(b_ts.min()) + max_dur_us)
            if gap_us is not None:
                b_seg = seg[buf]
                ends = np.ones(len(buf), dtype=bool)
                ends[:-1] = (b_seg[1:] != b_seg[:-1]) | (np.diff(b_ts) > gap_us)
                wakes_us.append(int(b_ts[ends].min()) + gap_us)
            arm_timer(state, wakes_us)

        if parts:
            rows = np.concatenate([p[2] for p in parts])
            end_k = rows - n_pool  # >= 0: the row is the k-th SESSION_END
            if end_src is not None:
                rows = np.where(end_k >= 0, end_src[np.maximum(end_k, 0)], rows)
            # group per conversation, keeping each one's row order
            order = np.argsort(seg[rows], kind="stable")
            rows, end_k = rows[order], end_k[order]
            out = {
                "conv_id": cols[_CONV][rows],
                "action": _per_row(parts, 0)[order],
                "reason": _per_row(parts, 1)[order],
                "turn_idx": ti[rows],
                "role": cols[_ROLE][rows],
                "text": cols[_TEXT][rows],
                "tool": cols[_TOOL][rows],
                "ts": ts[rows],
                "buffer_size": np.concatenate([p[3] for p in parts])[order].astype(np.int32),
            }
            if end_src is not None:
                is_end = end_k >= 0
                out["turn_idx"] = out["turn_idx"].astype(object)
                for name in ("turn_idx", "role", "text", "tool"):
                    out[name][is_end] = None
                out["ts"][is_end] = end_ts[end_k[is_end]]
            out["ts"] = out["ts"].astype("datetime64[us]")
            if sharded:
                out = {"shard": cols[_SHARD][rows], **out}
            yield pd.DataFrame(out)

    return fn


def _pack(cols: list) -> bytes:
    """The state payload of the ring's columns (see ``_HEAD``)."""
    ints = [cols[_TI], *cols[_SHARD:]]
    return b"".join([
        struct.pack(_HEAD, _TAG, len(cols[_TS]), len(ints)),
        cols[_TS].astype("<i8", copy=False).tobytes(),
        *(c.astype("<i4", copy=False).tobytes() for c in ints),
        pickle.dumps(tuple(c.tolist() for c in cols[_ROLE:_SHARD]), protocol=5),
    ])


def state_columns(value) -> list:
    """A ring state row as its columns: ts_us and turn_idx arrays, the
    role, text, tool and conv_id lists (and the shard array, for the
    sharded ring)."""
    payload = memoryview(value[0])
    _, n, k = struct.unpack_from(_HEAD, payload)
    ts = np.frombuffer(payload, dtype="<i8", count=n, offset=_HEAD_SIZE)
    at = _HEAD_SIZE + 8 * n
    ints = [
        np.frombuffer(payload, dtype="<i4", count=n, offset=at + 4 * n * i)
        for i in range(k)
    ]
    return [ts, ints[0], *pickle.loads(payload[at + 4 * n * k:]), *ints[1:]]


def _per_row(parts: list, field: int) -> np.ndarray:
    """Concatenate one field of the output parts, a scalar field repeated
    over its part's rows."""
    return np.concatenate([
        np.broadcast_to(np.asarray(p[field], dtype=object), len(p[2]))
        for p in parts
    ])


def ring_buffer_stream(
    transcripts: DataFrame,
    watermark_delay: timedelta,
    max_duration: timedelta | None = None,
    max_data: int | None = None,
    session_gap: timedelta | None = None,
) -> DataFrame:
    """Wire the stateful ring buffer onto a (streaming) transcript DataFrame.

    Conversations are keyed into ``RING_BUCKETS`` state buckets by
    ``pmod(xxhash64(conv_id), RING_BUCKETS)``; one shuffle on the bucket
    feeds the stateful operator, and ``make_ring_buffer_fn``'s body runs
    once per touched bucket over all of its conversations. Eviction,
    dedup and session semantics stay per conversation. The watermark
    drives age eviction, session close (``session_gap`` — see
    make_ring_buffer_fn) and the bucket's event-time timeout. A checkpoint
    written with another bucket count or state layout is refused (see the
    module docstring).
    For one conversation hotter than a core, see
    ``sharded_ring_buffer_stream``. Session-gap mode requires this
    unsharded operator: per-shard gap computation would see a subsample of
    the conversation and split sessions a full view would merge.
    """
    fn = make_ring_buffer_fn(max_duration, max_data, session_gap)
    return _bucketed_ring(
        transcripts, watermark_delay, ["conv_id"], fn, OUTPUT_SCHEMA,
        timed=max_duration is not None or session_gap is not None,
    )


def sharded_ring_buffer_stream(
    transcripts: DataFrame,
    watermark_delay: timedelta,
    max_duration: timedelta | None = None,
    max_data: int | None = None,
    n_shards: int = 8,
    session_gap: timedelta | None = None,
) -> DataFrame:
    """Hot-conversation mitigation (VERDICT r02 #7): sub-key salting with
    per-shard ring buffers.

    ``ring_buffer_stream`` routes ALL turns of one conv_id through one
    state task per micro-batch — correct, but a single 10^6-turn
    conversation caps at single-task throughput (measured ceiling in
    BENCH/SKEW.md). This variant segments the ring on
    (conv_id, shard = hash(turn_idx) % n_shards) and buckets on
    ``xxhash64(conv_id, shard)``, so a hot conversation spreads over up to
    n_shards buckets and state tasks. Same bucketed body as the unsharded
    operator; the shard is one more segment column.

    Semantics vs the unsharded operator, stated precisely:

    - **dedup (DUP rows): EXACT** — a given (conv_id, turn_idx) always
      hashes to the same shard, so redeliveries meet their original.
    - **age eviction (maxDuration): EXACT** — the cutoff is
      watermark − max_duration, identical in every shard; the union of
      shard buffers equals the unsharded buffer.
    - **capacity eviction (maxData): APPROXIMATE** — the global
      oldest-first ring becomes shard-local oldest-first with per-shard
      capacity ceil(max_data / n_shards). Because turn_idx hashing sends a
      near-uniform sample of the stream to each shard, shard-local oldest
      ≈ global oldest; total buffered rows are ≤ n_shards·ceil(max_data /
      n_shards) (≤ max_data + n_shards − 1). Exact capacity semantics
      require the unsharded operator.
    - ``buffer_size`` reports the SHARD's buffer size, not the
      conversation's; ``shard`` is exposed so callers can sum.

    - **session close (session_gap): UNSUPPORTED — raises** (VERDICT
      r04 #5). Each shard sees a ~1/n_shards subsample of the
      conversation, so a shard's last-seen ts UNDER-estimates the
      conversation's and shard-local closure (wm > shard_last + gap)
      fires while the conversation is still active — false SESSION_END
      events with partial content. An exact design needs a second
      per-conv_id merge stage closing on max over shards of last_ts,
      with all shards releasing content coordinately; until that stage
      exists the operator refuses rather than emitting wrong boundaries.
      A hot conversation needing session semantics uses the unsharded
      ``ring_buffer_stream`` (session bookkeeping is O(1) per turn — the
      single-task ceiling applies to content volume, BENCH/SKEW.md).

    Use when one conversation's turn rate exceeds one core's state
    throughput; otherwise prefer ``ring_buffer_stream``.
    """
    if session_gap is not None:
        raise ValueError(
            "session_gap is not supported with sharding: a shard-local "
            "last-ts under-estimates the conversation's and would close "
            "sessions early (false SESSION_END with partial content). "
            "Use ring_buffer_stream for session-gap semantics."
        )
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    per_shard_cap = (
        -(-max_data // n_shards) if max_data is not None else None
    )
    sharded = transcripts.withColumn(
        "shard", F.pmod(F.xxhash64("turn_idx"), F.lit(n_shards)).cast("int")
    )
    return _bucketed_ring(
        sharded, watermark_delay, ["conv_id", "shard"],
        _ring_body(max_duration, per_shard_cap, None, sharded=True),
        StructType([StructField("shard", IntegerType())] + list(OUTPUT_SCHEMA)),
        timed=max_duration is not None,
    )


def _bucketed_ring(
    transcripts, watermark_delay, seg_cols, fn, output_schema, timed: bool,
) -> DataFrame:
    """The one ring wiring: watermark, bucket the segment key, run ``fn``
    once per bucket under ``applyInPandasWithState``."""
    from real_time_sliding_window_spark.config import interval_str

    wm = transcripts.withWatermark("ts", interval_str(watermark_delay))
    bucket = F.pmod(F.xxhash64(*seg_cols), F.lit(RING_BUCKETS)).cast("int")
    return wm.withColumn("bucket", bucket).groupBy("bucket").applyInPandasWithState(
        fn,
        outputStructType=output_schema,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout
        if timed
        else GroupStateTimeout.NoTimeout,
    )


def ring_state_from_actions(actions: DataFrame) -> DataFrame:
    """Reconstruct each conversation's CURRENT buffer from the emitted
    ADD/DUP/EVICT action log — event-sourcing replay.

    The action rows are a complete state history: a turn is in the buffer
    iff it was ADDed and never EVICTed (DUPs never changed state), so the
    live contents are one left-anti join over the log — the ring-buffer
    analogue of the reference's ``currentBucket`` getter, computable from
    any sink that kept the log, with no access to the state store. The
    state store is the second source: ``spark.read.format("statestore")``
    over the ring's checkpoint, each bucket row decoded with
    ``state_columns`` (its ``value.groupState``), gives the same buffers;
    streaming/live_view.py reads a window query's open windows that way.
    Output: one row per buffered turn, ordered by the buffer's
    (ts, turn_idx) invariant via ``turn_rank``.
    """
    from pyspark.sql.window import Window as SqlWindow

    adds = actions.filter(F.col("action") == "ADD").select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts"
    )
    evicts = actions.filter(F.col("action") == "EVICT").select(
        "conv_id", "turn_idx"
    )
    live = adds.join(evicts, ["conv_id", "turn_idx"], "left_anti")
    w = SqlWindow.partitionBy("conv_id").orderBy("ts", "turn_idx")
    return live.withColumn("turn_rank", F.row_number().over(w))
