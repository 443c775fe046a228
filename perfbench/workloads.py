"""The three streaming workloads.

Each drives the package only through its public functions
(``get_spark``, ``synth.transcripts_pandas``, ``sources.streams.rate_stream``,
``operators.stateful.ring_buffer_stream`` / ``make_ring_buffer_fn``,
``streaming.pipeline.windowed_stream``, ``streaming.sink.ExactlyOnceParquetSink``)
and reads Spark's public ``StreamingQueryProgress``.

- ``ring_drain``: closed loop. One ``availableNow`` query drains a seeded
  transcript backlog through ``ring_buffer_stream`` into a counting
  ``foreachBatch``; the drain is repeated for the run's seconds.
- ``ring_live``: open loop. ``rate_stream`` at a fixed rate the seed
  sustains, through ``ring_buffer_stream`` (short max_duration, max_data 1,
  so age evictions, capacity evictions and event-time timers all fire) into
  ``ExactlyOnceParquetSink``. Not listed in ``BENCHMARK.json``: the gated
  run budget holds two workloads of this length, not three.
- ``window_live``: open loop. ``rate_stream`` through a tumbling
  ``windowed_stream`` keyed by ``conv_id`` into
  ``ExactlyOnceParquetSink(track_lineage=True)``; no Python in the row path.
"""

from __future__ import annotations

import itertools
import os
import time
from dataclasses import dataclass, field
from datetime import timedelta

import numpy as np
import pandas as pd

from harness import (
    HostSampler,
    engine_metrics,
    epoch_s,
    median,
    nearest_rank,
    progress_of,
    state_metrics,
    wait_idle,
)
from tracing import RingProbe, TimedSink, trace_batches, traced_ring_fn

# -- workload parameters ------------------------------------------------------

# ring_drain: a ts-ordered backlog of DRAIN_FILES parquet files, drained
# DRAIN_FILES_PER_TRIGGER files per micro-batch (2 data batches and the
# closing batch that fires the timers), so each conversation's turns reach
# the operator about a dozen rows per group per call.
DRAIN_CONVS = 500
DRAIN_MEAN_TURNS = 25
DRAIN_FILES = 8
DRAIN_FILES_PER_TRIGGER = 4
DRAIN_WATERMARK = timedelta(seconds=30)
DRAIN_MAX_DURATION = timedelta(minutes=10)
DRAIN_MAX_DATA = 64
MIN_TIMED_DRAINS = 5

# ring_live: rate_stream's RING_CONVS round-robin conversations each get a
# turn every RING_CONVS / RING_RATE = 16 s. The first half is folded in
# pairs (two turns 1/RING_RATE s apart, so the second evicts the first by
# capacity); the second half stays one turn per group per call. Every
# surviving turn leaves by age through an event-time timer within two
# batches, long before the conversation's next turn: a timer-only wake-up
# per turn. A batch costs 1.5-2.4 s on 4 cores at any rate this low, so a
# 4 s trigger leaves headroom.
RING_RATE = 40
RING_CONVS = 640
RING_TRIGGER_S = 4
RING_WATERMARK = timedelta(seconds=1)
RING_MAX_DURATION = timedelta(seconds=2)
RING_MAX_DATA = 1

# window_live: 2 s tumbling windows per conversation, 1 s watermark. A
# batch costs 0.6-1.2 s on 4 cores almost regardless of rate (the sink
# writes a row per conversation per window), so a 2 s trigger keeps the
# query about half busy: it sustains the rate with headroom.
WINDOW_RATE = 15_000
WINDOW_CONVS = 10_000
WINDOW_TRIGGER_S = 2
WINDOW_LENGTH_S = 2
WINDOW_WATERMARK_S = 1

# open-loop warm-up before the timed window (JVM code paths, first state
# store loads, the first window emission), then until the query keeps up
LIVE_WARM_S = 6
LIVE_WARM_MAX_S = 40


@dataclass
class Result:
    metrics: dict = field(default_factory=dict)  # end-to-end
    layers: dict = field(default_factory=dict)  # per-layer (traced run)
    notes: dict = field(default_factory=dict)  # sample counts, offered rate
    checks: list = field(default_factory=list)  # (name, ok, detail)
    batches: int = 0
    failed_batches: int = 0

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append((name, bool(ok), detail))

    @property
    def attempted(self) -> int:
        return self.batches + len(self.checks)

    @property
    def failed(self) -> int:
        return self.failed_batches + sum(1 for _, ok, _ in self.checks if not ok)


@dataclass
class Context:
    session: object
    tracer: object
    seed: int
    seconds: int
    trace: bool
    work_dir: str

    def path(self, *parts: str) -> str:
        return os.path.join(self.work_dir, *parts)


def _sleep_until(t: float) -> None:
    while (d := t - time.time()) > 0:
        time.sleep(min(d, 0.5))


def _setup_layers(ctx: Context, corpus_s: float = 0.0) -> dict:
    return {
        "session.get_spark_s": ctx.session.start_s,
        "synth.corpus_write_s": corpus_s,
    }


# -- ring_drain ---------------------------------------------------------------

def write_corpus(directory: str, seed: int):
    """Seeded backlog: ``synth.transcripts_pandas`` conversations with their
    start times dealt out again by a seeded permutation, sorted by ``ts`` and
    split into ``DRAIN_FILES`` files whose modification times follow ``ts``
    order, so the file source reads the backlog oldest-first and no turn is
    late. The seed moves conversations between micro-batches; ids and turn
    counts stay, so the work per shuffle partition does not depend on it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from real_time_sliding_window_spark.synth import transcripts_pandas

    pdf = transcripts_pandas(DRAIN_CONVS, mean_turns=DRAIN_MEAN_TURNS)
    conv = pdf["conv_id"].str.slice(1).astype(int).to_numpy()
    start = pdf.loc[pdf["turn_idx"] == 0, ["conv_id", "ts"]]
    start_of = dict(zip(start["conv_id"].str.slice(1).astype(int), start["ts"]))
    starts = pd.Series([start_of[i] for i in range(DRAIN_CONVS)])
    dealt = starts.to_numpy()[np.random.default_rng(seed).permutation(DRAIN_CONVS)]
    pdf["ts"] = pdf["ts"] - starts.to_numpy()[conv] + dealt[conv]
    pdf = pdf.sort_values(["ts", "conv_id", "turn_idx"], ignore_index=True)
    pdf["ts"] = pdf["ts"].dt.tz_localize("UTC")

    schema = pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()),
        ("role", pa.string()), ("text", pa.string()),
        ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
    ])
    os.makedirs(directory)
    base = time.time() - DRAIN_FILES - 60
    for k, part in enumerate(np.array_split(np.arange(len(pdf)), DRAIN_FILES)):
        table = pa.Table.from_pandas(
            pdf.iloc[part], schema=schema, preserve_index=False
        )
        path = os.path.join(directory, f"part-{k:05d}.parquet")
        pq.write_table(table, path)
        os.utime(path, (base + k, base + k))
    return pdf


class BatchCounter:
    """Counting ``foreachBatch``: rows per action and the wall time each
    batch's result reached this process."""

    def __init__(self):
        self.commits: list[tuple[int, float, dict]] = []

    def __call__(self, df, batch_id: int) -> None:
        counts = {r["action"]: r["count"] for r in df.groupBy("action").count().collect()}
        self.commits.append((batch_id, time.time(), counts))

    def totals(self) -> dict:
        out: dict = {}
        for _, _, counts in self.commits:
            for k, v in counts.items():
                out[k] = out.get(k, 0) + v
        return out


class ActionLog:
    """``foreachBatch`` that keeps the action rows of the checked drain."""

    def __init__(self, directory: str):
        self.dir = directory

    def __call__(self, df, batch_id: int) -> None:
        df.write.mode("overwrite").parquet(
            os.path.join(self.dir, f"batch_id={batch_id}")
        )


def _ring_query(src, watermark, max_duration, max_data, probe=None):
    """``ring_buffer_stream(src, ...)``. With a probe, the body the package
    builds is wrapped by ``traced_ring_fn`` as ``ring_buffer_stream`` looks
    it up, so the traced query keeps the package's own wiring."""
    from real_time_sliding_window_spark.operators import stateful

    build = stateful.make_ring_buffer_fn
    if probe is not None:
        stateful.make_ring_buffer_fn = (
            lambda *a: traced_ring_fn(build(*a), probe)
        )
    try:
        return stateful.ring_buffer_stream(
            src, watermark, max_duration=max_duration, max_data=max_data
        )
    finally:
        stateful.make_ring_buffer_fn = build


@dataclass
class Drain:
    wall_s: float
    start: float
    progress: list
    error: str | None


def _drain(spark, corpus_dir: str, ck: str, foreach, probe=None) -> Drain:
    from real_time_sliding_window_spark.synth import TRANSCRIPT_SCHEMA

    src = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", str(DRAIN_FILES_PER_TRIGGER))
        .parquet(corpus_dir)
    )
    out = _ring_query(
        src, DRAIN_WATERMARK, DRAIN_MAX_DURATION, DRAIN_MAX_DATA, probe
    )
    error = None
    t0 = time.time()
    q = (
        out.writeStream.foreachBatch(foreach)
        .outputMode("append")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    except Exception as e:  # a failed micro-batch ends the query
        error = f"{type(e).__name__}: {str(e)[:300]}"
    wall = time.time() - t0
    return Drain(wall, t0, progress_of(q), error)


def _check_drain_log(spark, log_dir: str, corpus, res: Result) -> dict:
    """Full output checks on the warm-up drain's action log; returns its
    row count per action."""
    from pyspark.sql import functions as F

    from real_time_sliding_window_spark.operators.stateful import (
        ring_state_from_actions,
    )

    log_df = spark.read.parquet(log_dir)
    log = log_df.select("conv_id", "turn_idx", "action", "batch_id").toPandas()
    key = log["conv_id"] + "/" + log["turn_idx"].astype(str)
    corpus_key = corpus["conv_id"] + "/" + corpus["turn_idx"].astype(str)
    is_add = (log["action"] == "ADD").to_numpy()
    is_evict = (log["action"] == "EVICT").to_numpy()

    adds = key[is_add]
    res.check(
        "ring_drain.add_exactly_once",
        not adds.duplicated().any()
        and len(adds) == len(corpus_key)
        and set(adds) == set(corpus_key),
        f"{len(adds)} ADD rows for {len(corpus_key)} corpus turns",
    )
    add_batch = dict(zip(adds, log["batch_id"][is_add]))
    evicts = key[is_evict]
    evict_batch = log["batch_id"][is_evict].to_numpy()
    ok = not evicts.duplicated().any() and all(
        k in add_batch and b >= add_batch[k] for k, b in zip(evicts, evict_batch)
    )
    res.check(
        "ring_drain.evict_once_after_add", ok, f"{len(evicts)} EVICT rows"
    )
    per_conv = (
        log.assign(d=is_add.astype(int) - is_evict.astype(int))
        .groupby("conv_id")["d"].sum()
    )
    res.check(
        "ring_drain.capacity_bound",
        int(per_conv.max()) <= DRAIN_MAX_DATA,
        f"max live turns per conversation {int(per_conv.max())}",
    )

    live = (
        ring_state_from_actions(log_df)
        .select("conv_id", F.col("turn_idx").cast("long").alias("turn_idx"))
        .toPandas()
    )
    k_per_conv = live.groupby("conv_id").size()
    ranked = corpus.sort_values(
        ["conv_id", "ts", "turn_idx"], ascending=[True, False, False]
    )
    rank = ranked.groupby("conv_id").cumcount().to_numpy()
    keep = rank < ranked["conv_id"].map(k_per_conv).fillna(0).to_numpy()
    expected = set(
        ranked["conv_id"][keep] + "/" + ranked["turn_idx"][keep].astype(str)
    )
    got = set(live["conv_id"] + "/" + live["turn_idx"].astype(str))
    res.check(
        "ring_drain.survivors_are_newest",
        got == expected,
        f"{len(got)} surviving turns",
    )
    return log["action"].value_counts().to_dict()


def _stateful_layers(progress: list, counts: dict) -> dict:
    """The ring operator's figures over ``progress`` and the probe's
    ``counts``, with its task time split into the body's own time and the
    engine remainder (Arrow transfer, state store, shuffle reads)."""
    layers = state_metrics(progress, "applyInPandasWithState", "stateful")
    layers.update(RingProbe.metrics(counts))
    layers["stateful.engine_remainder_s"] = (
        layers["stateful.updates_ms"] + layers["stateful.removals_ms"]
    ) / 1000 - layers["stateful.body_self_s"]
    return layers


def _drain_layers(d: Drain, probe: RingProbe) -> dict:
    layers = engine_metrics(d.progress, d.wall_s)
    layers.update(_stateful_layers(d.progress, probe.counts()))
    return layers


def ring_drain(ctx: Context) -> Result:
    res = Result()
    corpus_dir = ctx.path("corpus")
    state = {}

    def prepare(spark):
        with ctx.tracer.span("synth.corpus_write") as sp:
            state["corpus"] = write_corpus(corpus_dir, ctx.seed)
        state["corpus_s"] = sp.duration

    ctx.session.set_up(prepare)
    spark = ctx.session.spark
    corpus = state["corpus"]
    n_turns = len(corpus)
    runs = itertools.count()

    def one(foreach, probe=None) -> Drain:
        i = next(runs)
        with ctx.tracer.span("ring_drain.drain", drain=i, traced=probe is not None):
            d = _drain(spark, corpus_dir, ctx.path(f"ck{i}"), foreach, probe)
        trace_batches(ctx.tracer, d.progress, "ring_drain.drain")
        res.batches += len(d.progress) + (1 if d.error else 0)
        res.failed_batches += 1 if d.error else 0
        return d

    # two untimed warm-up drains: the first keeps every action row for the
    # full checks and runs about twice as slow as later ones. Every later
    # drain must emit the same number of rows per action as the checked
    # one.
    log_dir = ctx.path("actions")
    warm = one(ActionLog(log_dir))
    expected = (
        {} if warm.error else _check_drain_log(spark, log_dir, corpus, res)
    )
    counter = BatchCounter()
    warm2 = (one(counter), counter)

    plain: list[tuple[Drain, BatchCounter]] = []
    traced: list[tuple[Drain, BatchCounter, RingProbe]] = []
    with HostSampler(ctx.session.jvm_pid()) as host:
        # drain until the run's seconds are used up and at least
        # MIN_TIMED_DRAINS times: the first timed drains still run 10-30 %
        # slower than the last ones, and a few seconds of a busy host slow
        # any one of them; the median of five drops both. The traced run alternates plain and traced drains, two of each, to
        # stay well inside its time limit with the local[1] drain after
        min_drains = 2 if ctx.trace else MIN_TIMED_DRAINS
        t0 = time.monotonic()
        while True:
            counter = BatchCounter()
            if ctx.trace and len(traced) < len(plain):
                probe = RingProbe(spark.sparkContext)
                traced.append((one(counter, probe), counter, probe))
            else:
                plain.append((one(counter), counter))
            if (
                time.monotonic() - t0 >= ctx.seconds
                and len(plain) >= min_drains
                and (not ctx.trace or len(traced) == len(plain))
            ):
                break

    for d, counter in [warm2] + plain + [(d, c) for d, c, _ in traced]:
        totals = counter.totals()
        res.check(
            "ring_drain.drain_matches_checked",
            not d.error and totals == expected,
            f"{totals} (checked drain: {expected})",
        )

    def tps(d: Drain) -> float:
        return n_turns / d.wall_s

    def emit(d: Drain, counter: BatchCounter, pick) -> float:
        # every turn of a backlog is due at drain start; its ADD row is
        # emitted with the batch that reads it
        return pick(c - d.start for _, c, n in counter.commits if n.get("ADD"))

    res.metrics = {
        "setup_s": ctx.session.setup_s,
        "turns_per_s": median([tps(d) for d, _ in plain]),
        # the backlog's ADD rows leave in two batches: p50 is when the
        # first is emitted, p99 when the last one is
        "emit_p50_s": median([emit(d, c, min) for d, c in plain]),
        "emit_p99_s": median([emit(d, c, max) for d, c in plain]),
        "peak_rss_mb": host.peak_mb,
    }
    res.notes = {
        "corpus_turns": n_turns,
        "drains": len(plain),
        "drain_s": [round(d.wall_s, 3) for d, _ in plain],
        "batch_ms": [[b["batchDuration"] for b in d.progress] for d, _ in plain],
        "warm_batch_ms": [b["batchDuration"] for b in warm.progress],
        "host_cpu_steal": round(host.steal_fraction, 3),
    }
    res.layers = _setup_layers(ctx, state["corpus_s"])
    res.layers["memory.peak_rss_mb"] = host.peak_mb
    if ctx.trace and traced:
        per = [_drain_layers(d, p) for d, _, p in traced]
        for k in per[0]:
            res.layers[k] = median([x[k] for x in per])
        traced_tps = median([tps(d) for d, _, _ in traced])
        res.layers["trace.traced_turns_per_s"] = traced_tps
        res.layers["trace.overhead_turns_per_s"] = (
            res.metrics["turns_per_s"] - traced_tps
        )
        # informational single-thread baseline: the same drain on local[1]
        spark = ctx.session.start(master="local[1]")
        d = one(BatchCounter())
        res.layers["baseline.local1_turns_per_s"] = tps(d)
    return res


# -- live workloads -----------------------------------------------------------

def pin_rate_source(checkpoint: str) -> float:
    """Fix the rate source's start time to half a second past a whole
    second, so every run sees the same phase between the 1-row-per-second
    generator ticks and the trigger (Spark aligns processing-time triggers
    to whole multiples of the interval). The rate source keeps its start
    time as batch 0 of its metadata log under the checkpoint; this format
    is Spark's own, so ``_account`` checks after the run that the source
    stamped its first row with the pinned time."""
    start_ms = (int(time.time()) - 1) * 1000 + 500
    d = os.path.join(checkpoint, "sources", "0")
    os.makedirs(d)
    with open(os.path.join(d, "0"), "w") as f:
        f.write(f"v1\n{start_ms}")
    return start_ms / 1000


@dataclass
class Live:
    timed: list  # progress of batches triggered inside the timed window
    all: list  # progress of every batch
    wall_s: float  # length of the timed window
    turns_per_s: float  # processing rate over the timed window
    source_start: float
    first_ts: float  # earliest ts the source emitted (eventTime.min)
    host: HostSampler  # memory and CPU steal over the timed window
    warm_s: float  # untimed lead-in until the query kept up
    error: str | None
    probe_window: tuple = ()


def processing_rate(progress: list, t_a: float, t_b: float) -> float:
    """Input rows of the batches that completed inside ``[t_a, t_b]``,
    after the first of them, over the time from the first completion to
    the last. At a steady cadence this is the offered rate exactly, with
    no whole-batch rounding; when batches fall behind it is the rate the
    query really drains at."""
    done = sorted(
        (p["start_s"] + p["batchDuration"] / 1000, p["numInputRows"])
        for p in progress
    )
    inside = [(t, n) for t, n in done if t_a <= t <= t_b]
    if len(inside) < 2:
        return float("nan")
    return sum(n for _, n in inside[1:]) / (inside[-1][0] - inside[0][0])


def _warm_up(query, rows_per_batch: float) -> float:
    """Block for at least ``LIVE_WARM_S`` and until the query keeps up with
    its source: its last two batches each read no more than one trigger
    interval's worth of rows (+5 %). A slow start (JIT, first state-store
    loads, the first window emission) leaves a backlog that would otherwise
    drain inside the timed window. Gives up after ``LIVE_WARM_MAX_S``;
    returns the seconds spent."""
    t0 = time.time()
    while query.isActive and time.time() - t0 < LIVE_WARM_MAX_S:
        recent = query.recentProgress[-2:]
        if (
            time.time() - t0 >= LIVE_WARM_S
            and len(recent) == 2
            and all(p.numInputRows <= 1.05 * rows_per_batch for p in recent)
        ):
            break
        time.sleep(0.2)
    return time.time() - t0


def _run_live(ctx: Context, result_df, name: str, foreach, trigger_s: int,
              rows_per_s: int, probe: RingProbe | None = None) -> Live:
    ck = ctx.path(f"ck_{name}")
    source_start = pin_rate_source(ck)
    q = (
        result_df.writeStream.foreachBatch(foreach)
        .outputMode("append")
        .option("checkpointLocation", ck)
        .queryName(name)
        .trigger(processingTime=f"{trigger_s} seconds")
        .start()
    )
    warm_s = _warm_up(q, rows_per_s * trigger_s)
    t_a = (int(time.time()) // trigger_s + 1) * trigger_s
    # at least two trigger intervals, so that two batches complete inside
    t_b = t_a + max(2, round(ctx.seconds / trigger_s)) * trigger_s
    error = None
    snap_a = None
    with ctx.tracer.span(f"{name}.timed", t_a=t_a, t_b=t_b):
        _sleep_until(t_a)
        t_a = time.time()
        if probe is not None:
            snap_a = probe.counts()
        with HostSampler(ctx.session.jvm_pid()) as host:
            _sleep_until(t_b)
            t_b = time.time()
        wait_idle(q)  # so that stopping interrupts no batch
        snap_b = probe.counts() if probe is not None else None
        if q.exception() is not None:
            error = str(q.exception())[:300]
        q.stop()
    progress = progress_of(q)
    trace_batches(ctx.tracer, progress, f"{name}.timed")
    timed = [p for p in progress if t_a - 0.5 <= p["start_s"] < t_b - 0.5]
    first_ts = min(
        (epoch_s(p["eventTime"]["min"]) for p in progress
         if p["numInputRows"] and "min" in p.get("eventTime", {})),
        default=float("nan"),
    )
    return Live(timed, progress, t_b - t_a,
                processing_rate(progress, t_a, t_b), source_start, first_ts,
                host, warm_s, error, (snap_a, snap_b))


def _commit_times(sink, batch_ids) -> dict[int, float]:
    """Wall time each batch committed: the mtime of the sink's commit
    marker, which ``write_batch`` renames into place as its last step."""
    out = {}
    for b in batch_ids:
        path = os.path.join(sink.commit_dir, f"{b}.json")
        if os.path.exists(path):
            out[b] = os.stat(path).st_mtime_ns / 1e9
    return out


def _latencies(spark, sink, live: Live, ts_col: str, where=None):
    """(batch_id, commit − ts) for every committed row of the timed batches."""
    from pyspark.sql import functions as F

    ids = [p["batchId"] for p in live.timed]
    commit = _commit_times(sink, ids)
    df = sink.read_committed(spark, with_batch_id=True).where(
        F.col("batch_id").isin(list(commit))
    )
    if where is not None:
        df = df.where(where)
    pdf = df.select("batch_id", F.unix_micros(ts_col).alias("us")).toPandas()
    c = pdf["batch_id"].map(commit).to_numpy()
    return (c - pdf["us"].to_numpy() / 1e6).tolist()


def _sink_layers(sink, live: Live, timed_sink: TimedSink) -> dict:
    ids = [p["batchId"] for p in live.timed]
    committed = set(_commit_times(sink, ids))
    rows = sum(e["rows"] for e in sink.lineage() if e["batch_id"] in committed)
    size = 0
    for b in committed:
        d = os.path.join(sink.data_dir, f"batch_id={b}")
        for root, _, files in os.walk(d):
            size += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    write_ms = [timed_sink.write_ms[b] for b in committed
                if b in timed_sink.write_ms]
    return {
        "sink.batches": len(committed),
        "sink.rows": rows,
        "sink.bytes": size,
        "sink.write_batch_ms_p50": nearest_rank(write_ms, 0.5) if write_ms else 0,
        "sink.write_batch_ms_p99": nearest_rank(write_ms, 0.99) if write_ms else 0,
    }


def _live_layers(live: Live) -> dict:
    layers = engine_metrics(live.timed, live.wall_s)
    lags = [
        p["start_s"] - epoch_s(p["eventTime"]["max"])
        for p in live.timed
        if p["numInputRows"] and "max" in p.get("eventTime", {})
    ]
    layers["sources.lag_s"] = median(lags)
    return layers


def _emit_metrics(res: Result, ctx: Context, live: Live, lat: list[float],
                  offered: float) -> None:
    res.metrics = {
        "setup_s": ctx.session.setup_s,
        "turns_per_s": live.turns_per_s,
        "emit_p50_s": nearest_rank(lat, 0.50) if lat else float("nan"),
        "emit_p99_s": nearest_rank(lat, 0.99) if lat else float("nan"),
        "peak_rss_mb": live.host.peak_mb,
    }
    res.notes = {
        "offered_turns_per_s": offered,
        "emit_samples": len(lat),
        "timed_batches": len(live.timed),
        "timed_wall_s": round(live.wall_s, 3),
        "warm_s": round(live.warm_s, 1),
        "host_cpu_steal": round(live.host.steal_fraction, 3),
        "batch_ms": [p["batchDuration"] for p in live.timed],
    }


def _account(res: Result, name: str, live: Live) -> None:
    """Count ``live``'s micro-batches into ``res`` and check that the rate
    source started at the time ``pin_rate_source`` gave it."""
    res.batches += len(live.all) + (1 if live.error else 0)
    res.failed_batches += 1 if live.error else 0
    res.check(
        f"{name}.rate_source_pinned",
        abs(live.first_ts - live.source_start) < 1e-3,
        f"first ts {live.first_ts:.3f}, pinned start {live.source_start:.3f}",
    )


def ring_live(ctx: Context) -> Result:
    from pyspark.sql import functions as F

    from real_time_sliding_window_spark.sources.streams import rate_stream
    from real_time_sliding_window_spark.streaming.sink import (
        ExactlyOnceParquetSink,
    )

    res = Result()
    plan = {}

    def build(spark, probe=None):
        src = rate_stream(spark, RING_RATE, n_convs=RING_CONVS)
        k = F.substring("conv_id", 2, 6).cast("int")  # round-robin index
        paired = k < RING_CONVS // 2
        src = src.withColumns({
            "conv_id": F.format_string(
                f"s{ctx.seed}-c%06d", F.when(paired, F.floor(k / 2)).otherwise(k)
            ),
            "turn_idx": F.when(paired, F.col("turn_idx") * 2 + k % 2)
            .otherwise(F.col("turn_idx")).cast("int"),
        })
        return _ring_query(
            src, RING_WATERMARK, RING_MAX_DURATION, RING_MAX_DATA, probe
        )

    def prepare(spark):
        plan["df"] = build(spark)

    ctx.session.set_up(prepare)
    spark = ctx.session.spark

    def measure(name, df, probe=None):
        sink = ExactlyOnceParquetSink(ctx.path(f"sink_{name}"))
        timed_sink = TimedSink(sink, ctx.tracer) if probe else None
        live = _run_live(ctx, df, name, timed_sink or sink.foreach_batch(),
                         RING_TRIGGER_S, RING_RATE, probe)
        _account(res, name, live)
        return sink, timed_sink, live

    sink, _, live = measure("ring_live", plan["df"])
    lat = _latencies(spark, sink, live, "ts", F.col("action") == "ADD")
    _emit_metrics(res, ctx, live, lat, RING_RATE)

    adds = (
        sink.read_committed(spark, with_batch_id=True)
        .where(F.col("action") == "ADD")
        .select("batch_id", "conv_id", "turn_idx",
                F.unix_micros("ts").alias("us"))
        .toPandas()
    )
    res.check(
        "ring_live.no_duplicate_add",
        not adds.duplicated(["conv_id", "turn_idx"]).any() and len(adds) > 0,
        f"{len(adds)} ADD rows",
    )
    commit = _commit_times(sink, adds["batch_id"].unique().tolist())
    neg = int(((adds["batch_id"].map(commit) - adds["us"] / 1e6) < 0).sum())
    res.check("ring_live.add_latency_non_negative", neg == 0,
              f"{neg} ADD rows committed before their ts")

    res.layers = _setup_layers(ctx)
    res.layers["memory.peak_rss_mb"] = live.host.peak_mb
    if ctx.trace:
        probe = RingProbe(spark.sparkContext)
        t_sink, timed_sink, t_live = measure(
            "ring_live_traced", build(spark, probe), probe
        )
        layers = _live_layers(t_live)
        snap_a, snap_b = t_live.probe_window
        layers.update(_stateful_layers(
            t_live.timed, {k: snap_b[k] - snap_a[k] for k in snap_b}
        ))
        layers.update(_sink_layers(t_sink, t_live, timed_sink))
        layers["trace.traced_turns_per_s"] = t_live.turns_per_s
        layers["trace.overhead_turns_per_s"] = (
            res.metrics["turns_per_s"] - t_live.turns_per_s
        )
        res.layers.update(layers)
    return res


def window_live(ctx: Context) -> Result:
    from pyspark.sql import functions as F

    from real_time_sliding_window_spark import WindowSpec
    from real_time_sliding_window_spark.sources.streams import rate_stream
    from real_time_sliding_window_spark.streaming.pipeline import windowed_stream
    from real_time_sliding_window_spark.streaming.sink import (
        ExactlyOnceParquetSink,
    )

    res = Result()
    plan = {}
    spec = WindowSpec(
        name="perfbench-window",
        length=f"{WINDOW_LENGTH_S} seconds",
        watermark_delay=f"{WINDOW_WATERMARK_S} seconds",
    )

    def build(spark):
        src = rate_stream(spark, WINDOW_RATE, n_convs=WINDOW_CONVS).withColumn(
            "conv_id", F.concat(F.lit(f"s{ctx.seed}-"), "conv_id")
        )
        return windowed_stream(src, spec, keys=["conv_id"])

    def prepare(spark):
        plan["df"] = build(spark)

    ctx.session.set_up(prepare)
    spark = ctx.session.spark

    def measure(name, traced):
        sink = ExactlyOnceParquetSink(ctx.path(f"sink_{name}"), track_lineage=True)
        timed_sink = TimedSink(sink, ctx.tracer) if traced else None
        live = _run_live(ctx, build(spark) if traced else plan["df"], name,
                         timed_sink or sink.foreach_batch(), WINDOW_TRIGGER_S,
                         WINDOW_RATE)
        _account(res, name, live)
        return sink, timed_sink, live

    sink, _, live = measure("window_live", False)
    lat = _latencies(spark, sink, live, "last_ts")
    _emit_metrics(res, ctx, live, lat, WINDOW_RATE)

    out = (
        sink.read_committed(spark)
        .select(F.unix_seconds("window_start").alias("start"), "conv_id",
                "n_rows")
        .toPandas()
    )
    res.check(
        "window_live.window_key_exactly_once",
        not out.duplicated(["start", "conv_id"]).any() and len(out) > 0,
        f"{len(out)} window rows",
    )
    full = out[out["start"] >= live.source_start].groupby("start")["n_rows"].sum()
    want = WINDOW_RATE * WINDOW_LENGTH_S
    res.check(
        "window_live.full_windows_hold_every_turn",
        len(full) > 0 and bool((full == want).all()),
        f"{len(full)} full windows, row sums {sorted(set(full.tolist()))} "
        f"(want {want})",
    )
    dropped = state_metrics(live.all, "stateStoreSave", "pipeline")[
        "pipeline.rows_dropped_by_watermark"
    ]
    res.check("window_live.no_rows_dropped_by_watermark", dropped == 0,
              f"{dropped} rows dropped")

    res.layers = _setup_layers(ctx)
    res.layers["memory.peak_rss_mb"] = live.host.peak_mb
    if ctx.trace:
        t_sink, timed_sink, t_live = measure("window_live_traced", True)
        layers = _live_layers(t_live)
        pipe = state_metrics(t_live.timed, "stateStoreSave", "pipeline")
        pipe.pop("pipeline.removals_ms")
        layers.update(pipe)
        layers.update(_sink_layers(t_sink, t_live, timed_sink))
        layers["trace.traced_turns_per_s"] = t_live.turns_per_s
        layers["trace.overhead_turns_per_s"] = (
            res.metrics["turns_per_s"] - t_live.turns_per_s
        )
        res.layers.update(layers)
    return res


WORKLOADS = {
    "ring_drain": ring_drain,
    "ring_live": ring_live,
    "window_live": window_live,
}
