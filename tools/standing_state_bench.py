#!/usr/bin/env python
"""Standing-state cost of the ring buffer: many buffered conversations,
few of them touched per micro-batch.

The ring's per-batch work has two parts: a per-call constant for each state
key the batch touches, and per-byte work for the state those keys hold.
``perfbench``'s ring workloads touch most buffered conversations in every
batch, so they measure the first part only. This script measures the
second: it preloads ``--convs`` conversations (``PRELOAD_TURNS`` turns
each, one micro-batch), then runs ``BATCHES`` micro-batches that each give
``TOUCH_TURNS`` new turns to a random ``--touch`` share of them, and prints
one JSON line with the preload drop's time and the median touched drop's
time (``triggerExecution`` summed over the drop's data batch and, in timed
mode, the no-data batch that follows it), plus the ring operator's state
metrics.

Modes (``--mode``):

- ``max_data``: ``max_data=PRELOAD_TURNS`` and no age limit — buffers never
  expire (NoTimeout), so the standing state only grows;
- ``max_duration``: a one-hour ``max_duration`` and no capacity limit — the
  horizon outlives the run, so every buffered turn stays (EventTimeTimeout).

One long-running query (``processAllAvailable`` per drop) into a no-op
``foreachBatch``, so the state store stays open across batches, as in
production. Usage:

    python tools/standing_state_bench.py --mode max_data --convs 40000 --touch 0.01
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from datetime import timedelta

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PRELOAD_TURNS = 8
TOUCH_TURNS = 2
BATCHES = 6
WATERMARK = timedelta(seconds=10)


def _frame(conv_ids, first_turn, n_turns, t_s):
    """``n_turns`` turns per conversation from ``first_turn``, at ``t_s``
    seconds past synth.T0 (one second apart)."""
    import numpy as np
    import pandas as pd

    from real_time_sliding_window_spark.synth import T0

    conv = np.repeat(np.asarray(conv_ids, dtype=object), n_turns)
    k = np.tile(np.arange(n_turns), len(conv_ids))
    turn = (np.asarray(first_turn)[np.repeat(np.arange(len(conv_ids)), n_turns)]
            + k).astype("int32")
    return pd.DataFrame({
        "conv_id": conv,
        "turn_idx": turn,
        "role": np.where(turn % 2 == 0, "user", "assistant"),
        "text": [f"{c} turn {t} some words of text" for c, t in zip(conv, turn)],
        "tool": None,
        "ts": pd.Timestamp(T0) + pd.to_timedelta(t_s + k, unit="s"),
    })


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=("max_data", "max_duration"), required=True)
    ap.add_argument("--convs", type=int, default=40_000)
    ap.add_argument("--touch", type=float, default=0.01)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()

    import numpy as np

    from real_time_sliding_window_spark.operators.stateful import ring_buffer_stream
    from real_time_sliding_window_spark.session import get_spark
    from real_time_sliding_window_spark.sources.streams import FileFeed

    spark = get_spark(app_name="rtsw-standing-state")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="rtsw_standing_")
    feed = FileFeed(spark, os.path.join(work, "in"))
    if args.mode == "max_data":
        limits = dict(max_data=PRELOAD_TURNS)
    else:
        limits = dict(max_duration=timedelta(hours=1))
    out = ring_buffer_stream(feed.stream(), WATERMARK, **limits)
    q = (
        out.writeStream.foreachBatch(
            lambda d, b: d.write.format("noop").mode("overwrite").save()
        )
        .outputMode("append")
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .start()
    )

    seen = [-1]

    def step(pdf) -> dict:
        """Push one drop and run it: its data batch and, in timed mode, the
        no-data batch Spark runs after it to advance the watermark."""
        feed.push(pdf)
        q.processAllAvailable()
        ps = [p for p in q.recentProgress
              if p["batchId"] > seen[0] and p["stateOperators"]]
        seen[0] = ps[-1]["batchId"]
        ops = [p["stateOperators"][0] for p in ps]
        return {
            "ms": sum(p["durationMs"]["triggerExecution"] for p in ps),
            "batches": len(ps),
            "rows_total": ops[-1]["numRowsTotal"],
            "updated": sum(op["numRowsUpdated"] for op in ops),
            "mem_mb": round(ops[-1]["memoryUsedBytes"] / 2**20, 1),
            "commit_ms": sum(op["commitTimeMs"] for op in ops),
            "updates_ms": sum(op["allUpdatesTimeMs"] for op in ops),
        }

    convs = [f"c{i:06d}" for i in range(args.convs)]
    rng = np.random.default_rng(args.seed)
    next_turn = np.full(args.convs, PRELOAD_TURNS)
    try:
        t0 = time.monotonic()
        preload = step(_frame(convs, np.zeros(args.convs, dtype=int),
                              PRELOAD_TURNS, 0))
        preload_s = time.monotonic() - t0
        touched = []
        n_touch = max(1, round(args.touch * args.convs))
        for b in range(BATCHES):
            pick = np.sort(rng.choice(args.convs, n_touch, replace=False))
            pdf = _frame([convs[i] for i in pick], next_turn[pick], TOUCH_TURNS,
                         100 * (b + 1))
            next_turn[pick] += TOUCH_TURNS
            touched.append(step(pdf))
    finally:
        q.stop()
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "mode": args.mode, "convs": args.convs, "touch": args.touch,
        "seed": args.seed,
        "preload_s": round(preload_s, 2), "preload_drop_ms": preload["ms"],
        "touched_drop_ms_p50": statistics.median(t["ms"] for t in touched),
        "touched_drops": touched,
    }))


if __name__ == "__main__":
    main()
