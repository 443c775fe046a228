"""Streaming metrics & lineage — the reference's Micrometer pipeline (A16)
re-expressed on StreamingQueryListener + the sink's per-batch manifests.

The reference rendered gauges/timers per window (Metrics.kt:108-137); here
every micro-batch's progress JSON (rows in/out, state rows, batch duration,
watermark) is captured to a list and can be persisted as a metrics table.
Per-partition lineage comes from the exactly-once sink's commit manifests
(sink.py) — together they satisfy the north rule's "per-partition lineage
and metrics" requirement. The 110%-of-bucket-duration WARN
(FixedTumblingBucketedWindow.kt:140-147) is a filter over ``progress``:
``[r for r in listener.progress if r["batch_duration_ms"] > 1.1 * bucket_ms]``.

Per-class item-count gauges (reference `BucketedWindow.kt:32-33`,
`FixedTumblingBucketedWindow.kt:149-151`, exported at `Metrics.kt:108-137`)
map to Spark's ``Dataset.observe``: ``with_role_gauges`` plants one counter
per role on the streaming plan (aggregated JVM-side, zero extra shuffle —
observations ride the existing tasks), the engine reports them per
micro-batch in ``progress.observedMetrics``, and the listener accumulates
them — exactly a Micrometer gauge feed.

Each state operator's ``customMetrics`` (for the RocksDB provider: get/put
latencies and counts, commit-phase and load timings, bytes written), its
state row count (``num_rows_total``) and its phase times summed over the
operator's tasks (``updates_time_ms``, ``removals_time_ms`` and
``commit_time_ms``, the state store commit) are kept per batch under
``state_operators``, so a slow stateful batch can be split into state-store
time and the rest of the operator's task time.

The engine's per-batch phase timings (``durationMs``: ``addBatch``,
``queryPlanning``, ``walCommit``, ``commitOffsets``, ``latestOffset``,
``getBatch``, ``triggerExecution``) are kept under ``duration_ms``.
``addBatch`` is the time the sink's ``foreachBatch`` body took, so a slow
sink shows up there without instrumenting the sink.
"""

from __future__ import annotations

import json
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

GAUGE_OBSERVATION = "role_gauges"


def with_role_gauges(
    df: DataFrame,
    role_col: str = "role",
    roles: Sequence[str] = ("user", "assistant", "tool"),
) -> DataFrame:
    """Attach per-class (role) item-count gauges to a (streaming) plan.

    One conditional count per role + a total, evaluated inside the existing
    tasks (no extra pass, no shuffle); per-batch values surface in
    ``StreamingQueryProgress.observedMetrics[GAUGE_OBSERVATION]`` and are
    collected by LineageListener.role_gauge_totals().
    """
    counters = [
        F.count(F.when(F.col(role_col) == r, 1)).alias(f"n_{r}") for r in roles
    ]
    return df.observe(GAUGE_OBSERVATION, F.count(F.lit(1)).alias("n_total"), *counters)


class LineageListener(StreamingQueryListener):
    def __init__(self):
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        ops = p.get("stateOperators", [])
        rec = {
            "query": p.get("name"),
            "batch_id": p.get("batchId"),
            "num_input_rows": p.get("numInputRows"),
            "processed_rows_per_sec": p.get("processedRowsPerSecond"),
            "batch_duration_ms": p.get("batchDuration"),
            "duration_ms": p.get("durationMs", {}),
            "watermark": p.get("eventTime", {}).get("watermark"),
            "state_rows": sum(s.get("numRowsTotal", 0) for s in ops),
            "state_updated": sum(s.get("numRowsUpdated", 0) for s in ops),
            # plan order, one entry per stateful operator of the query
            "state_operators": [
                {
                    "operator": s.get("operatorName"),
                    "num_rows_total": s.get("numRowsTotal"),
                    "updates_time_ms": s.get("allUpdatesTimeMs"),
                    "removals_time_ms": s.get("allRemovalsTimeMs"),
                    "commit_time_ms": s.get("commitTimeMs"),
                    "custom_metrics": s.get("customMetrics", {}),
                }
                for s in ops
            ],
            # progress.json flattens observation Rows to bare value lists —
            # read the typed property to keep the metric names
            "observed": {
                name: row.asDict()
                for name, row in (event.progress.observedMetrics or {}).items()
            },
        }
        self.progress.append(rec)

    def onQueryTerminated(self, event):
        pass

    def onQueryIdle(self, event):
        pass

    # -- reporting ---------------------------------------------------------
    def totals(self) -> dict:
        return {
            "batches": len(self.progress),
            "input_rows": sum(r["num_input_rows"] or 0 for r in self.progress),
            "max_state_rows": max(
                (r["state_rows"] for r in self.progress), default=0
            ),
        }

    def role_gauge_totals(self) -> dict[str, int]:
        """Accumulated per-role counts from with_role_gauges observations
        (the Micrometer-gauge readout: counts per class across batches)."""
        totals: dict[str, int] = {}
        for r in self.progress:
            for k, v in (r.get("observed") or {}).get(GAUGE_OBSERVATION, {}).items():
                if v is not None:
                    totals[k] = totals.get(k, 0) + int(v)
        return totals

    def to_df(self, spark: SparkSession):
        import pandas as pd

        pdf = pd.DataFrame(self.progress).drop(
            columns=["state_operators", "duration_ms"], errors="ignore"
        )
        pdf = pdf.join(
            pd.DataFrame([r["duration_ms"] for r in self.progress]).add_suffix("_ms")
        )
        if "observed" in pdf.columns:
            pdf = pdf.drop(columns=["observed"]).join(
                pd.json_normalize(
                    [
                        (r.get("observed") or {}).get(GAUGE_OBSERVATION, {})
                        for r in self.progress
                    ]
                )
            )
        return spark.createDataFrame(pdf)


def attach(spark: SparkSession) -> LineageListener:
    listener = LineageListener()
    spark.streams.addListener(listener)
    return listener
