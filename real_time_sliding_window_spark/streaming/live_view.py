"""Live view of OPEN windows, read from the append pipeline's own state.

The reference's primary read path is polling the in-flight bucket
(`FixedTumblingBucketedWindow.kt:80-98` ``currentBucket``/``buckets``
getters, exercised at `FixedTumblingBucketedWindowTest.kt:287-291`): "what
is in the window RIGHT NOW", before the window closes. The append-mode
pipeline (streaming/pipeline.py + sink.py) only emits a window after the
watermark passes its end, but its state store already holds every open
window's running aggregate. So one query answers both questions, from two
sources:

- closed windows: the rows ``start`` appends into an
  ``ExactlyOnceParquetSink`` at the view's root;
- open windows: Spark's state data source,
  ``spark.read.format("statestore").load(<checkpoint>)``. Its key is
  ``(window, *keys)`` and its value the aggregation buffer
  ``(count, min, max)``, which for ``windowed_stream`` without
  ``extra_aggs`` or ``content_payload`` is already
  ``(n_rows, first_ts, last_ts)``.

Both halves are read at one batch: ``N``, the last entry in
``<checkpoint>/commits``. The state is read at ``batchId`` ``N`` and the
sink only up to ``batch_id <= N``. The sink commits batch ``N+1`` before
the engine writes ``commits/N+1``; after a crash in that gap, an unpinned
read would show a window that closed in ``N+1`` twice, open in the state
and closed in the sink.

Reads are tested between runs of an availableNow query. Reading while the
query runs is unverified. A view root written by the earlier update-mode
store (several versions of one window in its sink) must be started fresh:
those rows would read as closed windows. Session windows are refused:
their output and state are keyed by session, not ``window``.
"""

from __future__ import annotations

import os
from datetime import datetime
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_sliding_window_spark.config import WindowSpec
from real_time_sliding_window_spark.streaming.pipeline import windowed_stream
from real_time_sliding_window_spark.streaming.sink import ExactlyOnceParquetSink


class LiveWindowView:
    """The reference's bucket getters over one append-mode window query.

    ``start`` appends closed windows into the sink at ``root`` and records
    the query's checkpoint there (``_checkpoint``), so a view opened on the
    same root reads the same query. ``buckets`` unions the checkpoint's
    open windows with the sink's closed ones, both pinned to the last
    committed batch (see the module docstring).
    """

    def __init__(self, root: str):
        self.root = root
        self.sink = ExactlyOnceParquetSink(root, track_lineage=False)
        self._checkpoint_file = os.path.join(root, "_checkpoint")

    def start(
        self,
        stream: DataFrame,
        spec: WindowSpec,
        checkpoint: str,
        ts_col: str = "ts",
        keys: Sequence[str] = (),
        trigger_available_now: bool = True,
        query_name: str = "rtsw-live-view",
    ):
        """Start the append-mode window aggregation into this view.

        Returns the running StreamingQuery (caller owns stop/await).
        """
        if spec.kind == "session":
            raise ValueError(
                "LiveWindowView reads windows keyed by 'window'; session "
                f"windows ({spec.name!r}) have another output and state layout"
            )
        with open(self._checkpoint_file, "w") as f:
            f.write(os.path.abspath(checkpoint))
        agg = windowed_stream(stream, spec, ts_col=ts_col, keys=keys)
        writer = (
            agg.writeStream.foreachBatch(self.sink.foreach_batch())
            .outputMode("append")
            .option("checkpointLocation", checkpoint)
            .queryName(query_name)
        )
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def buckets(
        self, spark: SparkSession, keys: Sequence[str] = ()
    ) -> DataFrame:
        """Every window seen so far, open and closed, one row per
        (window, keys) — the reference's ``buckets`` getter. Open windows
        come from the query's state, closed ones from the sink, both as of
        the last committed batch."""
        with open(self._checkpoint_file) as f:
            checkpoint = f.read()
        commits = os.path.join(checkpoint, "commits")
        committed = [int(n) for n in os.listdir(commits) if n.isdigit()]
        if not committed:
            raise FileNotFoundError(f"no committed batch under {checkpoint}")
        last = max(committed)
        key = F.col("key")
        open_windows = (
            spark.read.format("statestore")
            .option("batchId", last)
            .load(checkpoint)
            .select(
                key["window"]["start"].alias("window_start"),
                key["window"]["end"].alias("window_end"),
                *[key[k].alias(k) for k in keys],
                F.col("value.count").alias("n_rows"),
                F.col("value.min").alias("first_ts"),
                F.col("value.max").alias("last_ts"),
            )
        )
        # the sink committed every batch up to ``last`` before the engine did
        closed = self.sink.read_committed(spark, with_batch_id=True)
        return open_windows.unionByName(
            closed.filter(F.col("batch_id") <= last).drop("batch_id")
        )

    def current_bucket(
        self,
        spark: SparkSession,
        now: datetime,
        keys: Sequence[str] = (),
    ) -> DataFrame:
        """The reference's ``currentBucket`` getter: the live contents of
        the window containing ``now`` — readable mid-stream, BEFORE the
        watermark closes it."""
        return self.buckets(spark, keys).filter(
            (F.col("window_start") <= F.lit(now))
            & (F.col("window_end") > F.lit(now))
        )

    def non_current_buckets(
        self,
        spark: SparkSession,
        now: datetime,
        keys: Sequence[str] = (),
    ) -> DataFrame:
        """The reference's ``nonCurrentBuckets`` getter: every window that
        ended at or before ``now`` (closed buckets only)."""
        return self.buckets(spark, keys).filter(F.col("window_end") <= F.lit(now))
