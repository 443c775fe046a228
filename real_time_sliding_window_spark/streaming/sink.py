"""Exactly-once idempotent sink + checkpoint/resume.

North-rule requirement: rerun from checkpoint ⇒ identical output rows. The
production target is an Iceberg table (``writeStream.format("iceberg")`` —
atomic snapshot commits + checkpointed offsets give end-to-end exactly-once).
The Iceberg runtime jar needs network access this sandbox doesn't have, so
the same contract is implemented against parquet with the standard
``foreachBatch`` idempotence pattern:

- each micro-batch writes to ``data/batch_id=N`` via a temp dir + atomic
  rename (readers never see partial output);
- a commit manifest (one marker file per batch id) makes redelivery a no-op:
  after a crash between sink-write and checkpoint-commit, Structured
  Streaming re-runs the batch with the SAME deterministic batch id and the
  sink skips it — this is exactly Iceberg's commit-dedup keyed on
  (queryId, epochId), re-expressed on a filesystem.

``read_committed`` reads back only committed batches, so a torn write is
invisible. Lineage (per-partition row counts per batch) is read from the
committed part files of the batch's single write: ``part-NNNNN`` names the
partition that wrote the file and the parquet footer holds its row count.
The manifest therefore describes exactly the files it commits, and a batch
costs one Spark job — no cached copy, no second evaluation of the plan.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession


def _partition_rows(data_dir: str) -> dict[str, int]:
    """Rows per writing partition of one parquet write: the partition id
    comes from the ``part-NNNNN-…`` file name, the count from the footer,
    summed over the partition's ``c000``, ``c001``, … files. Zero-row files
    (Spark writes one for an empty write) leave no entry."""
    import pyarrow.parquet as pq

    out: dict[str, int] = {}
    for name in os.listdir(data_dir):
        if not (name.startswith("part-") and name.endswith(".parquet")):
            continue
        n = pq.read_metadata(os.path.join(data_dir, name)).num_rows
        if n:
            pid = str(int(name.split("-", 2)[1]))
            out[pid] = out.get(pid, 0) + n
    return out


class ExactlyOnceParquetSink:
    def __init__(self, root: str, track_lineage: bool = True):
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.commit_dir = os.path.join(root, "_commits")
        for d in (self.data_dir, self.commit_dir):
            os.makedirs(d, exist_ok=True)
        self.track_lineage = track_lineage

    # -- sink side ---------------------------------------------------------
    def _commit_marker(self, batch_id: int) -> str:
        return os.path.join(self.commit_dir, f"{batch_id}.json")

    def write_batch(self, df: DataFrame, batch_id: int) -> None:
        """foreachBatch body. Idempotent per batch_id."""
        if os.path.exists(self._commit_marker(batch_id)):
            # redelivered batch after recovery: its rows are committed, but
            # the plan still runs (into the noop sink) so the batch's state
            # stores commit — Spark refuses a batch whose stateful operators
            # left a partition uncommitted
            df.write.format("noop").mode("overwrite").save()
            return
        target = os.path.join(self.data_dir, f"batch_id={batch_id}")
        # a crashed attempt's temp dir: the retry picks a new uuid, and one
        # writer per sink root running batches in order makes it garbage
        for name in os.listdir(self.root):
            if name.startswith(f"_tmp_{batch_id}_"):
                shutil.rmtree(os.path.join(self.root, name), ignore_errors=True)
        tmp = os.path.join(self.root, f"_tmp_{batch_id}_{uuid.uuid4().hex}")
        df.write.mode("overwrite").parquet(tmp)
        partitions = _partition_rows(tmp) if self.track_lineage else {}
        if os.path.exists(target):
            shutil.rmtree(target)  # torn write from a previous attempt
        os.rename(tmp, target)
        payload = {
            "batch_id": batch_id,
            "partitions": partitions,
            "rows": sum(partitions.values()),
        }
        marker_tmp = self._commit_marker(batch_id) + ".tmp"
        with open(marker_tmp, "w") as f:
            json.dump(payload, f)
        os.rename(marker_tmp, self._commit_marker(batch_id))

    def foreach_batch(self):
        return lambda df, bid: self.write_batch(df, bid)

    # -- read side ---------------------------------------------------------
    def committed_batches(self) -> list[int]:
        return sorted(
            int(n.split(".")[0])
            for n in os.listdir(self.commit_dir)
            if n.endswith(".json")
        )

    def read_committed(
        self, spark: SparkSession, with_batch_id: bool = False
    ) -> DataFrame:
        """All committed rows. ``with_batch_id=True`` recovers the writing
        batch's id as a ``batch_id`` column (partition-directory discovery
        via basePath) — callers that must tell a retry's own rows apart
        from genuinely earlier data (the ingest guards) need it."""
        batches = self.committed_batches()
        paths = [
            os.path.join(self.data_dir, f"batch_id={b}")
            for b in batches
            if os.path.exists(os.path.join(self.data_dir, f"batch_id={b}"))
        ]
        if not paths:
            raise FileNotFoundError(f"no committed batches under {self.root}")
        if with_batch_id:
            return spark.read.option("basePath", self.data_dir).parquet(*paths)
        return spark.read.parquet(*paths)

    def read_batch(self, spark: SparkSession, batch_id: int) -> DataFrame:
        """Rows of ONE committed batch — the retry short-circuit readback
        (a committed batch's rows ARE its decision record)."""
        path = os.path.join(self.data_dir, f"batch_id={batch_id}")
        if not os.path.exists(self._commit_marker(batch_id)):
            raise FileNotFoundError(
                f"batch {batch_id} not committed under {self.root}"
            )
        return spark.read.parquet(path)

    def lineage(self) -> list[dict]:
        out = []
        for b in self.committed_batches():
            with open(self._commit_marker(b)) as f:
                out.append(json.load(f))
        return out


def run_to_sink(
    result: DataFrame,
    sink: ExactlyOnceParquetSink,
    checkpoint: str,
    query_name: str = "rtsw",
):
    """Start the stream with availableNow (drain-everything) semantics and
    block until done. Checkpoint dir is the WindowName-uniqueness analogue
    (SURVEY.md §1.1)."""
    q = (
        result.writeStream.foreachBatch(sink.foreach_batch())
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
