"""Plumbing shared by the workloads: session set-up and teardown, host
sampling (process-tree memory, CPU steal), streaming progress parsing and
percentiles.

Nothing here imports pyspark or the package at module level: ``run.py``
must point the JVM, the Python workers and every temporary file at the
checkout's work directory before either is loaded.
"""

from __future__ import annotations

import json
import math
import os
import signal
import statistics
import sys
import threading
import time
from datetime import datetime, timezone

# The load is sized for a 4-core host driven from one process
# (``local[4]``); every workload uses this many task slots and shuffle
# partitions so that runs on hosts of different size stay comparable.
CORES = 4


# -- statistics ---------------------------------------------------------------

def nearest_rank(values, q: float) -> float:
    """Nearest-rank percentile ``q`` (0..1) of ``values`` (need not be sorted)."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of an empty sample")
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


def median(values) -> float:
    return statistics.median(values) if values else 0.0


# -- process tree -------------------------------------------------------------

def _ppid_map() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces and parentheses: the fields
        # after the last ')' are "state ppid ..."
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    return children


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant of it."""
    children = _ppid_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided among
    the processes mapping it, so the copy-on-write pages of forked Python
    workers are not counted once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the host over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


class HostSampler:
    """What the host did during a timed phase.

    ``peak_mb``: peak summed resident memory of a process (the Spark JVM)
    and all its descendants (the Python workers it forks), sampled on a
    background thread. The root counts its RSS; descendants count their
    PSS, so pages a forked worker still shares with its parent count once.
    (Reading PSS of the JVM itself would walk its whole heap's page tables
    under the JVM's memory-map lock and stall it.)

    ``steal_fraction``: share of CPU time the hypervisor gave to other
    guests. Throughput of a closed loop on a shared host falls with it, so
    runs report it to tell host noise from a change in the program."""

    def __init__(self, root_pid: int, interval_s: float = 0.2):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.steal_fraction = 0.0
        self._cpu0 = (0, 0)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            tree = process_tree(self.root_pid)
            total = _rss_bytes(tree[0]) + sum(_pss_bytes(p) for p in tree[1:])
            self.peak_bytes = max(self.peak_bytes, total)
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "HostSampler":
        self._cpu0 = _cpu_jiffies()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        steal, total = (b - a for a, b in zip(self._cpu0, _cpu_jiffies()))
        self.steal_fraction = steal / total if total else 0.0

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


# -- session ------------------------------------------------------------------

class Session:
    """One benchmark's Spark session.

    ``set_up`` times what a process pays to get going: it launches the
    gateway JVM and runs ``get_spark`` (session start, package shipping,
    Python worker prefork), then the workload's input preparation. The
    package and pyspark are imported before, so module imports are not
    counted.
    """

    def __init__(self, work_dir: str, tracer):
        self.work_dir = work_dir
        self.tracer = tracer
        self.spark = None
        self.setup_s = 0.0  # JVM launch + get_spark + input preparation
        self.start_s = 0.0  # the get_spark part of it

    def conf(self) -> dict[str, str]:
        return {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work_dir, "warehouse"),
            # progress of every timed micro-batch stays readable afterwards
            "spark.sql.streaming.numRecentProgressUpdates": "2000",
        }

    def stop(self) -> None:
        """Stop the SparkContext; the gateway JVM and its workers live on."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def start(self, master: str | None = None):
        """``get_spark``; launches the gateway JVM if none is running
        (``set_up``), else restarts the session in it."""
        from real_time_sliding_window_spark import get_spark

        self.stop()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(
                app_name="perfbench",
                master=master or f"local[{CORES}]",
                shuffle_partitions=CORES,
                extra_conf=self.conf(),
            )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def set_up(self, prepare) -> None:
        """JVM launch + ``get_spark`` + ``prepare(spark)``, timed."""
        import real_time_sliding_window_spark  # noqa: F401

        t0 = time.perf_counter()
        self.start()
        self.start_s = time.perf_counter() - t0
        prepare(self.spark)
        self.setup_s = time.perf_counter() - t0

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def close(self) -> None:
        """Stop Spark, the gateway JVM and every Python worker under it, and
        wait until each has exited."""
        if "pyspark" not in sys.modules:
            return  # failed before pyspark was loaded: nothing was started
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        pids = process_tree(proc.pid) if proc is not None else []
        try:
            self.stop()
        finally:
            if gateway is not None:
                gateway.shutdown()
            if proc is not None:
                # the gateway JVM exits when its stdin reaches EOF
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=30)
            _reap(pids)


def _reap(pids: list[int], timeout_s: float = 15.0) -> None:
    """Wait for ``pids`` (not our children) to exit; kill stragglers."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if alive:
            time.sleep(0.05)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


# -- streaming progress -------------------------------------------------------

def epoch_s(iso: str) -> float:
    """StreamingQueryProgress timestamps ('2026-01-01T00:00:00.000Z')."""
    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc
    ).timestamp()


def progress_of(query) -> list[dict]:
    """Every retained progress report of ``query`` as plain dicts, with the
    trigger start as ``start_s`` (epoch seconds)."""
    out = []
    for p in query.recentProgress:
        d = json.loads(p.json)
        d["start_s"] = epoch_s(d["timestamp"])
        out.append(d)
    return out


def state_op(progress: dict, name_prefix: str) -> dict | None:
    for op in progress.get("stateOperators", ()):
        if op["operatorName"].startswith(name_prefix):
            return op
    return None


def engine_metrics(batches: list[dict], wall_s: float) -> dict[str, float]:
    """Per-batch engine constants from ``durationMs`` of ``batches``."""
    def dur(key):
        return [b["durationMs"].get(key, 0) for b in batches]

    total = [b["batchDuration"] for b in batches]
    return {
        "engine.batches": len(batches),
        "engine.batch_ms_p50": nearest_rank(total, 0.50) if total else 0,
        "engine.batch_ms_p99": nearest_rank(total, 0.99) if total else 0,
        "engine.planning_ms": median(dur("queryPlanning")),
        "engine.wal_commit_ms": median(dur("walCommit")),
        "engine.offset_commit_ms": median(dur("commitOffsets")),
        "engine.busy_fraction": sum(total) / 1000 / wall_s if wall_s else 0,
        "sources.input_rows": sum(b["numInputRows"] for b in batches),
        "sources.latest_offset_ms": median(dur("latestOffset")),
        "sources.get_batch_ms": median(dur("getBatch")),
    }


def state_metrics(batches: list[dict], op_prefix: str, layer: str) -> dict:
    """Task-time and size figures of one stateful operator over ``batches``:
    times are summed, sizes are taken at the last batch."""
    ops = [o for o in (state_op(b, op_prefix) for b in batches) if o]
    last = ops[-1] if ops else {}
    return {
        f"{layer}.updates_ms": sum(o["allUpdatesTimeMs"] for o in ops),
        f"{layer}.removals_ms": sum(o["allRemovalsTimeMs"] for o in ops),
        f"{layer}.commit_ms": sum(o["commitTimeMs"] for o in ops),
        f"{layer}.state_rows": last.get("numRowsTotal", 0),
        f"{layer}.state_bytes": last.get("memoryUsedBytes", 0),
        f"{layer}.rows_dropped_by_watermark": sum(
            o.get("numRowsDroppedByWatermark", 0) for o in ops
        ),
    }


def wait_idle(query, timeout_s: float = 60.0) -> None:
    """Block until ``query`` is between micro-batches (so stopping it does
    not interrupt a batch), or until ``timeout_s`` passes."""
    deadline = time.monotonic() + timeout_s
    while query.status["isTriggerActive"] and time.monotonic() < deadline:
        time.sleep(0.01)
