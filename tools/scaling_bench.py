#!/usr/bin/env python
"""Two-cluster-size scaling evidence: the same streaming jobs at local[8]
(N) pinned to 8 CPUs and local[32] (4N) on 32 CPUs, identical corpus +
watermark settings.

The north rule's two-cluster-size criterion can't use a real cluster in
this sandbox, so pinned parallelism stands in for executor count: each run
is its own JVM (subprocess) restricted with ``taskset -c 0-(N-1)`` —
``local[N]`` alone is NOT an N-core cluster on a bigger box, because Python
workers, GC and shuffle/IO helper threads spill onto the idle cores and
inflate the small-N baseline. Efficiency = (tps_4N / tps_N) / 4.

Jobs (per level, after an untimed warmup pass that pre-starts the Python
workers and JIT-compiles the generated code; best of REPS timed runs):

- **featurize+window** — per-turn featurization (tokenize, md5 fingerprint,
  quality counters — all JVM codegen) feeding a per-conversation tumbling
  window aggregation, over a corpus with realistic ~450-char turns. This is
  the training-data-pipeline shape of the reference's windowed grouping.
- **ring buffer** — the applyInPandasWithState count+age ring buffer
  (ADD/DUP/EVICT) over a wide corpus of short turns (state machinery and
  Arrow boundary dominate — the operator's honest cost).

Known single-box floor: RocksDB state-store commits land on ONE local disk
at every level, whereas a real 4N-executor cluster has 4N state disks; the
reported efficiency is therefore a lower bound for the cluster number.

Usage:
    python tools/scaling_bench.py              # full run, writes BENCH/BASELINE.md
    python tools/scaling_bench.py --run-one 8  # child mode: one JSON line
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

LEVELS = (8, 32)
REPS = int(os.environ.get("RTSW_SCALE_REPS", "2"))
# which jobs to run ("fw,ring"): tenancy noise is one-sided (it only ever
# SLOWS a run), so the quiet-host estimate per level is best-of-many runs —
# job selection lets extra runs target the noisier job without paying for
# both
JOBS = set(os.environ.get("RTSW_SCALE_JOBS", "fw,ring").split(","))
# RTSW_SCALE_STATE_DIR: place checkpoints + spark.local.dir there (e.g.
# /dev/shm). Models the per-executor NVMe state disks a real 4N-executor
# cluster has — on this single box every level otherwise funnels RocksDB
# commits + changelog uploads through ONE shared disk, a topology artifact
# a cluster doesn't have (the disk term is constant, not 4x, at 4N).
STATE_DIR = os.environ.get("RTSW_SCALE_STATE_DIR")

# featurize+window corpus: realistic turn lengths
FW_CONVS = int(os.environ.get("RTSW_SCALE_FW_CONVS", "640000"))
FW_TURNS = 25
FW_REP = 40
# ring corpus: many conversations, short turns
RING_CONVS = int(os.environ.get("RTSW_SCALE_CONVS", "320000"))
RING_TURNS = 25


def _corpus(spark, name: str, n_convs: int, mean_turns: int, text_rep: int) -> tuple[str, int]:
    import tempfile

    from real_time_sliding_window_spark.synth import transcripts_df

    path = os.path.join(
        tempfile.gettempdir(), f"rtsw_scale_{name}_{n_convs}_{mean_turns}_{text_rep}"
    )
    marker = os.path.join(path, "_DONE")
    if not os.path.exists(marker):
        if os.path.exists(path):
            shutil.rmtree(path)
        transcripts_df(
            spark, n_convs, mean_turns=mean_turns, text_rep=text_rep
        ).repartition(128).write.mode("overwrite").parquet(path)
        open(marker, "w").close()
    n = spark.read.parquet(path).count()
    return path, n


def run_one(cpus: int) -> None:
    import tempfile
    from datetime import timedelta

    from pyspark.sql import functions as F

    from real_time_sliding_window_spark.config import WindowSpec
    from real_time_sliding_window_spark.operators.stateful import ring_buffer_stream
    from real_time_sliding_window_spark.session import get_spark
    from real_time_sliding_window_spark.streaming.pipeline import windowed_stream
    from real_time_sliding_window_spark.synth import TRANSCRIPT_SCHEMA

    extra = {}
    if STATE_DIR:
        os.makedirs(STATE_DIR, exist_ok=True)
        extra["spark.local.dir"] = STATE_DIR
    spark = get_spark(
        app_name=f"rtsw-scale-{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf=extra,
    )
    spark.sparkContext.setLogLevel("ERROR")

    def src(path):
        return (
            spark.readStream.schema(TRANSCRIPT_SCHEMA)
            .option("maxFilesPerTrigger", "128")
            .parquet(path)
        )

    def featurize(stream):
        tok = F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
        return (
            stream.withColumn("__tok", tok)
            .withColumn("n_tokens", F.size("__tok").cast("long"))
            .withColumn("n_distinct", F.expr("size(array_distinct(__tok))").cast("long"))
            .withColumn(
                "alnum",
                F.expr("aggregate(__tok, 0L, (a, t) -> a + length(t))"),
            )
            .withColumn("fp", F.md5(F.array_join("__tok", " ")))
            .drop("__tok")
        )

    # 10-minute windows: the state-row count (windows x convs) stays small
    # relative to input rows, so the measurement is compute-dominant — the
    # single local disk every level shares can't scale 4x and would
    # otherwise floor the ratio (a real 4N cluster has 4N state disks).
    spec = WindowSpec(
        name=f"sc{cpus}", length="10 minutes", watermark_delay="30 seconds"
    )

    def fw_job(path):
        return windowed_stream(
            featurize(src(path)),
            spec,
            keys=["conv_id"],
            extra_aggs=[
                F.sum("n_tokens").alias("sum_tokens"),
                F.sum("n_distinct").alias("sum_distinct"),
                F.sum("alnum").alias("sum_alnum"),
                F.min("fp").alias("fp_min"),
            ],
        )

    def ring_job(path):
        return ring_buffer_stream(
            src(path), timedelta(seconds=30),
            max_duration=timedelta(minutes=10), max_data=64,
        )

    def run(df, name) -> float:
        ckpt = tempfile.mkdtemp(prefix=f"sc_{name}_{cpus}_", dir=STATE_DIR)
        t0 = time.monotonic()
        q = (
            df.writeStream.foreachBatch(
                lambda d, b: d.write.format("noop").mode("overwrite").save()
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        dt = time.monotonic() - t0
        shutil.rmtree(ckpt, ignore_errors=True)
        return dt

    # only the selected jobs' corpora are built; each job first runs an
    # untimed warmup: starts cpus Python workers, JITs codegen, opens stores
    out = {"cpus": cpus}
    if STATE_DIR:
        out["state_dir"] = STATE_DIR
    if "fw" in JOBS:
        fw_path, fw_rows = _corpus(spark, "fw", FW_CONVS, FW_TURNS, FW_REP)
        warm_fw, _ = _corpus(spark, "fw_warm", 2000, FW_TURNS, FW_REP)
        out["fw_rows"] = fw_rows
        run(fw_job(warm_fw), "warm_fw")
        dt_fw = min(run(fw_job(fw_path), f"fw{i}") for i in range(REPS))
        out["window_tps"] = round(fw_rows / dt_fw)
        out["window_sec"] = round(dt_fw, 2)
    if "ring" in JOBS:
        ring_path, ring_rows = _corpus(spark, "ring", RING_CONVS, RING_TURNS, 1)
        warm_ring, _ = _corpus(spark, "ring_warm", 8000, RING_TURNS, 1)
        out["ring_rows"] = ring_rows
        run(ring_job(warm_ring), "warm_ring")
        dt_ring = min(run(ring_job(ring_path), f"ring{i}") for i in range(REPS))
        out["ring_tps"] = round(ring_rows / dt_ring)
        out["ring_sec"] = round(dt_ring, 2)
    print(json.dumps(out))
    spark.stop()


def main() -> None:
    if len(sys.argv) >= 3 and sys.argv[1] == "--run-one":
        run_one(int(sys.argv[2]))
        return

    results = {}
    for cpus in LEVELS:
        # Pin the child to exactly `cpus` physical CPUs (see module docstring).
        cmd = [sys.executable, os.path.abspath(__file__), "--run-one", str(cpus)]
        if shutil.which("taskset"):
            cmd = ["taskset", "-c", f"0-{cpus - 1}"] + cmd
        out = subprocess.run(
            cmd, capture_output=True, text=True, cwd=REPO, timeout=3600,
        )
        lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
        if not lines:
            sys.stderr.write(out.stdout[-2000:] + "\n" + out.stderr[-4000:])
            raise SystemExit(f"child failed at {cpus} cpus")
        results[cpus] = json.loads(lines[-1])
        print(lines[-1])

    n, x4 = results[LEVELS[0]], results[LEVELS[1]]
    ratio = LEVELS[1] / LEVELS[0]
    summary = {"levels": LEVELS, "results": results}
    if "fw" in JOBS:
        summary["scaling_efficiency_window"] = round(
            (x4["window_tps"] / n["window_tps"]) / ratio, 3
        )
    if "ring" in JOBS:
        summary["scaling_efficiency_ring"] = round(
            (x4["ring_tps"] / n["ring_tps"]) / ratio, 3
        )
    print(json.dumps(summary))
    if JOBS >= {"fw", "ring"}:
        _write_baseline_md(summary)
    else:
        # job-subset runs are extra per-level samples for the curated
        # multi-run analysis in BENCH/BASELINE.md — never clobber it with
        # a partial snapshot
        print("(job subset: summary printed only, BASELINE.md untouched)")


def _write_baseline_md(s: dict) -> None:
    n, x4 = s["results"][LEVELS[0]], s["results"][LEVELS[1]]
    md = f"""# BENCH/BASELINE.md — measured performance baseline

**Reference numbers:** none exist — the reference publishes no benchmarks
(see /root/repo/BASELINE.md). The baseline below is measured by this repo's
harnesses on local[*] (32-core box, single JVM).

## Two-cluster-size scaling evidence (north rule)

Protocol: identical corpus, watermark and job at two parallelism levels,
each level pinned to exactly that many physical CPUs with `taskset`
(`local[N]` alone leaks helper threads onto idle cores and inflates the
small-N baseline). One availableNow drain batch; untimed warmup first
(Python workers + JIT); best of {REPS} timed runs. Efficiency =
(tps@4N / tps@N) / 4.

| job | rows | N={LEVELS[0]} tps | 4N={LEVELS[1]} tps | efficiency |
|---|---|---|---|---|
| featurize + tumbling window agg (JVM codegen, realistic ~450-char turns) | {n["fw_rows"]:,} | {n["window_tps"]:,} | {x4["window_tps"]:,} | **{s["scaling_efficiency_window"]}** |
| stateful ring buffer (applyInPandasWithState, maxDuration+maxData) | {n["ring_rows"]:,} | {n["ring_tps"]:,} | {x4["ring_tps"]:,} | **{s["scaling_efficiency_ring"]}** |

Single-box caveat: RocksDB state-store commits write to ONE local disk at
every level; a real 4N-executor cluster has 4N state disks, so these
efficiencies are a lower bound for the cluster setting. The featurize+
window job (compute-dominant, bounded state) is the cleaner proxy for the
shuffle/agg scaling the rule targets.

## Headline throughput

`python3 perfbench/run.py --workload ring_drain|window_live --seconds 10`
prints one JSON line per run: setup_s, turns_per_s, emit_p50_s, emit_p99_s
and failed_ratio (workloads and layer map: perfbench/RESULTS.md).

## Correctness gates

- `python -m pytest tests/ -x -q` — reference-scenario parity (F1-F8).
- `python tools/oracle_check.py` — every `queries()` entry vs its DuckDB
  oracle at sf0.01: row count, column names, order-insensitive value hash.
"""
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "w") as f:
        f.write(md)
    print(f"wrote {os.path.join(REPO, 'BENCH', 'BASELINE.md')}")


if __name__ == "__main__":
    main()
