#!/usr/bin/env python3
"""Streaming turn benchmark for ``real_time_sliding_window_spark``.

Run from the root of a checkout::

    python3 perfbench/run.py --workload ring_drain --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

Workloads: ``ring_drain``, ``ring_live``, ``window_live`` (see
``workloads.py``), or ``all`` to run each in its own process. Every
workload runs on ``local[4]`` with its inputs drawn from ``--seed``, times
``--seconds`` of work after a warm-up, and checks its outputs.
``BENCHMARK.json`` gates ``ring_drain`` and ``window_live``; ``ring_live``
runs on request only (``RESULTS.md`` says why).

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` runs the workload again with probes at the layer boundaries
and reports the per-layer metrics instead, and writes its spans to
``.perfbench_work/traces/``. A readable report goes first; the last line of
standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``.

All files (checkpoints, state stores, sink output, Spark scratch, the
package zip) live under ``.perfbench_work/`` in the checkout, on disk.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile

from harness import CORES

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOAD_NAMES = ("ring_drain", "ring_live", "window_live")


def configure_environment(run_dir: str) -> None:
    """Point the JVM, its Python workers and every temporary file at
    ``run_dir``; must run before pyspark or the package is imported."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    log4j = os.path.join(HERE, "log4j2.properties")
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
        filter(None, [
            os.environ.get("SPARK_SUBMIT_OPTS", ""),
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile=file://{log4j}",
            # no hsperfdata file in the system temp directory
            "-XX:-UsePerfData",
        ])
    )
    # pyspark's Arrow serializer warns on every empty group frame
    os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning"
    # get_spark sizes its scan parallelism from this; pin it to the load's
    # core count so hosts of another size run the same plans
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    sys.path.insert(0, ROOT)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _finite(v) -> bool:
    return isinstance(v, (int, float)) and math.isfinite(v)


def report(workload: str, res, spec: dict, trace: bool) -> dict:
    """Print the readable report; return the result object."""
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    source = res.layers if trace else res.metrics
    metrics = {}
    print(f"== {workload} ({'traced, per-layer' if trace else 'end-to-end'})")
    for m in wanted:
        v = source.get(m["name"], 0.0)
        metrics[m["name"]] = {"value": v if _finite(v) else None,
                              "unit": m["unit"]}
        print(f"  {m['name']:<32} {v!s:>22} {m['unit']}")
    if not trace:
        # peak RSS follows the JVM's heap growth and spreads too widely
        # between runs to gate; it is shown here and in the traced run
        print(f"  {'peak_rss_mb':<32} {res.metrics['peak_rss_mb']!s:>22} MB "
              "(not gated)")
    ratio = res.failed / res.attempted if res.attempted else 1.0
    print(f"  {'failed_ratio':<32} {ratio!s:>22} ratio "
          f"({res.failed} of {res.attempted} micro-batches and checks)")
    for k, v in res.notes.items():
        print(f"  note {k}: {v}")
    for name, ok, detail in res.checks:
        print(f"  check {'ok  ' if ok else 'FAIL'} {name}: {detail}")
    correct = res.failed == 0 and all(
        x["value"] is not None for x in metrics.values()
    )
    return {
        "correct": correct,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }


def run_one(args) -> int:
    spec = load_spec()
    run_dir = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    configure_environment(run_dir)

    from harness import Session
    from tracing import Tracer
    from workloads import WORKLOADS, Context

    tracer = Tracer(enabled=bool(args.trace))
    session = Session(run_dir, tracer)
    ctx = Context(session, tracer, args.seed, args.seconds, bool(args.trace),
                  run_dir)
    try:
        res = WORKLOADS[args.workload](ctx)
    finally:
        session.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    out = report(args.workload, res, spec, bool(args.trace))
    if args.trace:
        path = os.path.join(WORK, "traces",
                            f"{args.workload}-seed{args.seed}.json")
        tracer.dump(path)
        print(f"  spans written to {os.path.relpath(path, ROOT)}")
    print(json.dumps(out), flush=True)
    return 0


def run_all(args) -> int:
    """Each workload in its own process; one combined result line."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOAD_NAMES:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, cwd=ROOT,
        )
        lines = proc.stdout.rstrip("\n").split("\n")
        print("\n".join(lines[:-1]), flush=True)
        if proc.returncode != 0:
            print(f"{name} exited with code {proc.returncode}", file=sys.stderr)
            return proc.returncode or 1
        one = json.loads(lines[-1])
        combined["correct"] &= one["correct"]
        combined["attempted"] += one["attempted"]
        combined["failed"] += one["failed"]
        for k, v in one["metrics"].items():
            combined["metrics"][f"{name}.{k}"] = v
    print(json.dumps(combined), flush=True)
    return 0


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=WORKLOAD_NAMES + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if args.seconds < 1:
        p.error("--seconds must be at least 1")
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
