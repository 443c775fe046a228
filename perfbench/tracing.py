"""In-memory spans for the traced run, and the probes that feed them.

The probes sit at the package's public boundaries, outside the package:

- ``traced_ring_fn`` wraps the body that ``make_ring_buffer_fn`` returns and
  counts calls, timer calls and rows, and times the body's own work through
  Spark accumulators. Time spent pulling input frames and time the
  generator is suspended at ``yield`` (output serialization by the engine)
  are excluded.
- ``TimedSink`` times ``ExactlyOnceParquetSink.write_batch`` per batch.
- ``Tracer.span`` times calls made from this process (``get_spark``,
  corpus writes, whole queries).
- ``trace_batches`` adds a span per micro-batch from Spark's public
  ``StreamingQueryProgress``.

Spans are kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Span:
    __slots__ = ("name", "parent", "start", "end", "attrs")

    def __init__(self, name: str, parent: str | None, start: float):
        self.name, self.parent, self.start = name, parent, start
        self.end = start
        self.attrs: dict = {}

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans (name, parent, start, end in epoch seconds) when
    enabled; when disabled only measures durations, keeping nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str, parent: str | None = None, **attrs):
        sp = Span(name, parent, time.time())
        sp.attrs.update(attrs)
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = sp.start + (time.perf_counter() - t0)
            if self.enabled:
                self.spans.append(sp)

    def add(self, name: str, start: float, end: float,
            parent: str | None = None, **attrs) -> None:
        if self.enabled:
            sp = Span(name, parent, start)
            sp.end = end
            sp.attrs.update(attrs)
            self.spans.append(sp)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                [
                    {"name": s.name, "parent": s.parent, "start": s.start,
                     "end": s.end, **s.attrs}
                    for s in self.spans
                ],
                f,
                indent=0,
            )


def trace_batches(tracer: Tracer, progress: list[dict], parent: str) -> None:
    """One span per micro-batch from its ``StreamingQueryProgress``, with
    the engine's ``durationMs`` split and the ``stateOperators`` figures."""
    for p in progress:
        tracer.add(
            "engine.batch", p["start_s"], p["start_s"] + p["batchDuration"] / 1000,
            parent=parent, batch_id=p["batchId"], rows=p["numInputRows"],
            durationMs=p["durationMs"], stateOperators=p.get("stateOperators", []),
        )


class RingProbe:
    """Accumulators filled by the traced ring body on the executors."""

    def __init__(self, sc):
        self.invocations = sc.accumulator(0)
        self.timeout_invocations = sc.accumulator(0)
        self.idle_wakeups = sc.accumulator(0)
        self.rows_in = sc.accumulator(0)
        self.rows_out = sc.accumulator(0)
        self.body_self_s = sc.accumulator(0.0)

    def counts(self) -> dict[str, float]:
        """Current totals; subtract two of these to scope a time window."""
        return {
            name: getattr(self, name).value
            for name in ("invocations", "timeout_invocations", "idle_wakeups",
                         "rows_in", "rows_out", "body_self_s")
        }

    @staticmethod
    def metrics(c: dict[str, float]) -> dict[str, float]:
        """Per-layer metrics from (a difference of) ``counts()``."""
        calls, timeouts = c["invocations"], c["timeout_invocations"]
        data_calls = calls - timeouts
        return {
            "stateful.invocations": calls,
            "stateful.timeout_invocations": timeouts,
            "stateful.rows_in": c["rows_in"],
            "stateful.rows_out": c["rows_out"],
            "stateful.rows_per_invocation": (
                c["rows_in"] / data_calls if data_calls else 0
            ),
            "stateful.idle_wakeup_ratio": (
                c["idle_wakeups"] / timeouts if timeouts else 0
            ),
            "stateful.body_self_s": c["body_self_s"],
        }


def traced_ring_fn(fn, probe: RingProbe):
    """Wrap a ring-buffer body (``make_ring_buffer_fn``'s result) so each
    call reports into ``probe``. The wrapper yields exactly what ``fn``
    yields."""
    invocations = probe.invocations
    timeout_invocations = probe.timeout_invocations
    idle_wakeups = probe.idle_wakeups
    rows_in_acc = probe.rows_in
    rows_out_acc = probe.rows_out
    body_self = probe.body_self_s

    def wrapped(key, pdfs, state):
        clock = time.perf_counter
        timed_out = state.hasTimedOut
        pulled = [0, 0.0]  # input rows, seconds spent producing input

        def counted(frames):
            while True:
                t = clock()
                try:
                    frame = next(frames)
                except StopIteration:
                    pulled[1] += clock() - t
                    return
                pulled[1] += clock() - t
                pulled[0] += len(frame)
                yield frame

        body = fn(key, counted(iter(pdfs)), state)
        busy = 0.0
        out_rows = 0
        while True:
            t = clock()
            try:
                frame = next(body)
            except StopIteration:
                busy += clock() - t
                break
            busy += clock() - t
            out_rows += len(frame)
            yield frame  # suspended here: engine-side output serialization
        invocations.add(1)
        if timed_out:
            timeout_invocations.add(1)
            if out_rows == 0:
                idle_wakeups.add(1)
        rows_in_acc.add(pulled[0])
        rows_out_acc.add(out_rows)
        body_self.add(busy - pulled[1])

    return wrapped


class TimedSink:
    """``foreachBatch`` function that times ``sink.write_batch`` per batch."""

    def __init__(self, sink, tracer: Tracer):
        self.sink = sink
        self.tracer = tracer
        self.write_ms: dict[int, float] = {}

    def __call__(self, df, batch_id: int) -> None:
        with self.tracer.span("sink.write_batch", batch_id=batch_id) as sp:
            self.sink.write_batch(df, batch_id)
        self.write_ms[batch_id] = sp.duration * 1000
