"""Spans, Spark counters and summary statistics for the benchmark.

Spans are recorded only from the benchmark's own files, around its calls
into the engine; the engine itself carries no tracing. A span holds its
name, start, end, parent span and the trace id of the delivery or query
it belongs to. Spans stay in memory and are written once, at exit.
"""

from __future__ import annotations

import json
import os
import resource
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. With ``enabled`` false every span is a
    no-op, so the same code path serves traced and untraced operations."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, trace_id: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans),
            "name": name,
            "trace": trace_id or (parent["trace"] if parent else None),
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()

    def durations_ms(self, name: str) -> list[float]:
        return [
            (s["end"] - s["start"]) * 1e3
            for s in self.spans if s["name"] == name and s["end"] is not None
        ]

    def self_times_ms(self) -> dict[str, float]:
        """Per span name, the median self time: the span's duration minus
        the part of it its child spans cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        per_name: dict[str, list[float]] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered, edge = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], edge), min(c["end"] or c["start"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            per_name.setdefault(s["name"], []).append(
                (s["end"] - s["start"] - covered) * 1e3
            )
        return {k: statistics.median(v) for k, v in sorted(per_name.items())}

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {"spans": self.spans, "self_ms_p50": self.self_times_ms(),
                 **extra},
                f,
            )


class SparkCounters:
    """Job and task counts from the status tracker. Job ids are handed
    out in submission order, so the jobs an operation ran are the ids
    issued between two :meth:`boundary` reads. The next id and the
    listener-bus drain are Spark internals, reached through py4j; only
    traced operations use them."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def boundary(self) -> int:
        """The id the next submitted job will get."""
        return self.sc._jsc.sc().dagScheduler().nextJobId()

    def count(self, lo: int, hi: int) -> tuple[int, int]:
        """Jobs with ids in ``[lo, hi)`` and the tasks they completed."""
        # job and stage events reach the status store through the
        # listener bus; drain it so completed task counts are final
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        tasks = 0
        for job in range(lo, hi):
            info = self.tracker.getJobInfo(job)
            for sid in info.stageIds if info is not None else ():
                st = self.tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numCompletedTasks
        return hi - lo, tasks


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail(xs) -> tuple[float, float, int] | None:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile, sample count); None below eleven samples."""
    xs = sorted(xs)
    n = len(xs)
    if n < 11:
        return None
    k = n - 11  # index of the highest sample with ten above it
    return xs[k], 100.0 * (k + 1) / n, n


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident set of this Python process plus its JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    if jvm_pid:
        with open(f"/proc/{jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0
