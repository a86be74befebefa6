"""Spans around the benchmark's calls into the program's layers.

A :class:`Tracer` built without a collector only times (tracing off: the
end-to-end runs). With a collector, every :meth:`Tracer.span` also runs
its body in its own Spark job group, reads the group's counters when the
body returns, and keeps a span record (name, start, end, parent, trace
id) in memory; :meth:`Tracer.write` saves them when the run ends.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from collector import Collector, Counters


@dataclass
class Span:
    span_id: int
    name: str
    trace_id: str
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, collector: Collector | None) -> None:
        self.collector = collector
        self.spans: list[Span] = []
        # trace id -> layer span name -> summed counters of that trace
        self.by_trace: dict[str, dict[str, Counters]] = defaultdict(lambda: defaultdict(Counters))
        self._lock = threading.Lock()
        self._local = threading.local()

    @property
    def on(self) -> bool:
        return self.collector is not None

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _open(self, name: str, trace_id: str) -> Span:
        stack = self._stack()
        with self._lock:
            parent = stack[-1].span_id if stack else None
            span = Span(len(self.spans), name, trace_id, parent, time.perf_counter())
            self.spans.append(span)
        stack.append(span)
        return span

    @contextmanager
    def trace(self, trace_id: str, name: str):
        """Root span of one job or query; a no-op with tracing off."""
        if not self.on:
            yield
            return
        span = self._open(name, trace_id)
        try:
            yield
        finally:
            span.end = time.perf_counter()
            self._stack().pop()

    @contextmanager
    def span(self, layer: str):
        """Span around one public call into ``layer`` (e.g. ``plans.pregel``)."""
        if not self.on:
            yield
            return
        parent = self._stack()[-1]
        span = self._open(layer, parent.trace_id)
        try:
            with self.collector.group(layer) as gid:
                yield
        finally:
            span.end = time.perf_counter()
            self._stack().pop()
        c = self.collector.read(gid)
        c.wall_s = span.end - span.start
        span.counters = asdict(c)
        with self._lock:
            self.by_trace[span.trace_id][layer].add(c)

    def layer_medians(self, layer: str, cores: int) -> dict[str, float]:
        """Median over traces that called ``layer`` of its per-trace
        counters, plus the driver-floor share 1 - task time / (wall x
        cores). Empty when no trace called the layer."""
        per_trace = [t[layer] for t in self.by_trace.values() if layer in t]
        if not per_trace:
            return {}
        out = {k: statistics.median(getattr(c, k) for c in per_trace) for k in asdict(per_trace[0])}
        out["driver_floor_share"] = statistics.median(
            1.0 - c.task_run_s / (c.wall_s * cores) for c in per_trace
        )
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
