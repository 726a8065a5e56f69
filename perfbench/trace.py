"""In-memory span tracer for the traced run.

Spans are recorded from the benchmark's own code around calls into the
program's public functions: (name, start, end, parent, run id). They stay
in memory and are written out once, when the run ends. A span's name is
``<layer>.<call>``, the layer being the ``horus_spark`` module path
(``operators.layout``, ``pipeline``, ``sources.sink``, ...).
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import uuid


class Tracer:
    def __init__(self, run_id: str | None = None):
        self.run_id = run_id or uuid.uuid4().hex
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": idx, "name": name, "parent": parent, "run_id": self.run_id,
               "start_ns": time.perf_counter_ns(), "end_ns": None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            rec["end_ns"] = time.perf_counter_ns()
            self._stack.pop()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans}, fh)


class NullTracer:
    """Tracing off: the same interface, recording nothing."""

    run_id = None
    spans: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        yield None


def _covered_ns(intervals: list[tuple[int, int]]) -> int:
    covered, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            covered += b - a
            end = b
        elif b > end:
            covered += b - end
            end = b
    return covered


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time per layer, in seconds: each span's duration minus the part
    of its interval its children cover, summed by layer (the span name
    without its last dotted component)."""
    children: dict[int, list[tuple[int, int]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start_ns"], s["end_ns"]))
    out: dict[str, float] = {}
    for s in spans:
        own = (s["end_ns"] - s["start_ns"]) - _covered_ns(children.get(s["id"], []))
        layer = s["name"].rsplit(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + own / 1e9
    return out
