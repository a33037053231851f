"""In-memory spans for the traced run.

A span is one call from the benchmark into a package layer: name, layer,
start, end, parent span and run id.  Spans stay in memory and are written
once, when the benchmark ends.  With tracing off the benchmark uses
``NullTracer``, which records nothing.
"""

from __future__ import annotations

import contextlib
import json
import time


class NullTracer:
    enabled = False
    spans: tuple = ()

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        yield

    def add(self, name: str, layer: str, start: float, end: float) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "layer": layer, "parent": parent, "run": self.run_id,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def add(self, name: str, layer: str, start: float, end: float) -> None:
        """Record a span measured elsewhere (a micro-batch reported by Spark)
        as a child of the current span."""
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"id": len(self.spans), "name": name, "layer": layer, "parent": parent,
                           "run": self.run_id, "start": start, "end": end})

    def self_seconds(self) -> dict[str, float]:
        """Per layer: span time minus the part of it covered by child spans."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = _union_length(
                [(max(c["start"], s["start"]), min(c["end"], s["end"])) for c in children.get(s["id"], [])]
            )
            out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str, stamp: dict) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"stamp": stamp, "spans": self.spans}, f)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total
