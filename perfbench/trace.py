"""In-memory spans around the benchmark's calls into each layer.

A span has a name, a start, an end and a parent. Spans stay in memory
and are written out once, when the run ends. A disabled tracer records
nothing, so the untraced run pays only for the ``with`` statement.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        """Record ``name`` around the block. ``parent`` defaults to the
        innermost open span of this thread; callbacks running on another
        thread (foreachBatch) pass it explicitly."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        rec = {"name": name, "parent": parent, "start": time.perf_counter(), "end": None}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec["id"]
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[str, dict]:
    """Per span name: count, total and self seconds. Self time is a span's
    duration minus the part of its interval that its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, dict] = {}
    for s in spans:
        if s["end"] is None:
            continue
        dur = s["end"] - s["start"]
        kids = [(max(a, s["start"]), min(b, s["end"])) for a, b in children.get(s["id"], [])]
        kids = [(a, b) for a, b in kids if b > a]
        agg = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
        agg["count"] += 1
        agg["total_s"] += dur
        agg["self_s"] += dur - _covered(kids)
    return out
