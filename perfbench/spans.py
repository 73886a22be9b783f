"""Spans around every call the benchmark makes into a layer.

With tracing off, ``span`` costs one attribute check. With tracing on,
each span records name, start, end, parent and request id, and spans
opened with ``counters=True`` also carry the Spark counters of their
interval (see sparkstats). Spans stay in memory and are written once, at
exit.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from collections import defaultdict

from sparkstats import StatusStore


class Tracer:
    def __init__(self, enabled: bool, stats: StatusStore | None = None) -> None:
        self.enabled = enabled
        self.stats = stats
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.overhead_s = 0.0   # time spent recording, not in the span

    @contextlib.contextmanager
    def span(self, name: str, rid: str | None = None, counters: bool = False):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"id": next(self._ids), "name": name,
               "parent": stack[-1]["id"] if stack else None,
               "rid": rid if rid is not None else (stack[-1]["rid"] if stack else None)}
        mark = self.stats.mark() if counters else None
        rec["start"] = time.perf_counter()
        stack.append(rec)
        cost = rec["start"] - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if counters:
                rec["counters"] = self.stats.since(mark).asdict()
            with self._lock:
                self.spans.append(rec)
                self.overhead_s += cost + time.perf_counter() - rec["end"]

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the time its children
        cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += max(0.0, s["end"] - s["start"] - child[s["id"]])
        return dict(out)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
