"""In-memory spans for the traced run.

A span records its name, start, end, parent span and the run id.
Spans live in memory and are written once, at exit. A span's self time
is its duration minus the part of its interval that its children
cover (children may overlap: the crawl stages sibling tables from a
thread pool, so coverage is an interval union, not a sum).
"""

from __future__ import annotations

import contextlib
import json
import re
import threading
import time
from collections import defaultdict


class Tracer:
    """Span recorder. Disabled tracers hand out no spans, so the
    untraced run pays only for the ``with`` statement."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._next_id = 0
        self._owner = threading.get_ident()
        self._main_stack: list[int] = []
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._owner:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _new_id(self) -> int:
        with self._lock:
            self._next_id += 1
            return self._next_id

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record a span around the block. A span opened on a worker
        thread with nothing open on that thread is parented to the
        innermost span open on the thread that owns the tracer."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        rec = {"id": self._new_id(), "name": name, "parent": parent, "run": self.run_id}
        rec.update(attrs)
        stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> None:
        """Record a span measured elsewhere (e.g. parsed from a log)."""
        if self.enabled:
            rec = {"id": self._new_id(), "name": name, "parent": parent,
                   "run": self.run_id, "start": start, "end": end}
            rec.update(attrs)
            with self._lock:
                self.spans.append(rec)

    def write(self, path) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(dict(s, self_s=selfs[s["id"]])) + "\n")


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of closed intervals."""
    total = 0.0
    cur_s = cur_e = None
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


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> duration minus the union of its children's intervals
    (each clipped to the parent's interval)."""
    by_parent: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            by_parent[s["parent"]].append(s)
    out = {}
    for s in spans:
        kids = [
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in by_parent.get(s["id"], [])
            if c["end"] > s["start"] and c["start"] < s["end"]
        ]
        out[s["id"]] = (s["end"] - s["start"]) - covered(kids)
    return out


def summary(spans: list[dict]) -> list[tuple[str, int, float, float]]:
    """(name, count, total_s, self_s) per span name, by total desc."""
    selfs = self_times(spans)
    agg: dict[str, list] = defaultdict(lambda: [0, 0.0, 0.0])
    for s in spans:
        a = agg[s["name"]]
        a[0] += 1
        a[1] += s["end"] - s["start"]
        a[2] += selfs[s["id"]]
    return sorted(((n, c, t, st) for n, (c, t, st) in agg.items()), key=lambda r: -r[2])


_MARK = re.compile(r"(\S+?)=(-?[0-9.]+)s(?:\s|$)")


def parse_epoch_trace(line: str) -> list[tuple[str, float]]:
    """Marks of one ``EPOCH_TRACE`` line, in order: (label, seconds
    since the previous mark). The bracketed per-sibling breakdown is a
    zero-length annotation and is skipped."""
    if not line.startswith("EPOCH_TRACE "):
        return []
    body = re.sub(r"sibling\[[^\]]*\]=\S+", "", line)
    return [
        (label, float(v))
        for label, v in _MARK.findall(body)
        if label not in ("epoch", "n_sched")
    ]
