"""In-memory spans for the traced run, written out when the run ends.

A span is (name, start, end, parent, run id). Spans nest through a stack, so
the parent is the span open when the child started. Self time is a span's
duration minus the part of it its children cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from typing import Dict, Iterator, List, Optional


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: List[Dict] = []
        self._stack: List[int] = []

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[Dict]:
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def with_self_times(self) -> List[Dict]:
        return self_times(self.spans)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.with_self_times():
                f.write(json.dumps(rec) + "\n")


def _covered(intervals: List[List[float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, reach = 0.0, None
    for s, e in sorted(intervals):
        if reach is None or s > reach:
            total += e - s
            reach = e
        elif e > reach:
            total += e - reach
            reach = e
    return total


def self_times(spans: List[Dict]) -> List[Dict]:
    """Copies of `spans` with `dur` and `self` (seconds) added."""
    kids: Dict[Optional[int], List[Dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = []
    for s in spans:
        dur = s["end"] - s["start"]
        cover = _covered([[max(c["start"], s["start"]), min(c["end"], s["end"])]
                          for c in kids.get(s["id"], ())])
        out.append(dict(s, dur=dur, self=dur - cover))
    return out
