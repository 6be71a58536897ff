"""In-memory spans for the traced run.

A span has a name, a start, an end, the id of the span that caused it and
free-form attributes. Spans are kept in a list and written out when the
benchmark ends; ``self_times`` gives each span name's total self time
(duration minus the part of it that child spans cover).
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sp = {
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, reach = 0.0, float("-inf")
    for start, end in sorted(intervals):
        if end > reach:
            total += end - max(start, reach)
            reach = end
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp["parent"] is not None:
            children.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    out: dict[str, float] = {}
    for sp in spans:
        own = sp["end"] - sp["start"] - _covered(children.get(sp["id"], []))
        name = sp["name"].split(":", 1)[0]
        out[name] = out.get(name, 0.0) + own
    return out
