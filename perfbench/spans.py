"""Spans and summary statistics for the benchmark.

Spans are recorded by the benchmark around each call it makes into an
engine layer. They are kept in memory and written out once, when the
run ends. A disabled tracer records nothing, so untraced runs pay only
for the ``with`` statement.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder.

    Each span has an id, a name, a start and an end (``time.perf_counter``
    seconds), the id of the span that was open when it started, and an
    operation id shared by every span of one benchmark operation.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)

    def write(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            json.dump(
                [{**s, "self_s": selfs[s["id"]]} for s in sorted(self.spans, key=lambda s: s["id"])],
                f,
                indent=0,
            )


def covered_seconds(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total = 0.0
    end = float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → its duration minus the part of it that its child spans
    cover (overlapping children are counted once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        kids = [
            (max(a, s["start"]), min(b, s["end"]))
            for a, b in children.get(s["id"], [])
            if b > s["start"] and a < s["end"]
        ]
        out[s["id"]] = (s["end"] - s["start"]) - covered_seconds(kids)
    return out


def tail(samples: list[float], beyond: int = 10) -> tuple[float, float, int] | None:
    """The highest percentile of ``samples`` that still has at least
    ``beyond`` samples above it: ``(value, percentile, n)``.

    None when there are not enough samples for any such percentile.
    """
    xs = sorted(samples)
    n = len(xs)
    if n <= beyond:
        return None
    rank = n - 1 - beyond
    return xs[rank], 100.0 * (rank + 1) / n, n
