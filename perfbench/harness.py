"""Measurement helpers shared by the workloads: percentiles, spans, metrics.

Nothing here imports Spark, so the self-tests run without a JVM.
"""

from __future__ import annotations

import json
import math
import re
import resource
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

METRIC_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank ``p``-th percentile that refuses thin tails: at least
    ``MIN_BEYOND`` samples must lie beyond it, else ``ValueError``."""
    n = len(values)
    beyond = n * (100.0 - p) / 100.0
    if beyond < MIN_BEYOND:
        raise ValueError(
            f"p{p:g} of {n} samples has {beyond:.1f} beyond it; "
            f"need {MIN_BEYOND}")
    ordered = sorted(values)
    return ordered[max(0, math.ceil(p / 100.0 * n) - 1)]


def median(values: list[float]) -> float:
    """Median of repeated whole measurements (set-up, build walls)."""
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def peak_rss_mb() -> float:
    """Peak resident set of this (client) process, in MB."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def cpu_burn_s(n: int = 1_000_000) -> float:
    """Wall of a fixed pure-Python loop: a drift gauge for the machine."""
    t = time.perf_counter()
    acc = 0
    for i in range(n):
        acc = (acc * 31 + i) % 1_000_003
    return time.perf_counter() - t


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    request: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
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


class Tracer:
    """In-memory spans around the benchmark's calls into each layer.

    Disabled, ``span`` still yields (so call sites need no branches) but
    records nothing. Spans are written out only by :meth:`dump`.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.request: int | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent,
                               self.request, attrs))
        self._stack.append(idx)
        try:
            yield attrs
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def self_time(self, idx: int, children: list[Span] | None = None
                  ) -> float:
        """Span duration minus the part of it its child spans cover."""
        sp = self.spans[idx]
        if children is None:
            children = [c for c in self.spans if c.parent == idx]
        kids = [(max(c.start, sp.start), min(c.end, sp.end))
                for c in children]
        return sp.duration - _covered([k for k in kids if k[1] > k[0]])

    def total(self, name: str) -> float:
        return sum(s.duration for s in self.spans if s.name == name)

    def attr_sum(self, name: str, key: str) -> float:
        return sum(s.attrs.get(key, 0) for s in self.spans if s.name == name)

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        rows = [{"id": i, "name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, "request": s.request,
                 "self_s": self.self_time(i, children.get(i, [])), **s.attrs}
                for i, s in enumerate(self.spans)]
        path.write_text(json.dumps(rows, indent=0))


class Metrics:
    """Named, unit-carrying results; names are checked on the way in."""

    def __init__(self):
        self.values: dict[str, dict] = {}

    def put(self, name: str, value: float, unit: str) -> None:
        if not METRIC_NAME.match(name):
            raise ValueError(f"bad metric name {name!r}")
        if not unit:
            raise ValueError(f"metric {name!r} has no unit")
        if name in self.values:
            raise ValueError(f"metric {name!r} emitted twice")
        self.values[name] = {"value": float(value), "unit": unit}


class Checks:
    """Counts operations attempted and failed (raised or wrong result)."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.messages: list[str] = []

    def record(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.messages.append(what)
        return ok
