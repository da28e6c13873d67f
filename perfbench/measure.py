"""Small measurement helpers: percentiles with their sample count, spans,
and bytes/files on disk. Nothing here imports Spark."""

from __future__ import annotations

import math
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass


def percentile(values: list[float], q: float) -> dict:
    """Nearest-rank ``q``-quantile (0 < q < 1) with its sample count and
    the number of samples strictly beyond it.

    A percentile is only worth reporting when at least ten samples lie
    beyond it; ``n_beyond`` lets the caller check that.
    """
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < q < 1:
        raise ValueError("q must lie in (0, 1)")
    ordered = sorted(values)
    rank = max(1, math.ceil(q * len(ordered)))
    value = ordered[rank - 1]
    return {
        "value": value,
        "n": len(ordered),
        "n_beyond": sum(1 for v in ordered if v > value),
    }


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    phase: str
    t0: float
    t1: float = float("nan")
    parent: int | None = None

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """In-memory spans around the calls the benchmark makes into each
    layer. Times are ``time.time()`` seconds so they line up with the
    Spark event log's epoch milliseconds.

    ``on_enter`` is called with the innermost open span (``None`` once
    none is open) whenever that changes; the run uses it to tag the Spark
    jobs each span submits. A disabled tracer records
    nothing and costs one branch per span.
    """

    def __init__(self, enabled: bool, on_enter=None):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.phase = "setup"
        self._stack: list[Span] = []
        self.on_enter = on_enter
        self.hook_s: dict[str, float] = {}  # time inside on_enter, by phase

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(len(self.spans), name, layer, self.phase, time.time(),
                 parent=parent)
        self.spans.append(s)
        self._stack.append(s)
        self._hook(s)
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()
            self._hook(self._stack[-1] if self._stack else None)

    def _hook(self, span: Span | None) -> None:
        if self.on_enter:
            t0 = time.perf_counter()
            self.on_enter(span)
            self.hook_s[self.phase] = (
                self.hook_s.get(self.phase, 0.0) + time.perf_counter() - t0
            )

    def select(self, phase: str) -> list[Span]:
        return [s for s in self.spans if s.phase == phase]


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [t0, t1] intervals."""
    total = 0.0
    end = -math.inf
    for t0, t1 in sorted(intervals):
        if t1 <= end:
            continue
        total += t1 - max(t0, end)
        end = t1
    return total


def tree_bytes(path: str, skip_dirs: tuple[str, ...] = ()) -> tuple[int, int]:
    """(bytes, files) of the parquet data files under ``path``, skipping
    directories named in ``skip_dirs``. Checksums, ``_SUCCESS`` and the
    segment manifests are bookkeeping, not stored data."""
    n_bytes = n_files = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if d not in skip_dirs]
        for f in files:
            if not f.endswith(".parquet"):
                continue
            n_bytes += os.path.getsize(os.path.join(root, f))
            n_files += 1
    return n_bytes, n_files
