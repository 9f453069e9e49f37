"""Spans recorded by the benchmark around its calls into the program.

Spans stay in memory and are written out when the run ends. Each span
carries the CPU the process tree spent while it was open, split into JVM
and Python-worker time, read from ``/proc`` at its start and end.
"""

from __future__ import annotations

import itertools
import os
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from . import procfs


@dataclass
class Span:
    span_id: int
    name: str
    trace_id: str
    parent: int | None
    start: float
    end: float = 0.0
    cpu: dict[str, float] = field(default_factory=dict)
    attrs: dict[str, float] = field(default_factory=dict)
    steal: float = 0.0  # hypervisor steal per vCPU while the span was open

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def net(self) -> float:
        """Duration net of hypervisor steal (see ``procfs.NetClock``)."""
        return self.duration - self.steal


def covered_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, reach = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= reach:
            continue
        total += e - max(s, reach)
        reach = e
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """A span's self time: its duration minus the part of its interval that
    its direct children cover (overlapping children are counted once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.span_id: s.duration - covered_length(kids.get(s.span_id, []), s.start, s.end)
        for s in spans
    }


class Tracer:
    """Records nested spans; ``enabled=False`` makes :meth:`span` a no-op
    that still runs the body, so traced and untraced code paths match."""

    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.trace_id = uuid.uuid4().hex
        self.spans: list[Span] = []
        # time spent in the tracer's own bookkeeping (clock and /proc reads)
        # while spans were open: the tracing overhead
        self.overhead_s = 0.0
        self._ids = itertools.count()
        self._stack: list[int] = []
        self._vcpus = os.cpu_count() or 1

    @contextmanager
    def span(self, name: str, **attrs: float):
        if not self.enabled:
            yield None
            return
        sp = Span(
            span_id=next(self._ids),
            name=name,
            trace_id=self.trace_id,
            parent=self._stack[-1] if self._stack else None,
            start=time.monotonic(),
            attrs=dict(attrs),
        )
        cpu0, steal0 = procfs.tree_cpu(), procfs.steal_s()
        self.spans.append(sp)
        self._stack.append(sp.span_id)
        self.overhead_s += time.monotonic() - sp.start
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.monotonic()
            sp.cpu = procfs.cpu_delta(cpu0, procfs.tree_cpu())
            sp.steal = (procfs.steal_s() - steal0) / self._vcpus
            self.overhead_s += time.monotonic() - sp.end

    def find(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        """Summed net duration of the spans called ``name``."""
        return sum(s.net for s in self.find(name))

    def to_rows(self) -> list[dict]:
        st = self_times(self.spans)
        t0 = min((s.start for s in self.spans), default=0.0)
        rows = []
        for s in self.spans:
            row = asdict(s)
            row.update(
                start=round(s.start - t0, 6),
                end=round(s.end - t0, 6),
                duration_s=round(s.duration, 6),
                net_s=round(s.net, 6),
                self_s=round(st[s.span_id], 6),
            )
            rows.append(row)
        return rows
