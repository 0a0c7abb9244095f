"""In-memory span recorder and the per-layer self-time report.

A span is (id, name, start, end, parent, op): ``op`` is shared by every
span of one operation (a trigger, a lookup, a query). Spans are recorded
only from the benchmark's own files, around its calls into the program,
plus child spans derived from what the engine reports (a trigger's
``durationMs`` phases, the ``MetricsRecorder`` sink seconds). Nothing is
written until :meth:`Tracer.dump` at the end of the run.

The layer of a span is its name up to the last dot (``sinks.read.latest``
-> ``sinks.read``); ``op.<query>`` spans are their own layer. Self time is
a span's duration minus the part of it covered by its children.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    """Span recorder. When ``enabled`` is false every call is a no-op
    apart from one attribute test, so untraced runs measure the program."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[tuple] = []
        self._stack: list[int] = []
        self._next_op = 0

    def new_op(self) -> int:
        self._next_op += 1
        return self._next_op

    @property
    def ops(self) -> int:
        """Operations traced so far (triggers, serve operations, passes)."""
        return self._next_op

    @contextmanager
    def span(self, name: str, op: int = 0):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([sid, name, time.time(), None, parent, op])
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid][3] = time.time()

    def add(self, name: str, start: float, end: float, parent: int, op: int) -> int:
        """Record a span whose bounds were measured elsewhere (engine
        progress phases); returns its id for use as a parent."""
        if not self.enabled:
            return -1
        sid = len(self.spans)
        self.spans.append([sid, name, start, end, parent, op])
        return sid

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(
                {
                    "fields": ["id", "name", "start", "end", "parent", "op"],
                    "spans": self.spans,
                },
                fh,
            )


def layer_of(name: str) -> str:
    """``op.<query>`` is its own layer; ``warmup.op.<query>`` spans form
    one set-up layer; otherwise the name less its last component."""
    if name.startswith("op."):
        return name
    if name.startswith("warmup.op."):
        return "warmup.op"
    return name.rsplit(".", 1)[0] if "." in name else name


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list) -> dict[str, dict]:
    """Per layer: span count, total span seconds and self seconds."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s[4] >= 0:
            children.setdefault(s[4], []).append((s[2], s[3]))
    out: dict[str, dict] = {}
    for sid, name, start, end, _parent, _op in spans:
        d = end - start
        own = d - _covered(children.get(sid, []), start, end)
        row = out.setdefault(layer_of(name), {"spans": 0, "total_s": 0.0, "self_s": 0.0})
        row["spans"] += 1
        row["total_s"] += d
        row["self_s"] += own
    return out


def span_cost_s(n: int = 20_000) -> float:
    """Measured cost of recording one span, for the overhead estimate."""
    t = Tracer(True)
    t0 = time.perf_counter()
    for _ in range(n):
        with t.span("x"):
            pass
    return (time.perf_counter() - t0) / n
