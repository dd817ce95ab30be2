"""In-memory spans recorded at layer boundaries by the benchmark's own code.

A span is ``(id, parent, name, start, end)`` with ``perf_counter`` times.
Spans stay in memory and are written once, when the run ends.
"""

from __future__ import annotations

import functools
import json
import time


class Tracer:
    def __init__(self, prefix: str = ""):
        self.prefix = prefix
        self.spans: list[tuple] = []
        self._stack: list[str] = []

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span named ``name``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


class _Span:
    __slots__ = ("tracer", "name", "sid", "parent", "start")

    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name

    def __enter__(self):
        t = self.tracer
        self.sid = f"{t.prefix}{len(t.spans) + len(t._stack)}"
        self.parent = t._stack[-1] if t._stack else None
        t._stack.append(self.sid)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        t = self.tracer
        t._stack.pop()
        t.spans.append((self.sid, self.parent, self.name, self.start, end))
        return False


def self_times(spans) -> dict[str, dict]:
    """Per span name: call count, total time and self time (total minus the
    time covered by direct children)."""
    child_time: dict[str, float] = {}
    for _sid, parent, _name, start, end in spans:
        if parent is not None:
            child_time[parent] = child_time.get(parent, 0.0) + (end - start)
    out: dict[str, dict] = {}
    for sid, _parent, name, start, end in spans:
        agg = out.setdefault(name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        agg["calls"] += 1
        agg["total_s"] += end - start
        agg["self_s"] += (end - start) - child_time.get(sid, 0.0)
    return out


def write(path: str, spans, summary: dict) -> None:
    with open(path, "w") as fh:
        json.dump(
            {
                "summary": summary,
                "spans": [
                    {"id": s, "parent": p, "name": n, "start": a, "end": b}
                    for s, p, n, a, b in spans
                ],
            },
            fh,
        )
