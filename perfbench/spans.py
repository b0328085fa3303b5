"""In-memory spans and counters for the traced benchmark run.

A span records a name, start and end (``time.perf_counter`` seconds),
the index of its parent span, the op id it belongs to and the run phase
(``setup``, ``warm`` or ``run``). Spans are kept in a list and written
out once, when the run ends. A layer's self time is its span's duration
minus the part of that interval its child spans cover.

Spans come only from the benchmark's own files: the workloads open them
around their calls into the package, and ``instrument`` wraps a public
function or method of a package module for the duration of a traced
run, without editing the package.
"""

from __future__ import annotations

import inspect
import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

PACKAGE = "columnar_database_project_spark"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int
    op: int
    phase: str


class Tracer:
    """Span and counter sink. With ``enabled=False`` every call is a
    no-op, so workloads can trace unconditionally."""

    def __init__(self, enabled: bool = True, clock=time.perf_counter) -> None:
        self.enabled = enabled
        self.clock = clock
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.op = -1
        self.phase = "setup"
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append(Span(name, self.clock(), 0.0, parent, self.op, self.phase))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = self.clock()

    def add(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            self.counters[f"{self.phase}:{name}"] += value

    def counter(self, name: str, phase: str = "run") -> float:
        return self.counters.get(f"{phase}:{name}", 0.0)

    # ----------------------------------------------------- instrumentation
    def wrap(self, fn, name: str, on_result=None):
        """``fn`` timed as span ``name``; ``on_result(args, kwargs,
        result)`` may record counters from what the call returned."""

        def traced(*args, **kwargs):
            with self.span(name):
                result = fn(*args, **kwargs)
            if on_result is not None:
                on_result(args, kwargs, result)
            return result

        traced.__wrapped__ = fn
        return traced

    def instrument(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` (a module function or a class's
        method, classmethod or staticmethod) by a traced wrapper. Package
        modules that imported a module function by name are patched too,
        so every caller goes through the wrapper."""
        if not self.enabled:
            return
        orig = inspect.getattr_static(owner, attr)
        if isinstance(orig, (classmethod, staticmethod)):
            new = type(orig)(self.wrap(orig.__func__, name, on_result))
        else:
            new = self.wrap(orig, name, on_result)
        holders = [owner]
        if inspect.ismodule(owner):
            holders += [
                m for key, m in list(sys.modules.items())
                if key.startswith(PACKAGE) and m is not owner
                and getattr(m, "__dict__", {}).get(attr) is orig
            ]
        for h in holders:
            self._patched.append((h, attr, orig))
            setattr(h, attr, new)

    def restore(self) -> None:
        for holder, attr, orig in reversed(self._patched):
            setattr(holder, attr, orig)
        self._patched.clear()

    # ------------------------------------------------------------ analysis
    def self_times(self, phase: str | None = "run") -> dict[str, tuple[float, int]]:
        """name → (total self seconds, calls) over spans of ``phase``
        (all phases when ``None``)."""
        return layer_self_times(self.spans, phase)

    def dump(self, path: str, **extra) -> None:
        """Write spans, counters and the per-name self-time table
        (ms, run phase) to ``path`` as JSON, with ``extra`` keys."""
        record = {
            "spans": [asdict(s) for s in self.spans],
            "counters": dict(self.counters),
            "self_ms": {k: 1000 * v[0] for k, v in self.self_times().items()},
            **extra,
        }
        with open(path, "w") as fh:
            json.dump(record, fh)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
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


def layer_self_times(spans: list[Span], phase: str | None = "run") -> dict[str, tuple[float, int]]:
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent >= 0:
            children[s.parent].append((s.start, s.end))
    out: dict[str, list] = defaultdict(lambda: [0.0, 0])
    for i, s in enumerate(spans):
        if phase is not None and s.phase != phase:
            continue
        own = (s.end - s.start) - covered(children.get(i, []), s.start, s.end)
        out[s.name][0] += own
        out[s.name][1] += 1
    return {k: (v[0], v[1]) for k, v in out.items()}
