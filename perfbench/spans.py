"""Spans around calls into the program's layers, recorded from outside.

The traced run wraps public functions of each layer (the engine's
``sql``, the front-end's ``translate``, ``SparkSession.sql``, the
DataFrame fetch calls, the protocol server's request handlers and the
hive catalog's write methods) with timers, then restores them.  Spans
stay in memory, keyed by the statement the benchmark client was running
when they started, and are written out when the run ends.

One closed-loop client runs at a time, so every span that starts while
statement ``i`` is in flight belongs to statement ``i``, whichever
thread (client or server handler) ran it.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    stmt: int
    name: str
    start: float
    end: float
    thread: int
    depth: int  # nesting depth of spans with the same name on one thread


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.current = -1
        # per-statement sums for work too fine-grained to keep as spans
        self.sums: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self._depth = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    # -- recording ---------------------------------------------------------

    def _enter(self, name: str) -> int:
        d = getattr(self._depth, name, 0)
        setattr(self._depth, name, d + 1)
        return d

    def _exit(self, name: str, start: float, depth: int) -> None:
        setattr(self._depth, name, depth)
        span = Span(self.current, name, start, time.perf_counter(),
                    threading.get_ident(), depth)
        with self._lock:
            self.spans.append(span)

    def add(self, name: str, value: float) -> None:
        with self._lock:
            self.sums[self.current][name] += value

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Time every call of ``owner.attr`` as a span called ``name``."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def timed(*args, **kwargs):
            depth = tracer._enter(name)
            start = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                tracer._exit(name, start, depth)

        setattr(owner, attr, timed)
        self._patches.append((owner, attr, orig))

    def wrap_iterator(self, owner: object, attr: str, name: str) -> None:
        """Time the call of ``owner.attr`` and every ``next`` on the
        iterator it returns, summed per statement under ``name``."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def timed(*args, **kwargs):
            start = time.perf_counter()
            it = orig(*args, **kwargs)
            tracer.add(name, time.perf_counter() - start)
            return _TimedIterator(it, tracer, name)

        setattr(owner, attr, timed)
        self._patches.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- analysis ----------------------------------------------------------

    def per_statement(self, name: str, outermost: bool = True) -> dict[int, float]:
        """Seconds spent in spans called ``name``, per statement."""
        out: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.name == name and (s.depth == 0 or not outermost):
                out[s.stmt] += s.end - s.start
        return out

    def calls(self, name: str) -> dict[int, int]:
        out: dict[int, int] = defaultdict(int)
        for s in self.spans:
            if s.name == name:
                out[s.stmt] += 1
        return out

    def self_time(self, name: str) -> dict[int, float]:
        """Per statement: time in outermost ``name`` spans minus the part
        of those intervals that other spans on the same thread cover."""
        out: dict[int, float] = defaultdict(float)
        by_thread: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            by_thread[s.thread].append(s)
        for spans in by_thread.values():
            for parent in spans:
                if parent.name != name or parent.depth != 0:
                    continue
                children = [
                    (c.start, c.end) for c in spans
                    if c is not parent and c.name != name
                    and c.start >= parent.start and c.end <= parent.end
                ]
                out[parent.stmt] += (parent.end - parent.start) - covered(children)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


class _TimedIterator:
    def __init__(self, it, tracer: Tracer, name: str):
        self._it = it
        self._tracer = tracer
        self._name = name

    def __iter__(self):
        return self

    def __next__(self):
        start = time.perf_counter()
        try:
            return next(self._it)
        finally:
            self._tracer.add(self._name, time.perf_counter() - start)


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total = 0.0
    end = float("-inf")
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total
