"""Outside-in tracer: spans and counters recorded around the engine's
public functions by swapping module attributes from the benchmark's side.

The engine's modules import their collaborators by name (``runner`` does
``from .cdc import incremental_load``), so a wrapper must replace the name
in the module that *calls* it, not only where it is defined. ``Patcher``
swaps those attributes and puts the originals back; no engine file changes.

A span records name, start, end, parent and trace id, and lives in memory
until the run writes the whole list out. A span opened on a thread with no
open span of its own takes as parent the open fan-out span (the runner's
pool drain) or else the tracer's current root (one sync cycle or one
pipeline iteration), so the runner's worker threads hang off the drain of
the cycle that started them. Self time is a span's duration minus the part
of it that its child spans cover.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    trace: str
    thread: int


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counters: Counter = Counter()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.root: Span | None = None
        self.fanout: Span | None = None


    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, trace: str | None = None, fanout: bool = False):
        """Open a span. With ``trace`` set it becomes the root, and with
        ``fanout`` set the parent, that spans opened on other threads attach
        to until it closes."""
        st = self._stack()
        parent = st[-1] if st else (self.fanout or self.root)
        sp = Span(
            next(self._ids), name, time.perf_counter(), 0.0,
            parent.sid if parent else None,
            trace or (parent.trace if parent else ""),
            threading.get_ident(),
        )
        st.append(sp)
        if trace is not None:
            self.root = sp
        if fanout:
            self.fanout = sp
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            st.pop()
            if trace is not None:
                self.root = None
            if fanout:
                self.fanout = None
            with self._lock:
                self.spans.append(sp)

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counters[name] += n

    def active(self, name: str) -> bool:
        """True when a span called ``name`` is open on this thread."""
        return any(s.name == name for s in self._stack())

    def timed(self, name: str, fn, after=None):
        """``fn`` wrapped in a span; ``after(result, args, kwargs)`` runs
        once the span has closed, so its own cost stays out of the span."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if after is not None:
                after(out, args, kwargs)
            return out

        return wrapper

    def counted(self, name: str, fn, after=None):
        """``fn`` counted, not timed: for functions that only build a lazy
        DataFrame, whose cost lands in the span of the action that runs it."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            self.count(f"{name}.calls")
            out = fn(*args, **kwargs)
            if after is not None:
                after(out, args, kwargs)
            return out

        return wrapper


class Patcher:
    """Swaps attributes and restores them in reverse order."""

    def __init__(self) -> None:
        self._saved: list[tuple[object, str, object]] = []

    def set(self, owner: object, attr: str, value: object) -> None:
        self._saved.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def restore(self) -> None:
        while self._saved:
            owner, attr, value = self._saved.pop()
            setattr(owner, attr, value)


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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: (s.end - s.start) - covered(kids.get(s.sid, []), s.start, s.end)
        for s in spans
    }


def worker_summed(spans: list[Span], root: Span) -> float:
    """The root's time with its threads added up: the root's duration, plus
    for every span in its tree the durations of its children on other
    threads, minus the part of the span those children cover (the opening
    thread was waiting on them then). Counted without self times, it equals
    their sum over the tree when spans nest properly on every thread."""
    tree = subtree(spans, root)
    kids: dict[int, list[Span]] = {}
    for s in tree:
        kids.setdefault(s.parent, []).append(s)
    total = root.end - root.start
    for p in tree:
        away = [c for c in kids.get(p.sid, []) if c.thread != p.thread]
        total += sum(c.end - c.start for c in away)
        total -= covered([(c.start, c.end) for c in away], p.start, p.end)
    return total


def subtree(spans: list[Span], root: Span) -> list[Span]:
    """``root`` and every span below it."""
    by_parent: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            by_parent.setdefault(s.parent, []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(by_parent.get(s.sid, []))
    return out
