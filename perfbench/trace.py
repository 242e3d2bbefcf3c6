"""Spans for the traced run, and the timing shims that produce them.

A span is (id, name, start, end, parent, thread). Spans live in memory
and are folded into per-layer numbers when the run ends. They come from
two places, both in the benchmark's own files:

- ``Tracer.span``: around calls the benchmark makes;
- ``Tracer.shim``: a wrapper installed over a public function *as seen
  by the module that calls it* (``setattr(module, name, wrapper)``),
  in the traced run only. A call on one of the program's worker
  threads has no span stack of its own; it keeps its thread id and
  takes the operation span as parent.

Only operation spans are recorded while the tracer is inactive, so the
traced run can interleave shim-free operations with traced ones.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    thread: int = 0
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, clock=time.time):
        self.clock = clock
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self.root: Span | None = None  # the open operation span
        self.active = False  # record spans below operation level
        self._undo: list = []

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield None
            return
        with self._record(name, attrs) as s:
            yield s

    @contextmanager
    def _record(self, name: str, attrs: dict):
        st = self._stack()
        parent = st[-1].id if st else (self.root.id if self.root else None)
        s = Span(next(self._ids), name, self.clock(), parent=parent,
                 thread=threading.get_ident(), attrs=attrs)
        with self._lock:
            self.spans.append(s)
        st.append(s)
        try:
            yield s
        finally:
            s.end = self.clock()
            st.pop()

    @contextmanager
    def op(self, name: str, **attrs):
        """The span of one benchmark operation; spans opened on threads
        with no stack of their own hang off it."""
        with self._record(name, attrs) as s:
            self.root = s
            try:
                yield s
            finally:
                self.root = None

    def shim(self, module, attr: str, span_name: str) -> None:
        """Replace ``module.attr`` with a timed wrapper until ``undo``."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            with self.span(span_name):
                return fn(*args, **kwargs)

        setattr(module, attr, timed)
        self._undo.append((module, attr, fn))

    def undo(self) -> None:
        while self._undo:
            module, attr, fn = self._undo.pop()
            setattr(module, attr, fn)


def covered(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
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


def self_times(spans) -> dict[int, float]:
    """Span id -> its duration minus the part of its interval covered
    by its direct children (clipped to the span; children on different
    threads may overlap each other and are counted once)."""
    kids: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        clipped = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in kids.get(s.id, ())
            if min(c.end, s.end) > max(c.start, s.start)
        ]
        out[s.id] = (s.end - s.start) - covered(clipped)
    return out
