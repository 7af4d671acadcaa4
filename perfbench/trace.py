"""Spans recorded from outside the package.

A traced run wraps public layer functions of ``sparrow_ipc_spark`` with
timing shims (``Patcher``).  Each call becomes a span: name, start, end,
parent and the op it belongs to.  Spans stay in memory; the breakdown is
computed when the run ends.

A span's *self time* is its duration minus the part of its interval that
its child spans cover.  Children that overlap each other (the two verify
passes run in parallel) are counted once in that coverage, so the self
times of an op's spans can add up to more than the op's wall; the excess
is reported as ``overlap``:

    op wall = sum(layer self time) - overlap + unaccounted
"""

from __future__ import annotations

import functools
import itertools
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    op: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
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


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the union of its children's intervals (clipped
    to the span)."""
    clipped = [(max(c.start, span.start), min(c.end, span.end)) for c in children]
    return span.dur - union_length([(s, e) for s, e in clipped if e > s])


class Tracer:
    """In-memory span recorder.  ``op()`` opens the root span of one op;
    ``span()`` opens a child of the calling thread's innermost open span.
    A thread with no open span (a pool thread the op started) parents its
    spans to the innermost open span of the op's own thread — the call
    that is waiting on the pool."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.active = False
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._op_stack: list[Span] = []

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def op(self, name: str):
        root = Span(next(self._ids), -1, name, None, time.time())
        root.op = root.sid
        self._op_stack = self._stack()
        self._op_stack.append(root)
        try:
            yield root
        finally:
            root.end = time.time()
            self._op_stack.pop()
            with self._lock:
                self.spans.append(root)

    @contextmanager
    def span(self, name: str):
        st = self._stack()
        parent = st[-1] if st else (self._op_stack[-1] if self._op_stack else None)
        if not self.active or parent is None:  # untraced, or outside any op
            yield None
            return
        sp = Span(next(self._ids), parent.op, name, parent.sid, time.time())
        st.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            st.pop()
            with self._lock:
                self.spans.append(sp)


def op_breakdown(spans: list[Span], root: Span) -> dict:
    """Self time per span name within one op, plus unaccounted and overlap.

    ``unaccounted`` is the root's self time (op wall not covered by any
    layer span); ``overlap`` is what parallel siblings double count."""
    kids: dict[int, list[Span]] = defaultdict(list)
    mine = [s for s in spans if s.op == root.sid and s.sid != root.sid]
    for s in mine:
        kids[s.parent].append(s)
    layer: dict[str, float] = defaultdict(float)
    for s in mine:
        layer[s.name] += self_time(s, kids[s.sid])
    unaccounted = self_time(root, kids[root.sid])
    overlap = sum(layer.values()) + unaccounted - root.dur
    return {"wall": root.dur, "layers": dict(layer),
            "unaccounted": unaccounted, "overlap": max(0.0, overlap)}


def ancestors(span: Span, by_id: dict[int, Span]):
    p = span.parent
    while p is not None and p in by_id:
        yield by_id[p]
        p = by_id[p].parent


class Patcher:
    """Installs timing shims on functions and methods, and removes them.

    A module-level function is replaced in every loaded ``sparrow_ipc_spark``
    module that binds it (``from x import f`` copies the binding), so the
    shim sees calls made through any of those names."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self._undo: list[tuple[object, str, object]] = []

    def _shim(self, fn, name: str, on_call=None):
        tracer = self.tracer

        @functools.wraps(fn)
        def shim(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with tracer.span(name) as sp:
                out = fn(*args, **kwargs)
            if on_call is not None and sp is not None:
                on_call(sp, args, kwargs, out)
            return out

        return shim

    def function(self, module, attr: str, name: str, on_call=None,
                 around=None) -> None:
        orig = getattr(module, attr)
        target = around(orig) if around else orig
        shim = self._shim(target, name, on_call)
        for mod in list(sys.modules.values()):
            modname = getattr(mod, "__name__", "") or ""
            if not modname.startswith("sparrow_ipc_spark"):
                continue
            for k, v in list(vars(mod).items()):
                if v is orig:
                    self._undo.append((mod, k, v))
                    setattr(mod, k, shim)

    def method(self, cls, attr: str, name: str, on_call=None) -> None:
        orig = cls.__dict__[attr]
        self._undo.append((cls, attr, orig))
        setattr(cls, attr, self._shim(orig, name, on_call))

    def restore(self) -> None:
        for obj, k, v in reversed(self._undo):
            setattr(obj, k, v)
        self._undo.clear()
