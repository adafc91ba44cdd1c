"""In-memory span recorder and the interval arithmetic behind self time.

The benchmark records spans from its own files only: it wraps the public
functions of the engine's modules at the binding each caller actually
uses, so the engine runs unmodified. A span is (name, start, end, parent,
op, thread); spans stay in memory and are written out when the run ends.

Self time of a span = its duration minus the part of its interval that
its child spans cover. Children may run on other threads (foreachBatch
callbacks run on a stream thread); a span opened on a thread with no open
span of its own is parented to the innermost open span of the op thread.
"""

from __future__ import annotations

import functools
import inspect
import sys
import threading
import time
from collections import defaultdict
from collections.abc import Callable, Iterable
from contextlib import contextmanager
from dataclasses import dataclass


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by a set of closed intervals (overlaps
    counted once)."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def clipped(intervals: Iterable[tuple[float, float]], lo: float, hi: float):
    """The intervals intersected with ``[lo, hi]``."""
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    thread: int


def self_times(spans: list[Span]) -> list[float]:
    """Per span: duration minus the union of its children's intervals
    (clipped to the span)."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return [
        (s.end - s.start) - union_length(clipped(children[i], s.start, s.end))
        for i, s in enumerate(spans)
    ]


class Tracer:
    """Records spans while ``enabled``; wrappers installed by ``patch_*``
    cost one attribute test per call when it is off."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.op: int | None = None
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op_thread: int | None = None
        self._op_stack: list[int] = []
        self._restore: list[tuple[object, str, object]] = []
        #: per span name: values returned by ``count`` callbacks
        self.counts: dict[str, list[float]] = defaultdict(list)

    # -- recording -----------------------------------------------------------
    def _stack(self) -> list[int]:
        if threading.get_ident() == self._op_thread:
            return self._op_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _open(self, name: str) -> int:
        st = self._stack()
        parent = st[-1] if st else (self._op_stack[-1] if self._op_stack else None)
        with self._lock:
            self.spans.append(
                Span(name, time.time(), 0.0, parent, self.op, threading.get_ident())
            )
            idx = len(self.spans) - 1
        st.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self.spans[idx].end = time.time()
        self._stack().pop()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = self._open(name)
        try:
            yield
        finally:
            self._close(idx)

    @contextmanager
    def op_span(self, op: int, name: str):
        """The root span of one timed op, opened on the calling thread."""
        self.op = op
        self._op_thread = threading.get_ident()
        try:
            with self.span(name):
                yield
        finally:
            self.op = None

    def wrap(self, name: str, fn: Callable, count: Callable | None = None) -> Callable:
        """``fn`` recorded as span ``name``. ``count(result)``, if given,
        sees every call; its value is appended to ``self.counts[name]``
        while recording."""
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                out = fn(*args, **kwargs)
                if count is not None:
                    count(out)
                return out
            idx = tracer._open(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer._close(idx)
            if count is not None:
                tracer.counts[name].append(count(out))
            return out

        traced.__wrapped_by_tracer__ = True
        return traced

    # -- patching --------------------------------------------------------------
    def _set(self, owner: object, attr: str, value: object) -> None:
        self._restore.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def patch_method(self, cls: type, attr: str, name: str, count=None) -> None:
        """Wrap ``cls.attr``; calls through ``self.attr`` resolve to it."""
        self._set(cls, attr, self.wrap(name, getattr(cls, attr), count))

    def patch_function(self, module, attr: str, name: str, package: str, count=None) -> None:
        """Wrap ``module.attr`` and every by-name import of the same
        function object in any loaded module of ``package``."""
        fn = getattr(module, attr)
        traced = self.wrap(name, fn, count)
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(package):
                continue
            for key, val in list(vars(mod).items()):
                if val is fn:
                    self._set(mod, key, traced)

    def patch_module(self, module, prefix: str, package: str) -> None:
        """Wrap every plain function defined in ``module`` (spans named
        ``prefix.<function>``), each once."""
        names = [
            k
            for k, v in vars(module).items()
            if inspect.isfunction(v)
            and v.__module__ == module.__name__
            and not k.startswith("__")
            and not inspect.isgeneratorfunction(v)
            and not getattr(v, "__wrapped_by_tracer__", False)
        ]
        for k in names:
            self.patch_function(module, k, f"{prefix}.{k}", package)

    def unpatch(self) -> None:
        for owner, attr, value in reversed(self._restore):
            setattr(owner, attr, value)
        self._restore.clear()
