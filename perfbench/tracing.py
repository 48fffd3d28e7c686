"""Spans around the calls the benchmark makes into the package's layers.

Tracing lives entirely in the benchmark: :meth:`Tracer.install` replaces
the module-level functions and class methods of the traced modules with
timing wrappers, and re-binds every name other package modules imported
from them, so ``from ..operators.linkage import link_reads_to_samples``
in a query module also goes through the wrapper. Nothing in the package
is edited and untraced runs install nothing.

A wrapper keeps its original's ``__module__`` and ``__qualname__`` and
is what the module attribute now holds, so when Spark pickles a kernel
by reference the worker imports the plain, unwrapped original.

Spans are kept in memory: name, layer, start, end, parent and the id of
the query execution they ran under. Self time is a span's duration minus
the part of it that its child spans cover.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    layer: str
    qexec: str | None
    start: float  # epoch seconds, the clock Spark's event log uses
    end: float = 0.0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.qexec: str | None = None  # query execution the harness is in
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.current_thread()
        self._main_stack: list[int] = []
        self._local.stack = self._main_stack

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def open(self, name: str, layer: str) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else None
        if parent is None and threading.current_thread() is not self._main:
            # callbacks (e.g. a streaming foreachBatch) run on another
            # thread while the main thread waits inside its open span
            parent = self._main_stack[-1] if self._main_stack else None
        with self._lock:
            span = Span(len(self.spans), parent, name, layer, self.qexec, time.time())
            self.spans.append(span)
        stack.append(span.sid)
        return span

    def close(self, span: Span) -> None:
        span.end = time.time()
        self._stack().pop()

    @contextmanager
    def span(self, name: str, layer: str):
        s = self.open(name, layer)
        try:
            yield s
        finally:
            self.close(s)

    def wrap(self, fn, layer: str):
        name = f"{layer}.{fn.__qualname__}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            s = self.open(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(s)

        return traced

    def install(self, layers: dict[str, str], package: str) -> int:
        """Wrap every function and method defined in the ``layers`` modules.

        ``layers`` maps a module name to its layer label. Returns the
        number of callables wrapped. Methods are wrapped on their class,
        which every importer shares; functions are re-bound wherever a
        package module imported them.
        """
        swapped: dict[int, object] = {}  # id(original function) -> wrapper
        methods = 0
        for modname, layer in layers.items():
            mod = importlib.import_module(modname)
            for attr, obj in list(vars(mod).items()):
                if getattr(obj, "__module__", None) != modname:
                    continue
                if getattr(obj, "__qualname__", None) != attr:
                    continue
                if inspect.isfunction(obj):
                    swapped[id(obj)] = self.wrap(obj, layer)
                    setattr(mod, attr, swapped[id(obj)])
                elif inspect.isclass(obj):
                    for mname, meth in list(vars(obj).items()):
                        if inspect.isfunction(meth) and not mname.startswith("__"):
                            setattr(obj, mname, self.wrap(meth, layer))
                            methods += 1
        # re-bind names other modules imported before the swap; each
        # wrapper holds its original, so the ids stay valid
        for modname, mod in list(sys.modules.items()):
            if mod is None or not modname.startswith(package):
                continue
            for attr, obj in list(vars(mod).items()):
                if inspect.isfunction(obj) and id(obj) in swapped:
                    setattr(mod, attr, swapped[id(obj)])
        return len(swapped) + methods


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(children.get(s.sid, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.sid] = max(0.0, (s.end - s.start) - covered)
    return out


def innermost(spans: list[Span], t: float) -> Span | None:
    """The latest-started span whose interval holds time ``t``."""
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.start >= best.start):
            best = s
    return best
