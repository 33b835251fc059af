"""Span recording for the traced run.

A ``Tracer`` wraps every public module-level function of the package
with a span (name, start, end, parent, thread) and keeps the spans in
memory. Spans are recorded from outside the package: functions are
replaced by identity in every loaded package module (and in the
``__spark_entry__`` module), so ``from x import f`` bindings are
wrapped too, and ``uninstall`` puts the originals back.

The current span follows work across ``ThreadPoolExecutor.submit`` and
into Spark: each span entry sets the ``perfbench.span`` local property
on the calling thread, so every job the span submits carries the span
id in its event-log properties, including jobs submitted from driver
threads.
"""

from __future__ import annotations

import contextvars
import functools
import itertools
import sys
import threading
import time
import types
from collections.abc import Callable, Iterator
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass

SPAN_KEY = "perfbench.span"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    thread: int
    start: float
    end: float = 0.0


class Tracer:
    """Records spans. ``set_property(key, value)`` is called with the
    current span id (or None) whenever the current span of a thread
    changes; pass ``SparkContext.setLocalProperty`` to tag jobs."""

    def __init__(self, set_property: Callable[[str, str | None], None] | None = None):
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._current: contextvars.ContextVar[Span | None] = contextvars.ContextVar(
            "perfbench_span", default=None
        )
        self._set_property = set_property
        self._patched: list[tuple[object, str, object]] = []

    def _mark(self, span: Span | None) -> None:
        if self._set_property is not None:
            self._set_property(SPAN_KEY, None if span is None else str(span.id))

    @contextmanager
    def span(self, name: str, layer: str) -> Iterator[Span]:
        parent = self._current.get()
        s = Span(
            next(self._ids),
            name,
            layer,
            parent.id if parent else None,
            threading.get_ident(),
            time.time(),
        )
        self.spans.append(s)
        token = self._current.set(s)
        self._mark(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._current.reset(token)
            self._mark(parent)

    def wrap(self, fn: Callable, layer: str) -> Callable:
        name = f"{layer}.{fn.__name__}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def _adopting(self, parent: Span, fn: Callable) -> Callable:
        def run(*args, **kwargs):
            token = self._current.set(parent)
            self._mark(parent)
            try:
                return fn(*args, **kwargs)
            finally:
                self._current.reset(token)
                self._mark(None)

        return run

    def install(self, package: str, also: tuple[str, ...] = ("__spark_entry__",)) -> None:
        """Wrap the public functions of every loaded ``package`` module
        and patch ``ThreadPoolExecutor.submit`` to carry the span."""
        prefix = package + "."
        mods = [
            m
            for n, m in list(sys.modules.items())
            if isinstance(m, types.ModuleType) and (n.startswith(prefix) or n in also)
        ]
        wrapped: dict[int, tuple[Callable, Callable]] = {}
        for m in mods:
            if not m.__name__.startswith(prefix):
                continue
            layer = m.__name__[len(prefix) :]
            for k, v in vars(m).items():
                if (
                    isinstance(v, types.FunctionType)
                    and v.__module__ == m.__name__
                    and not k.startswith("_")
                ):
                    wrapped[id(v)] = (v, self.wrap(v, layer))
        for m in mods:
            for k, v in list(vars(m).items()):
                hit = wrapped.get(id(v))
                if hit is not None and hit[0] is v:
                    setattr(m, k, hit[1])
                    self._patched.append((m, k, v))

        orig_submit = ThreadPoolExecutor.submit

        def submit(pool, fn, /, *args, **kwargs):
            parent = self._current.get()
            if parent is not None:
                fn = self._adopting(parent, fn)
            return orig_submit(pool, fn, *args, **kwargs)

        ThreadPoolExecutor.submit = submit
        self._patched.append((ThreadPoolExecutor, "submit", orig_submit))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()
