"""In-memory spans around calls into the package's public functions.

A span is (id, name, parent id, start, end). Spans are kept in a list
and written out once, when the run ends. ``Tracer.on`` switches
recording; when it is off every wrapper is a plain pass-through, so one
process can time the same op with and without tracing.

``install`` replaces functions on their modules. Query modules bind
``caching.memo`` and the operator entry points by name when they are
imported, so it must run before ``registry.all_queries`` loads them.
"""

from __future__ import annotations

import functools
import inspect
import threading
import time
from contextlib import contextmanager
from types import ModuleType

OPERATOR_MODULES = ("lexrank", "dedup", "minhash")


class Tracer:
    def __init__(self, on: bool):
        self.on = on
        self.spans: list[dict] = []
        self._local = threading.local()

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def current(self) -> str | None:
        stack = self._stack()
        return self.spans[stack[-1]]["name"] if stack else None

    @contextmanager
    def span(self, name: str):
        if not self.on:
            yield None
            return
        stack = self._stack()
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": stack[-1] if stack else None,
            "start": time.time(),
        }
        self.spans.append(rec)
        stack.append(rec["id"])
        p0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - p0
            rec["end"] = rec["start"] + rec["wall_s"]
            stack.pop()

    def wrap(self, name: str, fn, outermost_prefix: str | None = None):
        """``fn`` timed as span ``name``; with ``outermost_prefix``, a call
        made from inside another span with that prefix is not recorded."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if outermost_prefix and (self.current() or "").startswith(outermost_prefix):
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper


def _public_functions(mod: ModuleType) -> list[str]:
    return [
        n for n, f in vars(mod).items()
        if inspect.isfunction(f) and not n.startswith("_") and f.__module__ == mod.__name__
    ]


def install(tracer: Tracer) -> None:
    """Wrap ``caching.memo`` and the public entry points of the lexrank,
    dedup and minhash operator modules."""
    import importlib

    from data_pipeline_playground_spark import caching

    caching.memo = tracer.wrap("caching.memo", caching.memo)
    for short in OPERATOR_MODULES:
        mod = importlib.import_module(f"data_pipeline_playground_spark.operators.{short}")
        prefix = f"operators.{short}."
        for fname in _public_functions(mod):
            setattr(mod, fname, tracer.wrap(prefix + fname, getattr(mod, fname), prefix))
