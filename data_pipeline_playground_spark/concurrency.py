"""Driver-side concurrent job submission (ADVICE r10 #3).

Spark schedules jobs submitted from separate driver threads side by
side, so independent stage DAGs (eager cache materializations, the
sampled-audit pred/truth builds) can overlap instead of serializing.
Three call sites grew this pattern independently with plain
``threading.Thread``; under PySpark's default pinned-thread mode plain
threads do NOT inherit the parent's job group / scheduler-pool local
properties, so any future bench-level cancellation or fair-scheduler
pool assignment would silently miss these jobs. This module is the one
shared fan-out, built on ``pyspark.InheritableThread`` (a drop-in
Thread replacement that propagates the inheritable thread-locals).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from typing import Any

from pyspark import InheritableThread
from pyspark.sql import DataFrame


def run_concurrently(thunks: Iterable[Callable[[], Any]]) -> list[Any]:
    """Run ``thunks`` from concurrent driver threads; return their
    results in input order. The first exception (by input order) is
    re-raised on the caller after ALL threads have joined — a failed
    sibling never leaves a zombie job thread behind."""
    thunks = list(thunks)
    out: list[Any] = [None] * len(thunks)
    errs: list[BaseException | None] = [None] * len(thunks)

    def _call(i: int, fn: Callable[[], Any]) -> None:
        try:
            out[i] = fn()
        except BaseException as exc:  # noqa: BLE001 — re-raised below
            errs[i] = exc

    threads = [
        InheritableThread(target=_call, args=(i, fn))
        for i, fn in enumerate(thunks)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for exc in errs:
        if exc is not None:
            raise exc
    return out


def materialize_concurrently(frames: Iterable[DataFrame]) -> None:
    """``cache().count()`` each frame from concurrent driver threads —
    the eager-materialization fan-out used by corpus_funnel's gate
    drop-lists."""
    run_concurrently(
        [lambda df=df: df.cache().count() for df in frames]
    )
