"""Run-scoped cache lifetime and concurrent composite arms.

Several queries persist a frame that two of their branches consume and
return lazily, so the query cannot unpersist it before its consumer
runs. Such persists register with the current *cache scope* instead: a
serve run, a ``Pipeline.run_dataops`` call, or — for unscoped callers —
the process-wide root scope, which ``release_shared_caches()`` drains.
The scope lives in a ContextVar, so concurrent runs on one SparkSession
never release each other's frames.

Spark keeps ONE cache entry per canonical plan, and ``unpersist`` on any
frame with that plan drops it. Two runs persisting the same plan share
the entry, so it is reference-counted here and unpersisted only when its
last owner releases it.
"""

from __future__ import annotations

import threading
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from contextvars import ContextVar, copy_context

from pyspark.sql import DataFrame

# the default list is the root scope, shared by every unscoped caller
_SCOPE: ContextVar[list] = ContextVar("cache_scope", default=[])
_OWNERS: dict[int, int] = {}
_LOCK = threading.Lock()


def persist_scoped(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it with the current cache scope."""
    key = df._jdf.queryExecution().normalized().semanticHash()
    with _LOCK:
        _OWNERS[key] = _OWNERS.get(key, 0) + 1
    _SCOPE.get().append((key, df))
    return df.persist()


def release_shared_caches() -> None:
    """Unpersist every frame registered with the current scope (the
    root scope for unscoped callers). Idempotent and non-blocking."""
    scope = _SCOPE.get()
    while scope:
        key, df = scope.pop()
        with _LOCK:
            _OWNERS[key] -= 1
            if not _OWNERS[key]:
                del _OWNERS[key]
                df.unpersist()


@contextmanager
def cache_scope():
    """Open a fresh cache scope; everything persisted in it (including
    from ``run_arms`` arms) is released when the block exits."""
    token = _SCOPE.set([])
    try:
        yield
    finally:
        release_shared_caches()
        _SCOPE.reset(token)


def run_arms(*thunks):
    """Run a composite query's independent arms as concurrent Spark jobs
    and return their results in argument order; the first failing arm
    (in argument order) re-raises once every arm has finished.

    A single union job would serialize each arm's driver-side planning
    and codegen behind the previous arm's; on their own threads the
    wall drops from the sum of the arm chains to roughly the largest.
    Arms that materialize do so with an eager ``localCheckpoint``,
    recomputed from the inputs on every invocation (nothing is keyed on
    the plan, so repeated calls stay cold) — which truncates lineage,
    so on long-lived clusters swap it for reliable checkpoints. Each arm
    runs in its own copy of the caller's context, so its persists land
    in the caller's cache scope."""
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(copy_context().run, t) for t in thunks]
        return [f.result() for f in futures]
