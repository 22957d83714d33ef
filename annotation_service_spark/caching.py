"""One cache per plan, released by its scope.

Operators cache an intermediate (shingles, signatures, fingerprints,
tf relations, pair sets) when the plan they return reads it more than
once. The returned DataFrame is lazy, so the operator cannot release
the cache itself; this module owns that lifetime.

- **Identity is the plan.** ``scoped_cache(df)`` looks for a resident
  cache whose analyzed plan ``sameResult``s ``df``'s (candidates by
  ``semanticHash``, then confirmed) and returns it; otherwise it
  caches ``df`` and registers it. That is the identity Spark's own
  CacheManager matches on, so two sites that build the same plan
  share one cache, and distinct plans coexist: building an operator
  on input B never evicts the cache of the same operator on input A.
- **Lifetime is a scope.** ``with scope():`` opens a scope on a
  per-thread stack. A cache registered while a scope is open belongs
  to the innermost scope and is unpersisted when it exits, also on an
  exception. A cache registered outside every scope belongs to the
  root scope, which ``release_caches()`` ends (open scopes are left
  alone). A resident cache found by identity keeps its owner, so an
  inner scope never releases an outer scope's cache.

Releasing a cache only loses a cache hit, never an answer: Spark
recomputes an unpersisted relation from its lineage. One lock guards
the registry, because refresh streams run beside serving threads.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame

# (semanticHash, cached DataFrame, owning scope token)
_live_caches: list[tuple[int, DataFrame, object]] = []
_ROOT = object()
_lock = threading.Lock()
_local = threading.local()


def is_cached(df: DataFrame) -> bool:
    """True when the session's cache manager holds ``df``'s plan — a
    plan lookup, it runs nothing."""
    sl = df.storageLevel
    return sl.useMemory or sl.useDisk


def _stack() -> list[object]:
    if not hasattr(_local, "stack"):
        _local.stack = []
    return _local.stack


def scoped_cache(df: DataFrame) -> DataFrame:
    """Return the resident cache of ``df``'s plan, caching and
    registering ``df`` in the innermost open scope if there is none.

    A registered handle whose data an external
    ``catalog.clearCache()`` dropped is not returned (that would
    silently disable caching for the rest of the pipeline): it leaves
    the registry and ``df`` is cached afresh. A plan cached outside
    this registry is returned unregistered — its owner decides when
    it goes."""
    plan = df._jdf.queryExecution().analyzed()
    h = plan.semanticHash()
    with _lock:
        for i, (ph, prev, _owner) in enumerate(_live_caches):
            if ph == h and prev._jdf.queryExecution().analyzed().sameResult(plan):
                if is_cached(prev):
                    return prev
                del _live_caches[i]
                break
        if is_cached(df):
            return df
        cached = df.cache()
        _live_caches.append((h, cached, _stack()[-1] if _stack() else _ROOT))
        return cached


def _release(owner: object) -> None:
    with _lock:
        dropped = [df for _h, df, o in _live_caches if o is owner]
        _live_caches[:] = [e for e in _live_caches if e[2] is not owner]
        for df in dropped:
            try:
                df.unpersist()
            except Exception:
                pass  # session gone — nothing to release


@contextmanager
def scope() -> Iterator[None]:
    """Own every cache registered inside the block (on this thread)
    and unpersist them when it exits, normally or by an exception."""
    token = object()
    _stack().append(token)
    try:
        yield
    finally:
        _stack().pop()
        _release(token)


def release_caches() -> None:
    """End the root scope: unpersist every cache registered outside
    all scopes. Caches of scopes still open stay."""
    _release(_ROOT)


def live_cache_count() -> int:
    """Number of currently-registered caches, in any scope."""
    with _lock:
        return len(_live_caches)
