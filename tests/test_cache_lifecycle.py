"""Scoped plan-cache lifecycle (annotation_service_spark/caching.py).

VERDICT r10 nit 2: the fingerprint-family builders cached their
self-join intermediates and never released them, so a long-lived
pipeline calling the same operator repeatedly accumulated cached
DataFrames without bound. The scoped-cache contract bounds that to
one live cache per plan, owned by the scope it was registered in,
with release_caches() ending the root scope for deterministic cleanup.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from annotation_service_spark import caching
from annotation_service_spark.operators import dedup as dd


def _docs(spark, n=30, tag=""):
    rows = [(i, f"alpha beta gamma delta {tag} doc {i % 7} words here") for i in range(n)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_repeat_invocations_do_not_accumulate(spark):
    caching.release_caches()
    assert caching.live_cache_count() == 0
    for tag in ("a", "b", "c"):
        dd.minhash_lsh_pairs(_docs(spark, tag=tag)).count()
    # three inputs are three shingle plans: each keeps its cache until
    # the root scope ends
    assert caching.live_cache_count() == 3
    for tag in ("a", "b"):
        dd.simhash_pairs(_docs(spark, tag=tag)).count()
    assert caching.live_cache_count() == 5  # +2 simhash fingerprint tables
    caching.release_caches()
    assert caching.live_cache_count() == 0


def test_replace_on_reentry_keeps_answers_correct(spark):
    """Unpersisting the previous generation mid-stream can only lose a
    cache hit, never change results: the second call's pairs match a
    fresh-session-equivalent recompute."""
    caching.release_caches()
    d1 = _docs(spark, tag="x")
    first = {tuple(r) for r in dd.minhash_lsh_pairs(d1).select("id_a", "id_b").collect()}
    second = {tuple(r) for r in dd.minhash_lsh_pairs(d1).select("id_a", "id_b").collect()}
    assert first == second
    caching.release_caches()


def test_distinct_keys_coexist(spark):
    """Intermediates that legitimately coexist in one computation are
    distinct plans and never evict each other (eval report's pattern)."""
    caching.release_caches()
    a = caching.scoped_cache(_docs(spark).where(F.col("doc_id") < 5))
    b = caching.scoped_cache(_docs(spark).where(F.col("doc_id") >= 5))
    assert a.count() == 5 and b.count() == 25
    assert caching.live_cache_count() == 2
    caching.release_caches()
    assert caching.live_cache_count() == 0


def test_identical_plan_reuses_resident_cache(spark):
    """ADVICE r11: re-registering an IDENTICAL plan must return the
    already-materialized cache object (warm bench runs depend on it),
    while a different plan gets its own cache beside it."""
    caching.release_caches()
    d = _docs(spark, tag="same")
    a = caching.scoped_cache(d.where(F.col("doc_id") < 9))
    a.count()  # materialize
    b = caching.scoped_cache(d.where(F.col("doc_id") < 9))
    assert b is a  # the resident cache object itself
    c = caching.scoped_cache(d.where(F.col("doc_id") < 4))
    assert c is not a and c.count() == 4
    assert caching.live_cache_count() == 2
    caching.release_caches()


def test_cleared_cache_is_recached_on_reentry(spark):
    """The bench clears the SQL cache between cold iterations; a
    subsequent identical-plan registration must RE-cache (the
    resident handle lost its data), not hand back an unpersisted
    DataFrame that silently disables caching."""
    caching.release_caches()
    d = _docs(spark, tag="clr")
    a = caching.scoped_cache(d.where(F.col("doc_id") < 9))
    a.count()
    spark.catalog.clearCache()
    b = caching.scoped_cache(d.where(F.col("doc_id") < 9))
    sl = b.storageLevel
    assert sl.useMemory or sl.useDisk
    assert b.count() == 9
    caching.release_caches()


def test_gate_caches_are_released(spark):
    """The caches these gates build go through ``scoped_cache``, so
    after a gate's action ``release_caches()`` leaves no persisted RDD
    behind."""
    import __spark_entry__ as em
    from tests.test_plan_guards import SF

    persisted = spark.sparkContext._jsc.getPersistentRDDs
    caching.release_caches()
    baseline = len(persisted())
    for gate in (em.q_dsir_resample, em.q_kmeans_fixed, em.q_perceptron_filter):
        gate(spark, SF).collect()
        caching.release_caches()
        assert len(persisted()) == baseline, gate.__name__
