"""r14 build-once caches: weighted-jaccard tf table and the span
family's tok/gram relations (guide §2.4/§5 — each was consumed from
2-3 plan legs that silently replayed the tokenize/explode corpus
pass). These tests pin (a) output identity against the uncached
construction and (b) that the cache actually registers, so a future
refactor that drops the scoped_cache shows up as a failure here
rather than as a silent bench regression."""

from __future__ import annotations

from pyspark.sql import functions as F

from annotation_service_spark import caching
from annotation_service_spark.operators import dedup as dd


def _docs(spark, n=40):
    rows = [
        (
            i,
            " ".join(
                ["common header tokens run here"] * 2
                + [f"w{(i * 7 + j) % 19}" for j in range(12)]
                + ["shared eight token passage appears twice verbatim indeed"]
            ),
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_weighted_jaccard_cached_tf_matches_explicit_tf(spark):
    """The operator's internally-cached tf path must equal the
    table-level form over an uncached tf table — same relation, same
    pairs."""
    caching.release_caches()
    docs = _docs(spark)
    via_cache = {
        (r.id_a, r.id_b, round(r.wjaccard, 9))
        for r in dd.weighted_jaccard_pairs(docs, threshold=0.2).collect()
    }
    assert caching.live_cache_count() >= 1  # the tf cache registered
    tf = dd.shingle_tf_table(docs, "doc_id", "text", 3)
    via_table = {
        (r.id_a, r.id_b, round(r.wjaccard, 9))
        for r in dd.weighted_set_jaccard_pairs(tf, threshold=0.2).collect()
    }
    assert via_cache == via_table and via_cache
    caching.release_caches()


def test_span_family_cached_equals_uncached(spark):
    """The scoped caches in _span_grams are reuse-only: the three span
    consumers' outputs are byte-identical to a manual uncached
    rebuild of the same plan."""
    caching.release_caches()
    docs = _docs(spark)
    cov = {tuple(r) for r in dd.duplicate_span_coverage(docs, k=8).collect()}
    apply_ = {tuple(r) for r in dd.remove_duplicate_spans(docs, k=8).collect()}
    keep = {
        tuple(r)
        for r in dd.remove_duplicate_spans_keep_first(docs, k=8).collect()
    }
    assert caching.live_cache_count() >= 2  # tok + grams registered
    caching.release_caches()

    # uncached twin: same operators with the caches immediately
    # dropped before each action, forcing full recomputation
    def uncached(fn):
        out = fn(docs, "doc_id", "text", 8)
        caching.release_caches()
        spark.catalog.clearCache()
        return {tuple(r) for r in out.collect()}

    assert uncached(dd.duplicate_span_coverage) == cov
    assert uncached(dd.remove_duplicate_spans) == apply_
    assert uncached(dd.remove_duplicate_spans_keep_first) == keep
    # sanity: the fixture actually exercises duplicated spans
    assert any(r[2] > 0 for r in cov)  # dup_tokens > 0 somewhere
    caching.release_caches()
