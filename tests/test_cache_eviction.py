"""Results do not depend on cache eviction.

``caching.scoped_cache`` promises that a release loses only a cache
hit, never an answer. One gate per module that caches is built, its
caches are dropped (``release_caches()`` plus ``clearCache()``)
before the action, and its sorted rows must equal a run that kept
them.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as em
from annotation_service_spark import caching
from tests.test_plan_guards import SF

GATES = [
    "dedup_minhash_lsh",  # dedup
    "span_dedup_apply",  # dedup, span family
    "kn_nll",  # text
    "dsir_resample",  # curation
    "kmeans_fixed",  # clustering
    "perceptron_filter",  # classify
    "decontaminate_spans",  # decontam
    "ann_lsh_topk",  # similarity
    "triangle_count",  # graph
    "dedup_incremental_minhash",  # the entry
]


def _rows(df):
    return sorted(map(repr, df.collect()))


def _kept_and_evicted(spark, build):
    caching.release_caches()
    spark.catalog.clearCache()
    kept = _rows(build())
    caching.release_caches()
    df = build()
    caching.release_caches()
    spark.catalog.clearCache()
    return kept, _rows(df)


@pytest.mark.parametrize("gate", GATES)
def test_gate_answer_survives_eviction(spark, gate):
    fn = em.queries()[gate]
    kept, evicted = _kept_and_evicted(spark, lambda: fn(spark, SF))
    assert kept, gate
    assert evicted == kept, gate


def test_image_phash_pairs_survive_eviction(spark):
    """Multimodal has no gate: the jpeg suite's planted-twin fixture."""
    from annotation_service_spark.operators import multimodal as mm
    from tests.test_multimodal_jpeg import _gradient_img, _ppm_bytes

    rows = [(i, bytearray(_ppm_bytes(_gradient_img(i)))) for i in range(8)]
    rows.append((100, bytearray(_ppm_bytes(_gradient_img(0, noise=5)))))
    rows.append((103, bytearray(_ppm_bytes(_gradient_img(3, noise=5)))))
    df = spark.createDataFrame(rows, "media_id long, media binary")
    kept, evicted = _kept_and_evicted(
        spark, lambda: mm.image_phash_pairs(df, max_hamming=6)
    )
    assert kept
    assert evicted == kept
