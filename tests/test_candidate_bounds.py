"""Candidate-count bounds for the banded near-dup/ANN family.

The *_candidates observability helpers exist so the regime is
measured, not inferred: scale-safe band parameters must keep the
candidate-pair table proportional to the number of true near-dups
(here: planted), NOT to n²/buckets. These tests pin that bound on
planted-duplicate corpora at the shipped defaults — the guard the
``lsh_candidates`` docstring promises.
"""

from __future__ import annotations

import random

import pytest

from annotation_service_spark.operators import dedup as dd
from annotation_service_spark.operators import similarity as sim

from tests.test_dedup_similarity import _planted_ann_corpus

N_NOISE = 30
N_PLANTED = 5  # near-dup pairs


@pytest.fixture(scope="module")
def planted_docs(spark):
    """30 unique random-word docs + 5 planted near-dup pairs (one
    word of 40 substituted)."""
    rng = random.Random(11)
    vocab = [f"w{i:04d}" for i in range(4000)]
    docs, did = [], 0
    for _ in range(N_NOISE):
        did += 1
        docs.append((did, " ".join(rng.choice(vocab) for _ in range(40))))
    for _ in range(N_PLANTED):
        did += 1
        words = [rng.choice(vocab) for _ in range(40)]
        docs.append((did, " ".join(words)))
        words2 = list(words)
        words2[20] = rng.choice(vocab)
        did += 1
        docs.append((did, " ".join(words2)))
    return spark.createDataFrame(docs, "doc_id long, text string")


def test_lsh_candidates_bounded(spark):
    """Hyperplane-LSH candidates at the shipped defaults (60 planes /
    4 bands / hamming-1 probe) stay ∝ n_queries — measured 33 for 8
    queries over a 152-vector corpus (quadratic regime would be
    8·151 = 1208)."""
    n_queries = 8
    df = spark.createDataFrame(
        _planted_ann_corpus(n_queries=n_queries),
        "vec_id long, embedding array<float>",
    )
    n = sim.lsh_candidates(df).count()
    assert 0 < n <= 12 * n_queries, f"candidate blow-up: {n}"


def test_simhash_candidates_bounded(spark, planted_docs):
    """SimHash candidates at the shipped defaults (60 bits / 4 bands /
    hamming-1 probe) stay ∝ planted near-dups: measured exactly the 5
    planted pairs on this corpus (quadratic would be C(40,2) = 780).
    The carried fingerprints depend only on the id, so the row count is
    the distinct (id_a, id_b) count."""
    n = dd._simhash_band_candidates(
        planted_docs, "doc_id", "text",
        ngram=3, bits=60, bands=4, probe_bits=1,
    ).count()
    assert 0 < n <= 3 * N_PLANTED, f"candidate blow-up: {n}"


def test_minhash_candidates_bounded(spark, planted_docs):
    """MinHash band buckets are md5 digests of 40-bit minima (an
    unbounded keyspace), so candidates track true near-dups: measured
    exactly the 5 planted pairs."""
    n = dd.minhash_candidates(planted_docs).count()
    assert 0 < n <= 3 * N_PLANTED, f"candidate blow-up: {n}"


def test_weighted_minhash_candidates_bounded_and_complete(spark, planted_docs):
    """The weighted family's candidate table (tf-expanded signatures,
    banded join, BEFORE the verify) stays ∝ planted near-dups AND
    covers every pair the verified operator keeps — the observability
    count the bench records at x10/x100 is a true superset of the
    answer, so its growth rate bounds the operator's."""
    cand = {
        (r.id_a, r.id_b)
        for r in dd.weighted_minhash_candidates(planted_docs).collect()
    }
    assert 0 < len(cand) <= 3 * N_PLANTED, f"candidate blow-up: {len(cand)}"
    kept = {
        (r.id_a, r.id_b)
        for r in dd.weighted_minhash_pairs(planted_docs).collect()
    }
    assert kept <= cand


def test_simhash_pairs_guaranteed_radius(spark, planted_docs):
    """Every candidate pair the verify keeps is a planted pair, and
    every planted pair within the guaranteed radius (total hamming ≤
    bands·(probe+1)−1 = 7) is found."""
    sh = dd.simhash_table(planted_docs)
    sigs = {r.id: r.sh for r in sh.collect()}
    planted = [
        (N_NOISE + 2 * i + 1, N_NOISE + 2 * i + 2) for i in range(N_PLANTED)
    ]
    within = {
        (a, b)
        for a, b in planted
        if bin(sigs[a] ^ sigs[b]).count("1") <= 7
    }
    found = {
        (r.id_a, r.id_b) for r in dd.simhash_pairs(planted_docs).collect()
    }
    assert within <= found           # pigeonhole guarantee holds
    assert found <= set(planted)     # no false positives on this corpus
