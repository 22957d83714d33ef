"""Cluster resolution, decontamination, and repetition-filter tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from annotation_service_spark.functions import text as txt
from annotation_service_spark.operators import clustering as cl
from annotation_service_spark.operators import decontam as dc


@pytest.fixture(scope="module")
def pairs_df(spark):
    # components: {1,2,3} via chain 1-2, 2-3 (1-3 never emitted),
    # {10,11}, {20,21,22,23} via star around 20
    rows = [(1, 2), (2, 3), (10, 11), (20, 21), (20, 22), (20, 23)]
    return spark.createDataFrame(rows, "id_a long, id_b long")


def test_connected_components_chain_and_star(spark, pairs_df):
    got = {
        (r.id, r.cluster_id)
        for r in cl.connected_components(pairs_df).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20), (23, 20),
    }


def test_connected_components_long_chain(spark):
    """A 16-hop path exercises >1 propagation round (pointer jumping
    must still converge inside the iteration cap)."""
    rows = [(i, i + 1) for i in range(16)]
    df = spark.createDataFrame(rows, "id_a long, id_b long")
    got = {(r.id, r.cluster_id) for r in cl.connected_components(df).collect()}
    assert got == {(i, 0) for i in range(17)}


def test_connected_components_empty(spark):
    df = spark.createDataFrame([], "id_a long, id_b long")
    assert cl.connected_components(df).count() == 0


def test_dedup_keep_decision(spark, pairs_df):
    """Each near-dup cluster keeps its canonical (smallest-id) member."""
    keep = {
        r.id: r.keep
        for r in cl.connected_components(pairs_df)
        .select("id", (F.col("id") == F.col("cluster_id")).alias("keep"))
        .collect()
    }
    assert keep[1] and keep[10] and keep[20]
    assert not any(keep[i] for i in (2, 3, 11, 21, 22, 23))


def test_contamination_check(spark):
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),   # contains bench 3-grams
            (2, "one two three four five six seven"),      # clean
            (3, "alpha beta gamma unrelated words here"),  # partial overlap
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in dc.contamination_check(
        corpus, bench, ngram=3, threshold=0.25
    ).collect()}
    # bench shingles: {alpha beta gamma, beta gamma delta}
    assert out[1].n_hits == 2 and out[1].contaminated
    assert out[2].n_hits == 0 and not out[2].contaminated
    assert out[3].n_hits == 1  # 'alpha beta gamma' only
    assert out[3].n_shingles == 4
    assert out[3].hit_frac == 0.25 and out[3].contaminated


def test_repetition_metrics(spark):
    clean = "one two three four five six seven eight nine ten"
    spam = " ".join(["buy now"] * 10)  # 'buy now buy now ...'
    df = spark.createDataFrame(
        [(1, clean), (2, spam)], "doc_id long, text string"
    )
    out = {r.id: r for r in txt.repetition_metrics_table(df).collect()}
    assert out[1].keep
    assert out[1].dup_2gram_frac == 0.0
    # spam: 20 tokens alternating -> 19 bigrams, only 2 distinct
    assert out[2].total_2grams == 19
    assert out[2].distinct_2grams == 2
    assert not out[2].keep
    assert out[2].top_2gram_frac > 0.5


def test_repetition_short_doc_absent(spark):
    df = spark.createDataFrame(
        [(1, "two words"), (2, "three little words")],
        "doc_id long, text string",
    )
    ids = {r.id for r in txt.repetition_metrics_table(df).collect()}
    assert ids == {2}  # doc 1 has no 3-gram -> excluded by contract


def test_exact_percentile_matches_numpy(spark):
    """Spark's sort-based percentile is the exact linear-interpolation
    quantile (numpy 'linear'); approx_percentile is the documented
    scale twin and must land within its accuracy bound."""
    import numpy as np

    vals = [float(v) for v in (1, 2, 3, 4, 10, 20, 30, 100, 200, 1000)]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    row = df.select(
        F.expr("percentile(x, array(0.5D, 0.95D))").alias("exact"),
        F.expr("approx_percentile(x, array(0.5D, 0.95D), 10000)").alias("approx"),
    ).collect()[0]
    want = np.percentile(np.array(vals), [50, 95], method="linear")
    assert row.exact[0] == pytest.approx(want[0])
    assert row.exact[1] == pytest.approx(want[1])
    # high-accuracy approx on tiny data is exact up to rank resolution
    assert abs(row.approx[0] - want[0]) <= 10.0


def test_connected_components_random_differential(spark, monkeypatch):
    """Randomized differential vs a driver-side union-find: 300 edges
    over 120 vertices (fixed seed), labels must match exactly."""
    import random

    rng = random.Random(7)
    edges = [
        (rng.randrange(120), rng.randrange(120)) for _ in range(300)
    ]
    edges = [(a, b) for a, b in edges if a != b]

    parent = list(range(121))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    verts = {v for e in edges for v in e}
    want = {v: find(v) for v in verts}

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    # default path (size-gated local union-find)
    got = {r.id: r.cluster_id for r in cl.connected_components(df).collect()}
    assert got == want
    # distributed pointer-jumping path — must agree exactly
    monkeypatch.setattr(cl, "_LOCAL_EDGE_LIMIT", 0)
    got_dist = {r.id: r.cluster_id for r in cl.connected_components(df).collect()}
    assert got_dist == want
    # gate boundary: a limit smaller than the edge count routes to the
    # distributed path; equal-or-above stays local — same labels both ways
    monkeypatch.setattr(cl, "_LOCAL_EDGE_LIMIT", len(edges) - 1)
    got_edge = {r.id: r.cluster_id for r in cl.connected_components(df).collect()}
    assert got_edge == want


def test_repetition_metrics_random_differential(spark):
    """60 random docs vs a pure-Python counter reference: totals,
    distincts, and rounded fractions must agree exactly."""
    import random
    from collections import Counter

    rng = random.Random(11)
    vocab = ["a", "bb", "ccc", "dog", "cat", "run"]
    docs = []
    for i in range(60):
        n = rng.randrange(0, 30)
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(n))))

    def pyref(text):
        toks = [t for t in text.split() if t]
        g2 = [" ".join(toks[i:i+2]) for i in range(len(toks)-1)]
        g3 = [" ".join(toks[i:i+3]) for i in range(len(toks)-2)]
        if not g3:
            return None
        c2, c3 = Counter(g2), Counter(g3)
        t2, d2, m2 = len(g2), len(c2), max(c2.values())
        t3, d3 = len(g3), len(c3)

        def r6(x):
            import math
            return math.floor(x * 1e6 + 0.5) / 1e6

        return (t2, d2, r6((t2-d2)/t2), r6(m2/t2), t3, d3, r6((t3-d3)/t3))

    want = {i: pyref(t) for i, t in docs if pyref(t) is not None}
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.id: (
            r.total_2grams, r.distinct_2grams, r.dup_2gram_frac,
            r.top_2gram_frac, r.total_3grams, r.distinct_3grams,
            r.dup_3gram_frac,
        )
        for r in txt.repetition_metrics_table(df).collect()
    }
    assert got == want


def test_embedding_contamination_check_planted(spark):
    """A corpus vector that is a noisy copy of a benchmark vector
    must flag contaminated; orthogonal vectors must not."""
    import random

    from pyspark.sql import functions as F

    from annotation_service_spark.operators.decontam import (
        embedding_contamination_check,
    )

    rng = random.Random(9)
    dim = 16
    bench = [(50 * i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(4)]
    corpus = []
    # planted near-copies of benchmark 0 and 1
    for j, (bid, bv) in enumerate(bench[:2]):
        corpus.append((1000 + j, [x + rng.gauss(0, 0.1) for x in bv]))
    # unrelated noise
    for j in range(30):
        corpus.append((2000 + j, [rng.gauss(0, 1) for _ in range(dim)]))
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    out = {
        r.id: r
        for r in embedding_contamination_check(
            mk(corpus), mk(bench), threshold=0.8
        ).collect()
    }
    assert len(out) == len(corpus)
    assert out[1000].contaminated and out[1001].contaminated
    assert out[1000].n_hits >= 1 and out[1000].max_cos >= 0.8
    dirty = [i for i, r in out.items() if r.contaminated]
    assert set(dirty) == {1000, 1001}  # random 16-dim ⊥ at 0.8


def test_decontaminate_spans_vs_bruteforce(spark):
    """Surgical span decontamination against a python replay: random
    corpora with planted benchmark passages at random offsets
    (start/middle/end), overlapping plants (mask merge), fully-masked
    short docs (empty-string md5), and clean docs (zero spans)."""
    import hashlib
    import random
    import re

    from annotation_service_spark.operators import decontam as dc

    rng = random.Random(19)
    bench_rows = [
        (1000 + b, " ".join(f"bench{b}tok{t}" for t in range(8)))
        for b in range(4)
    ]

    def plant(doc_toks, bench_text, where):
        bt = bench_text.split()
        cut = {"start": 0, "mid": len(doc_toks) // 2, "end": len(doc_toks)}[
            where
        ]
        return doc_toks[:cut] + bt + doc_toks[cut:]

    corpus_rows = []
    for i in range(24):
        base = [f"doc{i}tok{t}" for t in range(rng.randint(6, 30))]
        mode = i % 4
        if mode == 1:
            base = plant(base, bench_rows[i % 4][1], rng.choice(["start", "mid", "end"]))
        elif mode == 2:  # two plants -> likely merged or two spans
            base = plant(base, bench_rows[0][1], "start")
            base = plant(base, bench_rows[1][1], "end")
        elif mode == 3 and i % 8 == 3:  # short fully-masked doc
            base = bench_rows[2][1].split()
        corpus_rows.append((i, " ".join(base)))

    cdf = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    bdf = spark.createDataFrame(bench_rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.n_spans, r.clean_md5)
        for r in dc.decontaminate_spans(cdf, bdf, ngram=3, pad=2).collect()
    }

    def toks(t):
        return [x for x in re.split(r"[^a-z0-9]+", t.lower()) if x]

    bsh = set()
    for _, t in bench_rows:
        w = toks(t)
        bsh |= {" ".join(w[p : p + 3]) for p in range(len(w) - 2)}
    for i, t in corpus_rows:
        w = toks(t)
        hits = [p for p in range(len(w) - 2) if " ".join(w[p : p + 3]) in bsh]
        spans = []
        for p in hits:
            lo, hi = max(p - 2, 0), p + 4
            if spans and lo <= spans[-1][1]:
                spans[-1] = (spans[-1][0], max(spans[-1][1], hi))
            else:
                spans.append((lo, hi))
        covered = set()
        for lo, hi in spans:
            covered |= set(range(lo, hi + 1))
        covered &= set(range(len(w)))
        clean = " ".join(w[p] for p in range(len(w)) if p not in covered)
        exp = (
            len(w),
            len(covered),
            len(spans),
            hashlib.md5(clean.encode()).hexdigest(),
        )
        assert got[i] == exp, f"doc {i}: {got[i]} != {exp}"
    # regime sanity: the corpus exercised clean, planted, merged, and
    # fully-masked docs
    assert any(v[2] == 0 for v in got.values())
    assert any(v[2] >= 2 for v in got.values())
    assert any(v[1] == v[0] for v in got.values())
