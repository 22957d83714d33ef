"""Fixed-point PageRank (operators/graph.py): distributed vs the
sequential integer replica, structural invariants of the k-NN graph,
and recurrence properties on hand-built graphs."""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import functions as F

import __spark_entry__ as em
from annotation_service_spark.operators import graph as g

SF = "/root/testdata/sf0.001"


def pagerank_reference(
    edge_list: list[tuple[int, int]],
    iterations: int = 3,
    damping_pct: int = 85,
    scale: int = g.PR_SCALE,
) -> dict[int, int]:
    """Sequential pure-Python replica of ``pagerank_fixed`` — an
    independent implementation of the same integer recurrence."""
    base = ((100 - damping_pct) * scale) // 100
    deg: dict[int, int] = defaultdict(int)
    nodes = set()
    for s, d in edge_list:
        deg[s] += 1
        nodes.add(s)
        nodes.add(d)
    scores = {v: scale for v in nodes}
    for _ in range(iterations):
        in_sum: dict[int, int] = defaultdict(int)
        for s, d in edge_list:
            in_sum[d] += scores[s] // deg[s]
        scores = {
            v: base + (damping_pct * in_sum.get(v, 0)) // 100 for v in nodes
        }
    return scores


def test_distributed_matches_sequential_replica(spark):
    edges_df = g.knn_edges(em._t(spark, SF, "embeddings"), k=3)
    edge_list = [(r.src, r.dst) for r in edges_df.collect()]
    dist = {
        r.node: r.pr_score
        for r in g.pagerank_fixed(edges_df, iterations=3).collect()
    }
    assert dist == pagerank_reference(edge_list, iterations=3)


def test_knn_graph_degree_and_no_self_loops(spark):
    emb = em._t(spark, SF, "embeddings")
    edges = g.knn_edges(emb, k=3).collect()
    assert all(r.src != r.dst for r in edges)
    from collections import Counter

    out = Counter(r.src for r in edges)
    n = emb.count()
    assert len(out) == n and set(out.values()) == {3}


def test_star_graph_center_dominates(spark):
    """All spokes point at the center: the center's rank must exceed
    every spoke's, and spokes (identical in-neighborhoods = none)
    must tie exactly."""
    edges = spark.createDataFrame(
        [(i, 0) for i in range(1, 6)], "src long, dst long"
    )
    got = {r.node: r.pr_score for r in g.pagerank_fixed(edges, 3).collect()}
    spokes = {got[i] for i in range(1, 6)}
    assert len(spokes) == 1
    assert got[0] > spokes.pop()
    assert got == pagerank_reference(
        [(i, 0) for i in range(1, 6)], 3
    )


def test_cycle_graph_uniform_fixed_point(spark):
    """A directed cycle is already at its fixed point: every node
    keeps exactly SCALE (deg=1, base + 85% of SCALE = SCALE in the
    integer recurrence)."""
    n = 5
    edges = spark.createDataFrame(
        [(i, (i + 1) % n) for i in range(n)], "src long, dst long"
    )
    got = {r.node: r.pr_score for r in g.pagerank_fixed(edges, 3).collect()}
    assert set(got.values()) == {g.PR_SCALE}


def test_lsh_and_ivf_edge_builds_recall_vs_gemm(spark):
    """VERDICT r3 #2: the collect-free edge strategies (banded LSH
    self-join / IVF probe join) must recover most of the exact GEMM
    k-NN edges on the gate data, with the same structural invariants
    (no self-loops, out-degree ≤ k)."""
    from collections import Counter

    emb = em._t(spark, SF, "embeddings")
    exact = {(r.src, r.dst) for r in g.knn_edges(emb, k=3, method="gemm").collect()}
    for method, kw in (
        ("lsh", dict(n_planes=16, bands=8)),
        ("ivf", dict(n_centroids=4, n_probe=2)),
    ):
        got = {
            (r.src, r.dst)
            for r in g.knn_edges(emb, k=3, method=method, **kw).collect()
        }
        assert all(s != d for s, d in got)
        deg = Counter(s for s, _ in got)
        assert max(deg.values()) <= 3
        recall = len(got & exact) / len(exact)
        assert recall >= 0.5, (method, recall)


def test_knn_pagerank_lsh_matches_sequential_replica(spark):
    """The scale path composes end-to-end: PageRank over LSH-built
    edges equals the sequential integer replay of those same edges."""
    emb = em._t(spark, SF, "embeddings")
    edges_df = g.knn_edges(emb, k=3, method="lsh", n_planes=16, bands=8)
    edge_list = [(r.src, r.dst) for r in edges_df.collect()]
    got = {
        r.vec_id: r.pr_score
        for r in g.knn_pagerank(
            emb, method="lsh", n_planes=16, bands=8
        ).collect()
    }
    assert got == pagerank_reference(edge_list, iterations=3)


def test_knn_edges_unknown_method_raises(spark):
    emb = em._t(spark, SF, "embeddings")
    try:
        g.knn_edges(emb, method="faiss")
    except ValueError as exc:
        assert "gemm|lsh|ivf" in str(exc)
    else:
        raise AssertionError("expected ValueError")


def test_registered_in_contract():
    assert "knn_pagerank" in em.queries()
    assert "knn_pagerank" in em.oracle_sql()


def test_triangle_counts_planted(spark):
    """K4 on {1,2,3,4} (4 triangles, each node in 3) plus a pendant
    edge 4-5 (node 5: zero triangles) — duplicate and reversed input
    edges must not change counts."""
    from annotation_service_spark.operators.graph import triangle_counts

    edges = [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),  # K4
        (4, 5),                                           # pendant
        (2, 1), (3, 1), (1, 2),                           # dup/reversed noise
    ]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.id: r.n_triangles for r in triangle_counts(df).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3, 5: 0}


def test_k_core_peels_tails_and_converges(spark):
    from annotation_service_spark.operators.graph import k_core

    # triangle {1,2,3} + tail 3-4-5 + isolated pair (6,7)
    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (6, 7)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    out = {r.id: r.degree for r in k_core(df, k=2, rounds=12).collect()}
    assert out == {1: 2, 2: 2, 3: 2}
    # early exit result == exact fixed rounds (absorption)
    out3 = {r.id: r.degree for r in k_core(df, k=2, rounds=3).collect()}
    assert out3 == out
    # 3-core of a 4-clique survives whole; with one edge removed it dies
    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    df4 = spark.createDataFrame(k4, "id_a long, id_b long")
    assert {r.id for r in k_core(df4, k=3, rounds=8).collect()} == {1, 2, 3, 4}
    df4m = spark.createDataFrame(k4[:-1], "id_a long, id_b long")
    assert k_core(df4m, k=3, rounds=8).count() == 0


def test_lpa_keeps_bridged_blobs_separate(spark):
    """Two 4-cliques joined by ONE bridge edge: CC merges everything
    into one component; frequency-based LPA keeps two communities —
    the bridge endpoint hears 3 clique-mates vs 1 outsider."""
    from annotation_service_spark.operators.graph import lpa_communities

    edges = []
    for blob in ([1, 2, 3, 4], [10, 11, 12, 13]):
        for i, a in enumerate(blob):
            for b in blob[i + 1:]:
                edges.append((a, b))
    edges.append((4, 10))  # the bridge
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    out = {r.id: r.community for r in lpa_communities(pairs, rounds=3).collect()}
    left = {out[v] for v in (1, 2, 3, 4)}
    right = {out[v] for v in (10, 11, 12, 13)}
    assert len(left) == 1 and len(right) == 1
    assert left != right


def test_lpa_deterministic_under_repartition(spark):
    from annotation_service_spark.operators.graph import lpa_communities
    from annotation_service_spark.operators import dedup as dd
    from annotation_service_spark.sources.testdata import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    pairs = dd.ngram_jaccard_pairs(docs, ngram=3, threshold=0.3)
    a = {(r.id, r.community) for r in lpa_communities(pairs, 3).collect()}
    b = {
        (r.id, r.community)
        for r in lpa_communities(pairs.repartition(17), 3).collect()
    }
    assert a == b and len(a) > 0
