"""Fixed-point distributed k-means: the distributed Lloyd iterations
must be bit-identical to the sequential numpy replica (exact int64
arithmetic everywhere — that's the designed property the oracle gate
leans on)."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import __spark_entry__ as em
from annotation_service_spark.operators import clustering as cl

SF = "/root/testdata/sf0.001"


def _assign_cols(centroids: list[list[int]], unroll_budget: int = 8192):
    """(cluster, dist) columns: argmin over exact integer squared
    distances, first-min tie-break (array_position finds the FIRST
    occurrence). The per-centroid distance is an unrolled positional
    expression — whole-stage codegen, no interpreted HOFs on the
    per-row hot path. Past ``unroll_budget`` total terms (large
    k·dim) the expression tree would stress Janino's method-size
    limits, so it switches to the HOF aggregate form — same exact
    values, interpreted evaluation."""
    k = len(centroids)
    dim = len(centroids[0])
    dists = []
    if k * dim > unroll_budget:
        for c in centroids:
            carr = F.array(*[F.lit(int(ci)).cast("long") for ci in c])
            dists.append(
                F.aggregate(
                    F.zip_with(F.col("qv"), carr, lambda x, y: (x - y) * (x - y)),
                    F.lit(0).cast("long"),
                    lambda acc, v: acc + v,
                )
            )
    else:
        for c in centroids:
            d = None
            for i, ci in enumerate(c):
                t = (F.col("qv")[i] - F.lit(int(ci))) * (
                    F.col("qv")[i] - F.lit(int(ci))
                )
                d = t if d is None else d + t
            dists.append(d)
    darr = F.array(*dists)
    cluster = (F.array_position(darr, F.array_min(darr)) - 1).cast("int")
    return cluster.alias("c"), F.array_min(darr).alias("dist")


def test_distributed_centroids_match_numpy_replica(spark):
    emb = em._t(spark, SF, "embeddings")
    dist = cl.kmeans_centroids(emb, k=8, iterations=2)
    ref = cl.kmeans_fixed_reference(f"{SF}/embeddings.parquet", 8, 2)
    assert dist == ref


def test_kmeans_gate_partitions_whole_corpus(spark):
    emb = em._t(spark, SF, "embeddings")
    out = em.q_kmeans_fixed(spark, SF).collect()
    assert sum(r.n_members for r in out) == emb.count()
    assert all(r.inertia >= 0 for r in out)
    # every reported cluster is non-empty by construction
    assert all(r.n_members > 0 for r in out)


def test_empty_cluster_keeps_previous_centroid(spark, tmp_path):
    """k exceeding the number of distinct points leaves a cluster
    empty; both implementations must retain its previous centroid
    deterministically."""
    vecs = [[1.0, 1.0], [1.0, 1.0], [5.0, 5.0]]
    pdf = pa.table(
        {
            "vec_id": pa.array([0, 1, 2], type=pa.int64()),
            "embedding": pa.array(vecs, type=pa.list_(pa.float32())),
        }
    )
    path = str(tmp_path / "emb.parquet")
    pq.write_table(pdf, path)
    df = spark.read.parquet(path)
    dist = cl.kmeans_centroids(df, k=3, iterations=2)
    ref = cl.kmeans_fixed_reference(path, 3, 2)
    assert dist == ref
    # ids 0 and 1 are identical points: one of their two init
    # centroids must survive untouched as an empty cluster
    assert dist[1] == [1_000_000, 1_000_000]


def test_expression_form_matches_numpy_kernel(spark):
    """The retired codegen expression form (`_assign_cols` above, kept
    as a differential witness) and the Arrow/numpy kernel that replaced it
    on the hot path must produce identical (cluster, dist) for every
    row — three independent evaluations of the same exact-int64
    argmin (expression, kernel, replica) all agreeing."""
    emb = em._t(spark, SF, "embeddings")
    cents = cl.kmeans_fixed_reference(f"{SF}/embeddings.parquet", 8, 2)
    q = cl._quantized(emb, "embedding", "vec_id", cl.FIXED_SCALE)
    cl_col, dist_col = _assign_cols(cents)
    expr = {
        r.id: (r.c, r.dist)
        for r in q.select("id", cl_col, dist_col).collect()
    }
    kern = {
        r.id: (r.c, r.dist)
        for r in q.mapInPandas(
            lambda it: (
                __import__("pandas").DataFrame(
                    {
                        "id": pdf["id"],
                        "c": cl._np_assign(cents, pdf["qv"])[1].astype("int32"),
                        "dist": cl._np_assign(cents, pdf["qv"])[2],
                    }
                )
                for pdf in it
                if len(pdf)
            ),
            "id long, c int, dist long",
        ).collect()
    }
    assert expr == kern
    # and the HOF fallback branch (forced via a tiny unroll budget)
    hof_cl, hof_d = _assign_cols(cents, unroll_budget=1)
    hof = {
        r.id: (r.c, r.dist)
        for r in q.select("id", hof_cl, hof_d).collect()
    }
    assert hof == kern


def test_registered_in_contract():
    assert "kmeans_fixed" in em.queries()
    assert "kmeans_fixed" in em.oracle_sql()


def test_semantic_dedup_planted(spark):
    """Two separated blobs; a near-identical twin inside blob A is
    dropped (larger id loses), distinct members keep."""
    from annotation_service_spark.operators import similarity as sim

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),    # blob A anchor (also init centroid 1)
        (2, [0.0, 1.0, 0.0, 0.0]),    # blob B anchor (init centroid 2)
        (3, [0.99, 0.01, 0.0, 0.0]),  # ~dup of 1 -> dropped
        (4, [0.0, 0.6, 0.8, 0.0]),    # blob-B-ish but cos 0.6 < 0.85 -> kept
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in sim.semantic_dedup(df, k=2, iterations=1).collect()}
    assert {i: out[i].keep for i in (1, 2, 3, 4)} == {
        1: True, 2: True, 3: False, 4: True
    }
    assert out[1].cluster_id == out[3].cluster_id
    assert out[2].cluster_id == out[4].cluster_id
    assert out[1].cluster_id != out[2].cluster_id
