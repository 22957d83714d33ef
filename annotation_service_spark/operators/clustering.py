"""Connected-component resolution for near-duplicate pairs.

A dedup pipeline's pair list (from ``minhash_lsh_pairs`` /
``simhash_pairs`` / ``ngram_jaccard_pairs`` /
``embedding_dup_pairs``) is an edge list; the unit of removal is the
connected COMPONENT (A~B, B~C means A,B,C are one duplicate group even
when A~C was never emitted). This module turns pairs into
``(id, cluster_id)`` with ``cluster_id = min(component)``, the
canonical keep-one-per-cluster contract.

Algorithm: iterative min-label propagation with pointer jumping.
Each round does

  1. label(u) <- min(label(u), min over neighbors v of label(v))
  2. label(u) <- label(label(u))        (pointer jumping / path halving)

Step 1 alone needs O(diameter) rounds; step 2 halves label-chain depth
each round, giving O(log d) convergence — near-dup graphs are dense
little blobs (d is 2-4), so 2-3 rounds is typical. Per round: two
shuffles for the neighbor-min (join + groupBy on uniformly-distributed
ids) and one self-join for the jump — all keyed by doc id, skew-free.

Scale notes (100 TB):
- labels are ONE row per vertex appearing in a pair — orders of
  magnitude smaller than the corpus; the edge list is the big input
  and it is never mutated, only re-joined.
- every iteration's result is localCheckpoint()ed: iterative plans
  otherwise stack lineage until planning dominates. localCheckpoint
  trades fault-tolerance within the job for plan truncation — the
  standard Spark iterative-algorithm pattern (GraphX does the same);
  a lost executor means rerunning the clustering job, not wrong
  output.
- convergence is detected with a LIMIT 1 count per round (a
  constant-size driver action), not a full collect.

Reference parity: the reference has no clustering operator (its
dedup surface ends at pair emission); this is a beyond-reference
training-data-pipeline operator, differentially tested against a
DuckDB recursive-CTE transitive closure (see __spark_entry__
``dedup_clusters`` oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from annotation_service_spark import caching
from annotation_service_spark.caching import scoped_cache


def _local_components(src, dst) -> dict[int, int]:
    """Driver-local union-find (path halving + union-by-min) over two
    integer sequences. Union-by-min keeps the invariant "a tree's root
    is its component minimum", so find(v) after all unions IS the
    canonical min-cluster label — identical output to the distributed
    propagation."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for s, d in zip(src, dst):
        rs, rd = find(int(s)), find(int(d))
        if rs != rd:
            if rs < rd:
                parent[rd] = rs
            else:
                parent[rs] = rd
    verts = set(int(v) for v in src) | set(int(v) for v in dst)
    return {v: find(v) for v in verts}


# edges ``connected_components`` labels on the driver (≈ 16 MB) before
# it takes the distributed path; read at call time
_LOCAL_EDGE_LIMIT = 1_000_000


def connected_components(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iters: int = 25,
) -> DataFrame:
    """Resolve an undirected edge list to (id, cluster_id) where
    cluster_id is the smallest id in the connected component.

    Vertices are the ids appearing in at least one pair (singletons
    carry no dedup decision and would bloat the result corpus-wide;
    left-join the output onto the corpus to tag them).

    Size-gated local fast path (the embedding_dup_pairs gate pattern):
    near-dup pair lists are usually TINY relative to the corpus —
    often thousands of edges from millions of docs — while each
    pointer-jumping round costs three driver-synchronized jobs.
    ``limit(_LOCAL_EDGE_LIMIT+1).toPandas()`` probes the edge list in
    ONE Arrow action; when everything arrived (≤ the limit, 1M edges
    ≈ 16 MB), a driver union-find labels it instantly with the
    identical min-label contract (differential-tested both ways).
    Larger graphs take the distributed path unchanged — the pair join
    is recomputed there, but one extra pass on a graph that big is
    noise next to its own clustering rounds.

    NOTE the probe is EAGER: it executes the (possibly expensive)
    upstream pairs plan at DataFrame-construction time. Null src/dst
    rows are dropped before the probe, matching the distributed
    path's tolerance (joins there discard null keys).
    """
    edges = pairs.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    ).na.drop()
    probe = edges.limit(_LOCAL_EDGE_LIMIT + 1).toPandas()
    if len(probe) <= _LOCAL_EDGE_LIMIT:
        labels = _local_components(probe["src"].to_numpy(), probe["dst"].to_numpy())
        return pairs.sparkSession.createDataFrame(
            [(v, c) for v, c in sorted(labels.items())],
            "id long, cluster_id long",
        )
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=False)

    # initial labels fold the first propagation round into the vertex
    # derivation: label0(u) = min(u, min neighbor) in ONE groupBy
    # (instead of distinct-vertices + a full propagate round)
    labels = (
        sym.groupBy(F.col("src").alias("id"))
        .agg(F.least(F.first("src"), F.min("dst")).alias("comp"))
        .localCheckpoint(eager=False)
    )

    for _ in range(max_iters):
        # neighbor minimum: what is the smallest label any neighbor holds?
        nb_min = (
            sym.join(
                labels.select(
                    F.col("id").alias("src"), F.col("comp").alias("c")
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("c").alias("nc"))
        )
        prop = labels.join(nb_min, "id", "left").select(
            "id",
            F.least(F.col("comp"), F.coalesce("nc", "comp")).alias("comp"),
            F.col("comp").alias("prev"),
        )
        # pointer jumping: follow the label one hop (label(label(u)))
        jumped = (
            prop.join(
                prop.select(
                    F.col("id").alias("comp"), F.col("comp").alias("cc")
                ),
                "comp",
                "left",
            )
            .select(
                "id",
                F.least(
                    F.col("comp"), F.coalesce("cc", "comp")
                ).alias("comp"),
                "prev",
            )
            .localCheckpoint(eager=False)
        )
        changed = (
            jumped.where(F.col("comp") < F.col("prev")).limit(1).count()
        )
        labels = jumped.select("id", "comp")
        if changed == 0:
            break
    return labels.select("id", F.col("comp").alias("cluster_id"))


# ---------------------------------------------------------------------------
# Fixed-point distributed k-means (Lloyd)
# ---------------------------------------------------------------------------
#
# The reference has no clustering; this is the beyond-reference
# iterative-ML operator class (the shape a 100 TB embedding-curation
# pipeline needs for coarse quantizers / corpus bucketing). All
# arithmetic is int64 fixed point (q = floor(x·scale)), so every
# reduction is associative-exact and the distributed result is
# bit-identical to the sequential numpy replica — the property the
# oracle gate checks.
#
# Scale design:
# - the corpus never leaves the executors: per iteration ONE
#   Arrow-batched pass (mapInPandas, exact numpy int64) that assigns
#   every row AND reduces it to per-partition (cluster, dim) partial
#   sums — only k·dim rows per partition enter the shuffle, and the
#   per-row assignment is vectorized C, not codegen. (An earlier
#   revision unrolled the distance into a k·dim-term codegen
#   expression; correct, but Janino recompiles the tree every
#   iteration — ~7 s/pass of pure compile at k·dim=512 — and the
#   tree duplicates under argmin. The numpy kernel is the same exact
#   integer arithmetic without the compile cliff, and has no k·dim
#   ceiling. tests/test_kmeans.py keeps the expression form as a
#   differential witness.)
# - only k·dim integers hit the driver per iteration (the new
#   centroids); the division (floored, exact) happens driver-side in
#   Python big-int arithmetic, sidestepping engine-specific integer
#   division semantics entirely.
# - empty clusters keep their previous centroid (both
#   implementations, deterministically).

FIXED_SCALE = 1_000_000


def _quantized(embeddings: DataFrame, vec_col: str, id_col: str, scale: int) -> DataFrame:
    return embeddings.select(
        F.col(id_col).alias("id"),
        F.transform(
            vec_col, lambda x: F.floor(x.cast("double") * F.lit(scale)).cast("long")
        ).alias("qv"),
    )


def _np_assign(centroids: list[list[int]], qv_series) -> tuple:
    """Vectorized exact-int64 argmin assignment for one Arrow batch.
    Returns (assignment int64[n], dist int64[n]). First-min tie-break
    (np.argmin), matching both the expression form and the replica."""
    import numpy as np

    C = np.asarray(centroids, dtype=np.int64)
    Q = np.vstack(qv_series.to_numpy()).astype(np.int64)
    d = np.empty((Q.shape[0], C.shape[0]), dtype=np.int64)
    for j in range(C.shape[0]):
        diff = Q - C[j]
        d[:, j] = np.einsum("ij,ij->i", diff, diff)
    a = d.argmin(axis=1)
    return Q, a, d[np.arange(Q.shape[0]), a]


def _assign_ids_fn(centroids: list[list[int]]):
    """mapInPandas kernel: (id, c) per row — the id-carrying variant
    of the assignment pass, for consumers that need the label joined
    back onto other per-id state (semantic_dedup). Same exact-int64
    argmin / first-min tie-break as every other assignment form."""
    import pandas as pd

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            _, a, _ = _np_assign(centroids, pdf["qv"])
            yield pd.DataFrame(
                {"id": pdf["id"].to_numpy(), "c": a.astype("int32")}
            )

    return fn


def _partial_sums_fn(centroids: list[list[int]]):
    """mapInPandas kernel: assign each row, reduce the whole partition
    to (c, i, s, n) partial sums — k·dim rows out per partition, so
    the downstream shuffle is constant-size regardless of corpus."""
    import numpy as np
    import pandas as pd

    k = len(centroids)
    dim = len(centroids[0])

    def fn(batches):
        sums = np.zeros((k, dim), dtype=np.int64)
        counts = np.zeros(k, dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q, a, _ = _np_assign(centroids, pdf["qv"])
            for j in np.unique(a):
                m = a == j
                sums[j] += Q[m].sum(axis=0)
                counts[j] += int(m.sum())
        live = np.flatnonzero(counts)
        if len(live):
            yield pd.DataFrame(
                {
                    "c": np.repeat(live, dim).astype(np.int32),
                    "i": np.tile(np.arange(dim, dtype=np.int32), len(live)),
                    "s": sums[live].reshape(-1),
                    "n": np.repeat(counts[live], dim),
                }
            )

    return fn


def _assign_dist_fn(centroids: list[list[int]]):
    """mapInPandas kernel: (c, dist) per row for the final inertia
    aggregation (map-side combine reduces to k rows per partition)."""
    import pandas as pd

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            _, a, dist = _np_assign(centroids, pdf["qv"])
            yield pd.DataFrame({"c": a.astype("int32"), "dist": dist})

    return fn


def kmeans_centroids(
    embeddings: DataFrame,
    k: int = 8,
    iterations: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = FIXED_SCALE,
) -> list[list[int]]:
    """Run the distributed Lloyd iterations and return the final
    integer centroids (init = the k vectors with smallest ids).

    Each iteration is its own Spark job over the quantized table, so
    the table is cached for the loop — without it every Lloyd pass
    (plus the init scan) re-reads and re-quantizes the source parquet,
    which the cache-cleared cold bench showed dominating the k-means
    family's runtime. The loop runs in its own cache scope, so the
    cache goes when the loop ends or raises; a caller that already
    holds the same quantized plan cached keeps it (found by plan)."""
    with caching.scope():
        q = scoped_cache(_quantized(embeddings, vec_col, id_col, scale))
        init = q.orderBy("id").limit(k).collect()
        centroids = [[int(v) for v in r.qv] for r in init]
        dim = len(centroids[0])

        for _ in range(iterations):
            sums = (
                q.select("qv")
                .mapInPandas(_partial_sums_fn(centroids), "c int, i int, s long, n long")
                .groupBy("c", "i")
                .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
                .collect()
            )
            by_c: dict[int, dict[int, int]] = {}
            n_by_c: dict[int, int] = {}
            for r in sums:
                by_c.setdefault(r.c, {})[r.i] = r.s
                n_by_c[r.c] = r.n
            centroids = [
                [by_c[j][i] // n_by_c[j] for i in range(dim)]
                if j in n_by_c
                else centroids[j]
                for j in range(k)
            ]
    return centroids


def kmeans_fixed(
    embeddings: DataFrame,
    k: int = 8,
    iterations: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = FIXED_SCALE,
) -> DataFrame:
    """Distributed Lloyd k-means on fixed-point vectors. Returns one
    row per non-empty final cluster: (cluster_id, n_members, inertia,
    c_sum) where inertia = Σ member distances under the FINAL
    centroids and c_sum = Σ centroid components — together they pin
    both the assignment and the centroid values exactly."""
    q = scoped_cache(_quantized(embeddings, vec_col, id_col, scale))
    centroids = kmeans_centroids(embeddings, k, iterations, vec_col, id_col, scale)
    c_sum = {j: sum(c) for j, c in enumerate(centroids)}
    spark = embeddings.sparkSession
    csum_df = spark.createDataFrame(
        [(j, int(s)) for j, s in c_sum.items()], "cluster_id int, c_sum long"
    )
    final = (
        q.select("qv")
        .mapInPandas(_assign_dist_fn(centroids), "c int, dist long")
        .groupBy(F.col("c").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("dist").alias("inertia"),
        )
    )
    return final.join(F.broadcast(csum_df), "cluster_id")


_KMEANS_REF_MEMO: dict[tuple, list[list[int]]] = {}


def kmeans_fixed_reference(
    path: str,
    k: int = 8,
    iterations: int = 2,
    scale: int = FIXED_SCALE,
) -> list[list[int]]:
    """Sequential numpy replica of ``kmeans_fixed`` reading the
    parquet directly — an INDEPENDENT implementation of the same
    integer algorithm, used to embed final-centroid literals in the
    DuckDB oracle. Because every op is exact int64, the distributed
    and sequential paths must agree bit-for-bit."""
    key = (path, k, iterations, scale)
    if key not in _KMEANS_REF_MEMO:
        import numpy as np
        import pyarrow.parquet as pq

        t = (
            pq.read_table(path, columns=["vec_id", "embedding"])
            .to_pandas()
            .sort_values("vec_id")
            .reset_index(drop=True)
        )
        v = np.vstack(t["embedding"].to_numpy()).astype(np.float64)
        q = np.floor(v * scale).astype(np.int64)
        c = q[:k].copy()
        for _ in range(iterations):
            d = ((q[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
            a = d.argmin(axis=1)  # first-min tie-break, same as Spark
            for j in range(k):
                m = a == j
                if m.any():
                    c[j] = np.floor_divide(q[m].sum(axis=0), int(m.sum()))
        _KMEANS_REF_MEMO[key] = [[int(x) for x in row] for row in c]
    return _KMEANS_REF_MEMO[key]
