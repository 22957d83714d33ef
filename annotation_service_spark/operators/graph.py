"""Fixed-point PageRank over the embedding k-NN graph — graph
centrality for corpus curation.

The reference has no graph surface; this is the second member of the
iterative-algorithm class (with k-means, operators/clustering.py) and
a real curation primitive: PageRank over the k-nearest-neighbor graph
of document embeddings scores how REPRESENTATIVE each document is of
its neighborhood (central docs anchor clusters; low-rank docs are
outliers) — the signal coreset-selection and quality-weighted
sampling recipes use.

All arithmetic is exact int64 fixed point, so the distributed result
is bit-identical to any sequential replay:

  s_0(v)   = SCALE
  s_t+1(v) = BASE + (DAMP_PCT · Σ_{u→v} (s_t(u) div deg(u))) div 100
  BASE     = ((100 − DAMP_PCT) · SCALE) div 100

(`div` = integer floor division; every op is associative-exact, the
same trick that makes k-means oracle-checkable.) The oracle replays
the ENTIRE computation independently in DuckDB — edges from the
established exact-cosine SQL, the iterations unrolled as chained
CTEs — no literals shipped between engines.

Scale design (100 TB):
- the edge list is built ONCE: exact brute-force for the oracle
  regime, or the LSH/IVF ANN path (operators/similarity.py) at
  scale — PageRank itself only consumes (src, dst) pairs.
- per iteration: one join keyed by node id (uniform — ids, not
  degrees, are the key) + one map-side-combinable groupBy(dst);
  scores are ONE row per node, orders of magnitude smaller than
  the corpus. Lineage is truncated per round (localCheckpoint),
  the standard Spark iterative pattern (see clustering.py notes).
- k-NN graphs bound out-degree by construction (deg ≤ k), so the
  contribution fan-out is O(k·n) with no skew; in-degree hubs are
  absorbed by the partial-aggregated sum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

PR_SCALE = 1_000_000


def knn_edges(
    embeddings: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "gemm",
    **ann_kwargs,
) -> DataFrame:
    """Directed k-NN edges (src, dst): each vector points at its k
    nearest neighbors by round-6 cosine (ties toward the smaller
    neighbor id — the ANN family's portable ordering).

    ``method`` selects the neighbor-search strategy (the reference's
    pluggable-source pattern, geoloader/geoloader.go:228-262):

    - ``"gemm"``  — exact: per-partition BLAS + expression re-score
      (bit-identical to the brute-force expression form). The re-score
      broadcasts the normalized QUERY matrix, and with every node a
      query that is a full-corpus driver materialization — the oracle
      regime, NOT the 100 TB path.
    - ``"lsh"``   — banded random-hyperplane candidates + exact
      re-rank. Pure banded self-equi-join: the corpus is never
      collected or broadcast — the default scale path.
    - ``"ivf"``   — inverted-file probe join + exact re-rank; equally
      collect-free (only k centroids cross the driver).

    Extra ``ann_kwargs`` (n_planes/bands/n_centroids/...) pass through
    to the chosen builder."""
    from annotation_service_spark.operators import similarity as sim

    builders = {
        "gemm": sim.ann_bruteforce_topk_gemm,
        "lsh": sim.ann_lsh_topk,
        "ivf": sim.ann_ivf_topk,
    }
    if method not in builders:
        raise ValueError(f"unknown knn_edges method {method!r}; use gemm|lsh|ivf")
    top = builders[method](
        embeddings,
        id_col=id_col,
        vec_col=vec_col,
        query_filter=F.lit(True),
        k=k,
        **ann_kwargs,
    )
    return top.select(F.col("qid").alias("src"), F.col("nid").alias("dst"))


def pagerank_fixed(
    edges: DataFrame,
    iterations: int = 3,
    damping_pct: int = 85,
    scale: int = PR_SCALE,
) -> DataFrame:
    """Integer-exact PageRank with a fixed iteration count over a
    directed edge list. Returns (node, pr_score) with pr_score in
    SCALE fixed-point units. Nodes are the union of edge endpoints;
    every node starts at SCALE. Dangling nodes (no out-edges) leak
    their mass — the classic simplification — which is deterministic
    and mirrored by the oracle; k-NN graphs have none (deg = k)."""
    base = ((100 - damping_pct) * scale) // 100
    # materialize the (src, dst, deg) adjacency ONCE: it is consumed
    # by every iteration, and without plan truncation each round would
    # re-execute the (possibly expensive — e.g. k-NN) edge derivation
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    adj = edges.join(deg, "src").localCheckpoint()
    nodes = (
        adj.select(F.col("src").alias("node"))
        .union(adj.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    scores = nodes.select("node", F.lit(scale).cast("long").alias("score"))
    for _ in range(iterations):
        contrib = adj.join(
            scores.select(F.col("node").alias("src"), "score"), "src"
        ).select("dst", F.expr("score div deg").cast("long").alias("c"))
        in_sum = contrib.groupBy(F.col("dst").alias("node")).agg(
            F.sum("c").alias("m")
        )
        scores = (
            nodes.join(in_sum, "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr(
                        f"({damping_pct} * coalesce(m, 0L)) div 100"
                    )
                )
                .cast("long")
                .alias("score"),
            )
            .localCheckpoint(eager=False)
        )
    return scores.select("node", F.col("score").alias("pr_score"))


def knn_pagerank(
    embeddings: DataFrame,
    k: int = 3,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "gemm",
    **ann_kwargs,
) -> DataFrame:
    """Representativeness score per vector: PageRank over the k-NN
    cosine graph. (vec_id, pr_score) in fixed-point units.
    ``method="gemm"`` is the exact/oracle regime; ``"lsh"``/``"ivf"``
    are the collect-free 100 TB edge builds (see ``knn_edges``)."""
    return pagerank_fixed(
        knn_edges(embeddings, k, id_col, vec_col, method=method, **ann_kwargs),
        iterations,
    ).withColumnRenamed("node", id_col)


def triangle_counts(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Per-node triangle counts over an undirected edge list — the
    clustering-coefficient / community-density primitive. Input rows
    may be either orientation and may repeat; edges are canonicalized
    to (lo < hi) and deduped first.

    Default is the standard two-join ordered enumeration: each
    triangle a<b<c is found exactly once as e(a,b) ⋈ e(b,c) ⋈ e(a,c),
    then each of its three corners gets +1 via an explode. All three
    joins are equi-joins on node ids; the shuffle key is the node id.

    Returns (id, n_triangles) for every node on ≥1 edge (nodes with
    zero triangles included — their count is 0).

    The canonical edge set is scoped-cached (r13, guide §2.4): the
    plan consumes it five times (three join legs + the node roll-up),
    and when ``pairs`` is itself a shingle-join near-dup pipeline,
    each uncached reference replayed that whole pipeline — measured
    at sf0.1, 26 Exchanges with zero reuse. Edges are the tiny
    relation here (∝ near-dup pairs, not corpus bytes)."""
    from annotation_service_spark.caching import scoped_cache

    e = scoped_cache(
        pairs.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("lo"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("hi"),
        )
        .where(F.col("lo") != F.col("hi"))
        .distinct(),
    )
    nodes = (
        e.select(F.col("lo").alias("id"))
        .union(e.select(F.col("hi").alias("id")))
        .distinct()
    )
    ab = e.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    bc = e.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    ac = e.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"])
    corner = tri.select(
        F.explode(F.array("a", "b", "c")).alias("id")
    ).groupBy("id").agg(F.count(F.lit(1)).alias("n_triangles"))
    return nodes.join(corner, "id", "left").select(
        "id",
        F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
    )


def k_core(
    pairs: DataFrame,
    k: int = 2,
    rounds: int = 12,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """k-core decomposition by iterated degree peeling: repeatedly
    drop every vertex of degree < k (and its edges) until a fixed
    point. Returns (id, degree) for the surviving subgraph — the
    dense hearts of the near-dup graph (a vertex in the k-core has ≥k
    neighbours that THEMSELVES survive, a much stronger density
    signal than raw degree; standard for community/spam-blob mining).

    Contract: exactly ``rounds`` peel passes, with an early exit once
    a pass removes nothing — an absorbing state, so the result equals
    the full ``rounds``-pass result (the DuckDB oracle unrolls the
    same fixed number of passes; near-dup blob graphs converge in
    2-4). Each pass is one degree groupBy + two semi-joins keyed by
    node id — uniform keys, no driver-side graph state; per-pass
    results are localCheckpoint()ed to keep the iterative plan flat
    (the connected_components pattern)."""
    e = (
        pairs.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("lo"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("hi"),
        )
        .where(F.col("lo") != F.col("hi"))
        .distinct()
    )
    sym = e.union(
        e.select(F.col("hi").alias("lo"), F.col("lo").alias("hi"))
    ).select(F.col("lo").alias("src"), F.col("hi").alias("dst")).localCheckpoint(
        eager=False
    )
    n_edges = sym.count()
    for _ in range(rounds):
        if n_edges == 0:
            break
        deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("c"))
        alive = deg.where(F.col("c") >= k).select(F.col("src").alias("id"))
        sym = (
            sym.join(alive.withColumnRenamed("id", "src"), "src")
            .join(alive.withColumnRenamed("id", "dst"), "dst")
            .select("src", "dst")
            .localCheckpoint(eager=False)
        )
        n_now = sym.count()
        if n_now == n_edges:
            break
        n_edges = n_now
    return sym.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )


def lpa_communities(
    pairs: DataFrame,
    rounds: int = 3,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) made
    DETERMINISTIC: every round each vertex adopts the most frequent
    label among its neighbours, ties broken toward the smaller label
    — (count DESC, label ASC) is a total order, so the usual LPA
    coin-flip disappears and the run is engine-portable. Exactly
    ``rounds`` synchronous rounds (no early exit: unlike peeling,
    LPA states are not absorbing — labels can oscillate — so the
    contract is the round count itself, which the oracle unrolls).

    Distinct from connected components: frequency beats minimum, so
    a sparse bridge between two dense blobs does NOT merge them the
    way CC's min-label flood does — this is the community view of
    the near-dup graph, CC is the reachability view.

    Scale: per round one neighbour-label equi-join (labels table is
    one row per vertex ≪ corpus) + one map-side-combinable (node,
    label) count + one per-node window over ≤ degree rows;
    localCheckpoint keeps the iterative plan flat. Returns
    (id, community) with community = the round-``rounds`` label."""
    e = (
        pairs.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("lo"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("hi"),
        )
        .where(F.col("lo") != F.col("hi"))
        .distinct()
    )
    sym = (
        e.union(e.select(F.col("hi").alias("lo"), F.col("lo").alias("hi")))
        .select(F.col("lo").alias("src"), F.col("hi").alias("dst"))
        .localCheckpoint(eager=False)
    )
    labels = sym.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("label")
    ).localCheckpoint(eager=False)
    w = Window.partitionBy("id").orderBy(F.desc("c"), F.asc("label"))
    for _ in range(rounds):
        nbr = sym.join(
            labels.select(F.col("id").alias("dst"), "label"), "dst"
        ).select(F.col("src").alias("id"), "label")
        counts = nbr.groupBy("id", "label").agg(F.count(F.lit(1)).alias("c"))
        labels = (
            counts.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("id", "label")
            .localCheckpoint(eager=False)
        )
    return labels.select("id", F.col("label").cast("long").alias("community"))
