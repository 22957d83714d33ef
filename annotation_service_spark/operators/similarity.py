"""Embedding similarity search (approximate nearest neighbor).

Two paths over an ``array<float>`` embedding column:

- ``ann_bruteforce_topk``: exact cosine top-k. The query set is
  broadcast; the corpus streams through a JVM-side zip_with/aggregate
  dot product — no shuffle of the corpus, no Python. Cost O(|corpus|
  × |queries| × dim): right whenever queries ≪ corpus (the usual
  retrieval shape), and the baseline every approximate method is
  verified against.
- ``ann_lsh_topk``: random-hyperplane (SimHash-for-vectors) LSH.
  Deterministic hyperplanes are derived from a seeded RNG, shipped as
  literal arrays (built into the plan, broadcast with it); corpus
  rows hash to signature buckets, candidates surface via a band
  equi-join and are re-ranked by exact cosine. At 100 TB this trades
  the |corpus|×|queries| product for a bucket join keyed on uniform
  hashes — skew-free, and the only full-corpus pass is the signature
  projection.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from annotation_service_spark import caching
from annotation_service_spark.caching import scoped_cache
from annotation_service_spark.operators.banding import band_join, fingerprint_bands
from annotation_service_spark.operators import interval


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column | str, b: Column | str, dim: int | None = None) -> Column:
    """Sequential left-to-right sum — bit-identical to the DuckDB
    oracle's list_sum over the zipped product.

    With ``dim`` known (the usual case — embedding width is fixed),
    the product-sum is unrolled into positional getItem expressions,
    which whole-stage codegen compiles; the HOF fallback
    (aggregate/zip_with) is INTERPRETED per row and ~10x slower on
    the pair-scoring hot path. Same value either way: the fold's
    0.0+x0 equals x0 and both associate left-to-right.

    Pass column NAMES (strings) where possible: the unrolled tree is
    then built as ONE parsed SQL string instead of ~3·dim py4j
    Column calls — same left-associated expression, ~100x cheaper
    query CONSTRUCTION (0.35 s → 3 ms per 64-dim dot; the ANN family
    builds several per query)."""
    if dim is not None and isinstance(a, str) and isinstance(b, str):
        return F.expr(
            " + ".join(f"`{a}`[{i}] * `{b}`[{i}]" for i in range(dim))
        )
    if isinstance(a, str):
        a = F.col(a)
    if isinstance(b, str):
        b = F.col(b)
    if dim is not None:
        expr = a[0] * b[0]
        for i in range(1, dim):
            expr = expr + a[i] * b[i]
        return expr
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _prune_topk_per_query(
    s: "np.ndarray", ids: "np.ndarray", kk: int
) -> tuple["np.ndarray", "np.ndarray"]:
    """Deterministic local top-``kk`` per query column of a (rows,
    queries) score matrix: order by (score desc, id asc), non-finite
    dropped. The lexsort tie-break means boundary ties can no longer
    flip with partition layout / argpartition's internal order — the
    local prune is a pure function of its inputs, so the downstream
    exact re-score (and the bit-identical-output claim) holds even at
    exact score ties (the ann_pq adc_prune already did this). Returns
    (row_indices, col_indices).

    Cost: O(n) argpartition per column, then a lexsort of only the
    top-kk set COMPLETED with its boundary ties (every element
    strictly above the kk-th value is in the answer by count; only
    elements equal to it compete on id). Boundary ties are first
    cut to the ``need`` smallest ids by an O(#ties) id-argpartition,
    so heavily tied score columns (quantized / PQ integer scores)
    never reinstate a near-full-column sort — the final lexsort is
    over at most kk elements."""
    rows_out: list = []
    cols_out: list = []
    for qi in range(s.shape[1]):
        col = s[:, qi]
        idx = np.flatnonzero(np.isfinite(col))
        if not len(idx):
            continue
        cand = idx
        if len(idx) > kk:
            top = idx[np.argpartition(-col[idx], kk - 1)[:kk]]
            boundary = col[top].min()
            strict = idx[col[idx] > boundary]
            tied = idx[col[idx] == boundary]
            need = kk - len(strict)  # >=1: top contains the boundary
            if len(tied) > need:
                # only the `need` smallest ids among the ties can win
                tied = tied[np.argpartition(ids[tied], need - 1)[:need]]
            cand = np.concatenate([strict, tied])
        order = cand[np.lexsort((ids[cand], -col[cand]))][:kk]
        rows_out.append(order)
        cols_out.append(np.full(len(order), qi, dtype=np.int64))
    if not rows_out:
        z = np.empty(0, dtype=np.int64)
        return z, z
    return np.concatenate(rows_out), np.concatenate(cols_out)


def _topk_per_query(scored: DataFrame, score: str, k: int) -> DataFrame:
    """The ``k`` best ``(qid, nid, score)`` rows of each ``qid``:
    ``score`` descending, ties to the smaller ``nid`` (the order
    ``_prune_topk_per_query`` prunes by)."""
    w = Window.partitionBy("qid").orderBy(F.col(score).desc(), F.col("nid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("qid", "nid", score)
    )


_DIM_MEMO: dict[tuple[int, str], int] = {}


def _vec_dim(embeddings: DataFrame, vec_col: str) -> int:
    """Embedding width (fixed per corpus). Memoized on the plan's
    semantic hash so repeated query construction over the same source
    doesn't re-run a .first() driver job each time."""
    key = (embeddings.semanticHash(), vec_col)
    if key not in _DIM_MEMO:
        _DIM_MEMO[key] = len(embeddings.select(vec_col).first()[0])
    return _DIM_MEMO[key]


def ann_bruteforce_topk(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_filter: Column | None = None,
    k: int = 3,
    round_digits: int = 6,
) -> DataFrame:
    """Exact top-k neighbors for the filtered query subset against the
    whole corpus. Returns (qid, nid, cos), rank by (cos desc, nid) —
    rounding before ranking keeps the ordering engine-portable.

    Norms are computed ONCE per corpus/query row below the join (not
    per pair), and the per-pair dot product is a dim-unrolled codegen
    expression — together ~10x over the HOF-per-pair form."""
    from annotation_service_spark.partitioning import spread_underparallel

    dim = _vec_dim(embeddings, vec_col)
    # r14 (guide §2.5): the per-pair dot/round projection above the
    # cross join is pure expression compute — a one-row-group corpus
    # scan pins it to one task (A/B: 0.45x with the spread)
    base = spread_underparallel(embeddings).select(
        F.col(id_col).alias("nid"), as_double(F.col(vec_col)).alias("ce")
    ).withColumn("cn", F.sqrt(dot("ce", "ce", dim)))
    qf = query_filter if query_filter is not None else (F.col(id_col) % 50 == 0)
    q = embeddings.where(qf).select(
        F.col(id_col).alias("qid"), as_double(F.col(vec_col)).alias("qe")
    ).withColumn("qn", F.sqrt(dot("qe", "qe", dim)))
    scored = base.crossJoin(F.broadcast(q)).where(F.col("qid") != F.col("nid"))
    scored = scored.select(
        "qid",
        "nid",
        F.round(
            dot("qe", "ce", dim) / (F.col("qn") * F.col("cn")),
            round_digits,
        ).alias("cos"),
    )
    return _topk_per_query(scored, "cos", k)


def ann_bruteforce_topk_gemm(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_filter: Column | None = None,
    k: int = 3,
    round_digits: int = 6,
    local_slack: int = 8,
) -> DataFrame:
    """Exact cosine top-k via one BLAS matmul per corpus partition —
    the 100 TB form of ``ann_bruteforce_topk``.

    The normalized query matrix (|Q| × dim) is broadcast; every
    corpus Arrow batch computes ``V̂ @ Q̂ᵀ`` and keeps only its local
    top-(k+slack) rows per query (argpartition), so the shuffle into
    the global re-rank carries ≤ batches × |Q| × (k+slack) rows
    instead of |corpus| × |Q| pairs. Survivors are then RE-SCORED
    with the same codegen expression as ``ann_bruteforce_topk`` (one
    broadcast of the tiny candidate set into a corpus scan), so the
    output values are bit-identical to the expression form and share
    its SQL oracle. ``local_slack`` guards the prune against
    matmul-vs-sequential-sum ordering flips at near-ties: a true
    global top-k row would have to fall ``slack`` ranks inside its
    own partition for the prune to lose it."""
    spark = embeddings.sparkSession
    dim = _vec_dim(embeddings, vec_col)
    qf = query_filter if query_filter is not None else (F.col(id_col) % 50 == 0)
    qpdf = embeddings.where(qf).select(id_col, vec_col).toPandas()
    qids = qpdf[id_col].to_numpy(dtype=np.int64)
    qm = np.vstack(qpdf[vec_col].to_numpy()).astype(np.float64)
    qm /= np.linalg.norm(qm, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((qids, qm))

    def score(it):
        bqids, bq = bc.value
        nq = len(bqids)
        for pdf in it:
            if not len(pdf) or not nq:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            v = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            v /= np.linalg.norm(v, axis=1, keepdims=True)
            s = v @ bq.T  # (n, |Q|)
            s[ids[:, None] == bqids[None, :]] = -np.inf  # self-pairs
            kk = min(k + local_slack, len(ids))
            rows, cols = _prune_topk_per_query(s, ids, kk)
            yield pd.DataFrame({"qid": bqids[cols], "nid": ids[rows]})

    cand = embeddings.select(id_col, vec_col).mapInPandas(
        score, "qid long, nid long"
    )
    # exact re-score: candidate set is tiny (≤ partitions × |Q| ×
    # (k+slack)) so it broadcasts into one corpus scan; query vectors
    # broadcast likewise. Same expression tree as the brute-force
    # form ⇒ identical round-6 values and tie-breaks.
    base = embeddings.select(
        F.col(id_col).alias("nid"), as_double(F.col(vec_col)).alias("ce")
    ).withColumn("cn", F.sqrt(dot("ce", "ce", dim)))
    q = embeddings.where(qf).select(
        F.col(id_col).alias("qid"), as_double(F.col(vec_col)).alias("qe")
    ).withColumn("qn", F.sqrt(dot("qe", "qe", dim)))
    scored = (
        base.join(F.broadcast(cand), "nid")
        .join(F.broadcast(q), "qid")
        .select(
            "qid",
            "nid",
            F.round(
                dot("qe", "ce", dim) / (F.col("qn") * F.col("cn")),
                round_digits,
            ).alias("cos"),
        )
    )
    return _topk_per_query(scored, "cos", k)


def embedding_dup_pairs(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    round_digits: int = 6,
    use_lsh: bool = False,
    n_planes: int = 60,
    bands: int = 4,
    probe_bits: int = 1,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cos) with
    cosine ≥ threshold and id_a < id_b.

    ``use_lsh=False`` is the exact all-pairs form (|corpus|² cosines —
    the oracle-checkable ground truth, fine up to ~10^5 rows). Like
    ``ann_bruteforce_topk_gemm`` it GEMM-prefilters: the normalized
    matrix broadcasts (the ≤10^5-row oracle regime makes that ≤50 MB),
    each partition matmuls its rows against it and keeps pairs with
    gemm-cos ≥ threshold − 1e-3, and ONLY those are re-scored with
    the sequential codegen expression — output values stay
    bit-identical to the naive crossJoin form (pytest-pinned) at
    ~1/|corpus| of its cost (measured 32.7 s → ~2 s at 6k×64). The
    1e-3 margin dwarfs matmul-vs-sequential summation drift (~1e-12);
    NaN scores (zero-norm vectors) are kept so the expression layer
    decides them exactly as the crossJoin did.

    The exact path is SIZE-GATED like ``range_join_broadcast``: the
    corpus must fit the driver + one broadcast (Catalyst sizeInBytes
    estimate first — free; one count() job only when that estimate
    crosses ``interval.MAX_BROADCAST_BYTES``). Past the gate the call raises
    and names ``use_lsh=True`` — silently collecting a 100 TB corpus
    to the driver is the failure mode this guard exists to prevent.
    Ids keep their source dtype (long/int/string all work; no int64
    coercion).
    ``use_lsh=True`` restricts pairs to LSH band candidates instead —
    the 100 TB path, sharing the ANN family's probed wide-band
    machinery (15-bit keys + hamming-1 multi-probe; the band join
    carries only ids, vectors re-attach by two id equi-joins),
    verified against the exact form by the recall test."""
    dim = _vec_dim(embeddings, vec_col)
    if use_lsh:
        lsh_base, cand_ids = _lsh_base_and_candidates(
            embeddings, id_col, vec_col, F.lit(True),
            n_planes, bands, 7, probe_bits,
        )
        vecs = lsh_base.select("id", "ve", "nrm")
        cand = (
            cand_ids.where(F.col("qid") < F.col("nid"))
            .join(
                vecs.select(
                    F.col("id").alias("qid"),
                    F.col("ve").alias("va"),
                    F.col("nrm").alias("na"),
                ),
                "qid",
            )
            .join(
                vecs.select(
                    F.col("id").alias("nid"),
                    F.col("ve").alias("vb"),
                    F.col("nrm").alias("nb"),
                ),
                "nid",
            )
            .select(
                F.col("qid").alias("id_a"),
                F.col("nid").alias("id_b"),
                "va", "vb", "na", "nb",
            )
        )
    else:
        spark = embeddings.sparkSession
        base = embeddings.select(
            F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("ve")
        ).withColumn("nrm", F.sqrt(dot("ve", "ve", dim)))
        # size gate (the range_join_broadcast two-tier pattern,
        # interval.py): Catalyst's sizeInBytes estimate is free; only
        # when that (over)estimate crosses the threshold do we pay one
        # count() for a precise per-row-bytes estimate before refusing.
        slim = embeddings.select(id_col, vec_col)
        budget = interval.MAX_BROADCAST_BYTES
        est_bytes = interval._estimated_bytes(slim)  # unknown → verify by count
        if est_bytes > budget:
            n_rows = slim.count()
            est_bytes = n_rows * (dim * 8 + 24)
        if est_bytes > budget:
            raise ValueError(
                f"embedding_dup_pairs: exact all-pairs path would collect "
                f"~{est_bytes >> 20} MiB of vectors to the driver (cap "
                f"{budget >> 20} MiB) — use use_lsh=True (the banded scale path)"
            )
        pdf = slim.toPandas()
        all_ids = pdf[id_col].to_numpy()  # keep source dtype
        m = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
        nrm = np.linalg.norm(m, axis=1, keepdims=True)
        with np.errstate(divide="ignore", invalid="ignore"):
            m = m / nrm  # zero-norm rows become NaN → kept below
        bc = spark.sparkContext.broadcast((all_ids, m))
        margin = 1e-3
        id_sql_type = embeddings.schema[id_col].dataType.simpleString()

        def prefilter(it):
            bids, bm = bc.value
            for part in it:
                if not len(part):
                    continue
                ids_p = part[id_col].to_numpy()
                v = np.vstack(part[vec_col].to_numpy()).astype(np.float64)
                n_p = np.linalg.norm(v, axis=1, keepdims=True)
                with np.errstate(divide="ignore", invalid="ignore"):
                    v = v / n_p
                s = v @ bm.T
                mask = (
                    (s >= threshold - margin) | np.isnan(s)
                ) & (ids_p[:, None] < bids[None, :])
                r, c = np.nonzero(mask)
                yield pd.DataFrame({"id_a": ids_p[r], "id_b": bids[c]})

        cand_ids = slim.mapInPandas(
            prefilter, f"id_a {id_sql_type}, id_b {id_sql_type}"
        )
        # the candidate set is tiny (true dups + margin near-misses):
        # broadcast IT into two corpus-side joins, mirroring the GEMM
        # top-k re-score — the corpus never broadcasts
        cand = (
            base.select(
                F.col("id").alias("id_a"),
                F.col("ve").alias("va"),
                F.col("nrm").alias("na"),
            )
            .join(F.broadcast(cand_ids), "id_a")
            .join(
                base.select(
                    F.col("id").alias("id_b"),
                    F.col("ve").alias("vb"),
                    F.col("nrm").alias("nb"),
                ),
                "id_b",
            )
        )
    return cand.select(
        "id_a",
        "id_b",
        F.round(
            dot("va", "vb", dim) / (F.col("na") * F.col("nb")),
            round_digits,
        ).alias("cos"),
    ).where(F.col("cos") >= threshold)


def ivf_build_centroids(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    iterations: int = 3,
) -> list[list[float]]:
    """IVF coarse quantizer: deterministic k-means (init = the vectors
    whose ids hash smallest — no RNG; Lloyd iterations as DataFrame
    aggs). Returns driver-side centroid list (tiny: k × dim floats).

    At 100 TB the corpus passes are the only cost: each iteration is
    one crossJoin-to-k-literals argmin + one groupBy mean — both
    map-side heavy, no large shuffle."""
    with caching.scope():
        base = scoped_cache(
            embeddings.select(
                F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("ve")
            )
        )
        init = (
            base.withColumn("h", F.md5(F.col("id").cast("string")))
            .orderBy("h")
            .limit(n_centroids)
            .collect()
        )
        centroids = [list(r.ve) for r in init]
        dim = len(centroids[0])
        for _ in range(iterations):
            assigned = base.withColumn("c", _nearest_centroid(centroids)(F.col("ve")))
            agg = assigned.groupBy("c").agg(
                *[F.avg(F.col("ve")[i]).alias(f"d{i}") for i in range(dim)],
                F.count(F.lit(1)).alias("n"),
            )
            rows = {r.c: r for r in agg.collect()}
            centroids = [
                [rows[k][f"d{i}"] for i in range(dim)] if k in rows else centroids[k]
                for k in range(n_centroids)
            ]
    return centroids


_IVF_PARQUET_MEMO: dict[tuple, list[list[float]]] = {}


def ivf_centroids_from_parquet(
    path: str, n_centroids: int = 8, iterations: int = 3
) -> list[list[float]]:
    """Deterministic k-means centroids computed driver-side straight
    from a parquet file — same algorithm as ``ivf_build_centroids``
    (init = vectors whose md5(id) sort smallest; Lloyd with
    first-min tie-break) but with a FIXED reduction order, so the
    exact double values are reproducible across engines.

    This exists for oracle checking: the gate query and the DuckDB
    oracle both call it on the same file and embed bit-identical
    centroid literals. The distributed ``ivf_build_centroids`` stays
    the 100 TB build path (corpus never leaves the cluster there);
    recall of that path is pytest-verified separately."""
    key = (path, n_centroids, iterations)
    if key not in _IVF_PARQUET_MEMO:
        import hashlib

        import pyarrow.parquet as pq

        t = (
            pq.read_table(path, columns=["vec_id", "embedding"])
            .to_pandas()
            .sort_values("vec_id")
            .reset_index(drop=True)
        )
        v = np.vstack(t["embedding"].to_numpy()).astype(np.float64)
        ids = t["vec_id"].to_numpy()
        h = np.array(
            [hashlib.md5(str(int(i)).encode()).hexdigest() for i in ids]
        )
        order = np.argsort(h, kind="stable")
        c = v[order[:n_centroids]].copy()
        for _ in range(iterations):
            cc = (c * c).sum(axis=1)
            d = v @ (-2.0 * c.T) + cc
            a = np.argmin(d, axis=1)
            for j in range(n_centroids):
                m = a == j
                if m.any():
                    c[j] = v[m].mean(axis=0)
        _IVF_PARQUET_MEMO[key] = [[float(x) for x in row] for row in c]
    return _IVF_PARQUET_MEMO[key]


def _nearest_centroid(centroids: list[list[float]]):
    """Vectorized centroid assignment: one BLAS matmul per Arrow batch.

    ‖v−c‖² = v·v − 2 v·c + c·c and v·v is constant across centroids,
    so the argmin needs only (−2 v·c + c·c). A pure-expression
    formulation (k × dim unrolled literals) janino-compiles MiBs of
    code per plan — the k×dim closure here is ~4 KB in the task
    binary and the per-row cost is a matmul row, which is both the
    local[32] and the 1000-executor win (no codegen, no giant plan
    broadcast; scales with corpus rows only)."""
    c = np.asarray(centroids, dtype=np.float64)
    cc = (c * c).sum(axis=1)
    neg2ct = -2.0 * c.T

    @F.pandas_udf("int")
    def assign(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int32")
        v = np.vstack(vecs.to_numpy()).astype(np.float64)
        # fixed 1e-6 rounding before argmin: BLAS matmul and a
        # sequential sum (the DuckDB oracle) differ by summation
        # ORDER only (ulps); rounding collapses that, and residual
        # true ties break toward the lower centroid id on both
        # engines (np.argmin = first index; SQL ORDER BY dist, cid).
        d = np.floor((v @ neg2ct + cc) * 1e6 + 0.5)
        return pd.Series(np.argmin(d, axis=1).astype("int32"))

    return assign


def ann_ivf_topk(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_filter: Column | None = None,
    k: int = 3,
    n_centroids: int = 8,
    n_probe: int = 2,
    round_digits: int = 6,
    centroids: list[list[float]] | None = None,
    local_slack: int = 8,
) -> DataFrame:
    """IVF ANN: corpus rows are inverted-listed by nearest centroid;
    each query scans only its ``n_probe`` nearest lists, then exact
    cosine re-ranks — at scale this replaces |corpus|×|queries| with
    |corpus|×(n_probe/k_centroids).

    Physical shape (the ``ann_bruteforce_topk_gemm`` pattern applied
    per inverted list): the query table (qid, probed list ids,
    normalized vectors — KBs) is broadcast; ONE corpus pass assigns
    each Arrow batch to its lists and GEMM-scores each list's rows
    against only the queries probing that list, keeping the local
    top-(k+slack) per query. Survivors (≤ batches·|Q|·(k+slack) —
    tiny) are then RE-SCORED with the same codegen expression as the
    expression form, so output values and tie-breaks are
    bit-identical to the probe-join spec the SQL oracle replays.
    The expression scored |corpus|·n_probe/k_c pairs JVM-side
    (measured 6 s / 3M pairs at the 10× block); the kernel's matmul
    scores them at BLAS speed and ships only ids. ``local_slack``
    guards the prune against matmul-vs-sequential summation-order
    flips at near-ties, exactly as in the brute GEMM form.

    ``centroids``: pass precomputed centroids (e.g. from
    ``ivf_centroids_from_parquet`` for oracle-checkable determinism);
    default builds them distributed via ``ivf_build_centroids``."""
    if centroids is None:
        centroids = ivf_build_centroids(embeddings, id_col, vec_col, n_centroids)
    dim = len(centroids[0])
    spark = embeddings.sparkSession

    qf = query_filter if query_filter is not None else (F.col(id_col) % 50 == 0)
    # query side driver-side: ids, vectors, probed list ids (the same
    # rounded-distance argsort the expression form used)
    qpdf = embeddings.where(qf).select(id_col, vec_col).toPandas()
    qids = qpdf[id_col].to_numpy(dtype=np.int64)
    qm = np.vstack(qpdf[vec_col].to_numpy()).astype(np.float64)
    c = np.asarray(centroids, dtype=np.float64)
    d_q = np.floor(
        (qm @ (-2.0 * c.T) + (c * c).sum(axis=1)) * 1e6 + 0.5
    )
    probes = np.argsort(d_q, axis=1, kind="stable")[:, :n_probe]
    qn_ = np.linalg.norm(qm, axis=1, keepdims=True)
    qmn = np.divide(qm, qn_, out=np.zeros_like(qm), where=qn_ > 0)
    # per list: (query ids, normalized query matrix) of its probers
    by_list = {}
    for j in range(len(centroids)):
        sel = np.flatnonzero((probes == j).any(axis=1))
        if len(sel):
            by_list[j] = (qids[sel], qmn[sel])
    bc = spark.sparkContext.broadcast(by_list)

    assign = _nearest_centroid(centroids)

    def prune(it):
        lists = bc.value
        for pdf in it:
            if not len(pdf):
                continue
            ids = pdf["id"].to_numpy(dtype=np.int64)
            v = np.vstack(pdf["ve"].to_numpy()).astype(np.float64)
            nn = np.linalg.norm(v, axis=1, keepdims=True)
            vn = np.divide(v, nn, out=np.zeros_like(v), where=nn > 0)
            cl = pdf["c"].to_numpy()
            for j in np.unique(cl):
                if j not in lists:
                    continue
                lqids, lq = lists[j]
                m = cl == j
                lids = ids[m]
                s = vn[m] @ lq.T  # (list rows in batch, probers)
                s[lids[:, None] == lqids[None, :]] = -np.inf
                kk = min(k + local_slack, len(lids))
                rows, cols = _prune_topk_per_query(s, lids, kk)
                yield pd.DataFrame(
                    {"qid": lqids[cols], "nid": lids[rows]}
                )

    base = embeddings.select(
        F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("ve")
    ).withColumn("c", assign(F.col("ve")))
    cand = base.mapInPandas(prune, "qid long, nid long")

    # exact re-score of the tiny survivor set: same expression tree
    # and window tie-break as the expression form ⇒ identical output.
    vecs = embeddings.select(
        F.col(id_col).alias("nid"), as_double(F.col(vec_col)).alias("ce")
    ).withColumn("cn", F.sqrt(dot("ce", "ce", dim)))
    qv = embeddings.where(qf).select(
        F.col(id_col).alias("qid"), as_double(F.col(vec_col)).alias("qe")
    ).withColumn("qn", F.sqrt(dot("qe", "qe", dim)))
    scored = (
        vecs.join(F.broadcast(cand), "nid")
        .join(F.broadcast(qv), "qid")
        .select(
            "qid",
            "nid",
            F.round(
                dot("qe", "ce", dim) / (F.col("qn") * F.col("cn")),
                round_digits,
            ).alias("cos"),
        )
    )
    return _topk_per_query(scored, "cos", k)


def _hyperplanes(dim: int, n_planes: int, seed: int = 7) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim))


def lsh_signature(vec: Column, planes: np.ndarray) -> Column:
    """Sign-of-projection signature as a LONG (≤ 63 planes). The
    planes become literal arrays in the plan — JVM-side dot products,
    no Python, no shuffle. NOTE: at n_planes·dim ≳ 1000 terms the
    generated code blows past the codegen budget and every stage pays
    a multi-second janino compile (measured ~12 s/query on 16×64) —
    ``lsh_signature_kernel`` is the hot-path form; this expression
    form is kept as the cross-checked reference."""
    sig = F.lit(0).cast("long")
    n_planes, dim = planes.shape
    for i in range(n_planes):
        lit_plane = F.array(*[F.lit(float(x)) for x in planes[i]])
        proj = dot(vec, lit_plane, dim)
        sig = sig + F.when(proj > 0, F.lit(1 << (n_planes - 1 - i))).otherwise(0)
    return sig


def lsh_signature_kernel(planes: np.ndarray):
    """Arrow-batched signature kernel, BIT-IDENTICAL to the
    ``lsh_signature`` expression: the projection accumulates
    sequentially over dimensions (left-associated IEEE adds,
    vectorized across rows), exactly the order of the unrolled
    expression and of DuckDB's list_sum — so sign decisions at
    near-zero projections cannot diverge between the three forms.
    Closure ships n_planes·dim float64s (KBs); no codegen cliff."""
    n_planes, dim = planes.shape
    pl = planes.astype(np.float64)

    @F.pandas_udf("long")
    def sig(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int64")
        v = np.vstack(vecs.to_numpy()).astype(np.float64)
        out = np.zeros(len(v), dtype=np.int64)
        for i in range(n_planes):
            acc = np.zeros(len(v), dtype=np.float64)
            for j in range(dim):
                acc = acc + v[:, j] * pl[i, j]
            out |= (acc > 0).astype(np.int64) << (n_planes - 1 - i)
        return pd.Series(out)

    return sig


def _lsh_base_and_candidates(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    query_filter: Column | None,
    n_planes: int,
    bands: int,
    seed: int,
    probe_bits: int = 0,
):
    """Shared signature→band→candidate chain of the LSH family.
    Returns (base, cand): ``base`` carries (id, ve, sig, nrm);
    ``cand`` is the deduped (qid, nid) candidate-pair table — the
    quantity whose growth decides whether the composition is
    sub-quadratic (see ``lsh_candidates``). With ``probe_bits=1`` the
    QUERY side probes all band keys within hamming 1 of its own
    (multi-probe LSH), so a candidate matches when some band differs
    by ≤1 bit — recall of moderate-similarity neighbours rises from
    p^b to p^b + b·p^(b-1)(1-p) per band while the keyspace stays the
    full 2^b (scale-safe: random collisions grow only (1+b)×)."""
    dim = _vec_dim(embeddings, vec_col)
    planes = _hyperplanes(dim, n_planes, seed)

    base = embeddings.select(
        F.col(id_col).alias("id"),
        as_double(F.col(vec_col)).alias("ve"),
        lsh_signature_kernel(planes)(as_double(F.col(vec_col))).alias("sig"),
    ).withColumn("nrm", F.sqrt(dot("ve", "ve", dim)))
    band_arr = fingerprint_bands(F.col("sig"), n_planes, bands)
    # the band join and the DISTINCT dedup carry ONLY (id, band, key)
    # / (qid, nid) — never the vectors. Deduping rows that still carry
    # two dim-wide arrays shuffles |cands|·2·dim doubles and hashes
    # arrays (measured 55 s vs 3 s on the all-queries k-NN-graph build
    # at sf0.1); vectors re-attach by two id equi-joins afterwards.
    # r14 (guide §2.4/§5): ``banded`` feeds BOTH sides of the band
    # join; uncached each side replays the Arrow signature kernel
    # over the corpus. (id, band, key) is three small ints per
    # (vector x band) — cache it.
    banded = scoped_cache(
        base.select("id", F.explode(band_arr).alias("bb")).select(
            "id", "bb.band", "bb.key"
        ),
    )
    qf = query_filter if query_filter is not None else (F.col("id") % 50 == 0)
    cand = band_join(
        banded,
        probe=(n_planes // bands, probe_bits),
        other=banded.where(qf),
        where=F.col("id_a") != F.col("id_b"),
        out=[F.col("id_b").alias("qid"), F.col("id_a").alias("nid")],
    )
    return base, cand


def lsh_candidates(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_filter: Column | None = None,
    n_planes: int = 60,
    bands: int = 4,
    seed: int = 7,
    probe_bits: int = 1,
) -> DataFrame:
    """Candidate-pair observability: the deduped (qid, nid) table the
    banded join produces BEFORE re-ranking. Count it to measure (not
    infer) the regime: scale-safe parameters keep |candidates| ∝
    n_queries·k; O(1)-bucket parameters degrade toward n²/buckets.
    The pytest guard (tests/test_candidate_bounds.py) asserts the
    count stays ≤ c·n_queries on a planted-dup corpus at the shipped
    defaults."""
    _, cand = _lsh_base_and_candidates(
        embeddings, id_col, vec_col, query_filter, n_planes, bands, seed,
        probe_bits,
    )
    return cand


def ann_lsh_topk(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_filter: Column | None = None,
    k: int = 3,
    n_planes: int = 60,
    bands: int = 4,
    seed: int = 7,
    round_digits: int = 6,
    max_candidates: int | None = None,
    probe_bits: int = 1,
) -> DataFrame:
    """Banded random-hyperplane ANN with hamming-1 multi-probe:
    candidates are within 1 bit of some query band key; exact cosine
    re-ranks.

    Scale note: the band keyspace is 2^(n_planes/bands) buckets per
    band. The shipped defaults (60 planes / 4 bands → 15-bit keys,
    32,768 buckets/band, ``probe_bits=1``) keep the candidate join ∝
    true near neighbours — a random pair collides with probability
    (1+15)/32768 per band — while multi-probe restores the recall
    that wide bands alone give up (per band, a neighbour with bit
    agreement p is caught with p¹⁵ + 15·p¹⁴(1−p) instead of p¹⁵;
    recall ≥ 0.8 on planted near-dups is pinned by
    tests/test_dedup_similarity.py::test_ann_lsh_recall). Narrow-band
    forms (e.g. 16/8 → 4 buckets/band) are the exhaustive *oracle
    regime* only — at corpus scale they degenerate to ~n²/buckets
    pairs. 60 is the practical max bit width: band weights
    1<<(n_planes-1) must stay positive in a signed 64-bit signature
    for sign-safe shift/mask band extraction on both the Spark and
    DuckDB sides.

    ``max_candidates``: optional hard guard — counts the candidate
    table (one extra job) and raises if the banded join produced more
    pairs, catching an accidental quadratic regime before the
    re-rank pays for it."""
    dim = _vec_dim(embeddings, vec_col)
    base, cand = _lsh_base_and_candidates(
        embeddings, id_col, vec_col, query_filter, n_planes, bands, seed,
        probe_bits,
    )
    if max_candidates is not None:
        n_cand = cand.count()
        if n_cand > max_candidates:
            raise RuntimeError(
                f"LSH candidate guard: banded join produced {n_cand} pairs"
                f" > max_candidates={max_candidates}; widen the band keys"
                f" (n_planes/bands) — the current regime is quadratic."
            )
    vecs = base.select("id", "ve", "nrm")
    scored = (
        cand.join(
            vecs.select(
                F.col("id").alias("qid"),
                F.col("ve").alias("qe"),
                F.col("nrm").alias("qn"),
            ),
            "qid",
        )
        .join(
            vecs.select(
                F.col("id").alias("nid"),
                F.col("ve").alias("ce"),
                F.col("nrm").alias("cn"),
            ),
            "nid",
        )
        .select(
            "qid",
            "nid",
            F.round(
                dot("qe", "ce", dim) / (F.col("qn") * F.col("cn")),
                round_digits,
            ).alias("cos"),
        )
    )
    return _topk_per_query(scored, "cos", k)


def ann_quantized_topk(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_filter: Column | None = None,
    k: int = 3,
    n_planes: int = 60,
    bands: int = 4,
    seed: int = 7,
    probe_bits: int = 1,
) -> DataFrame:
    """Memory-efficient ANN: probed-LSH candidates re-ranked by the
    INT8-quantized dot product (qdot = Σ qa_i·qb_i, an exact integer
    — both engines agree bit-for-bit, so the gate hash-checks the
    whole composition). The candidate working set carries one int8
    vector + one float scale per row instead of the float64 array —
    the 4x-memory reduction path for re-rank joins whose candidate
    table dominates executor memory at 10^8+ vectors. Returns (qid,
    nid, qdot); ranking by raw integer dot is the standard
    symmetric-quantization surrogate for cosine when vectors are
    near-unit-norm (recall vs the float re-rank is pytest-pinned).
    """
    dim = _vec_dim(embeddings, vec_col)
    _, cand = _lsh_base_and_candidates(
        embeddings, id_col, vec_col, query_filter, n_planes, bands, seed,
        probe_bits,
    )
    # r14 (guide §2.4/§5): the quantized table feeds BOTH re-rank
    # join legs; uncached each leg replays the interpreted
    # aggregate/transform quantization over the corpus scan. One int8
    # vector + a float per row — cache it.
    q = scoped_cache(quantize_embeddings(embeddings, id_col, vec_col))

    def idot(a: str, b: str) -> Column:
        s = F.lit(0).cast("long")
        for i in range(dim):
            s = s + F.element_at(F.col(a), i + 1).cast("long") * F.element_at(
                F.col(b), i + 1
            ).cast("long")
        return s

    scored = (
        cand.join(
            q.select(F.col(id_col).alias("qid"), F.col("qvec").alias("qa")),
            "qid",
        )
        .join(
            q.select(F.col(id_col).alias("nid"), F.col("qvec").alias("qb")),
            "nid",
        )
        .select("qid", "nid", idot("qa", "qb").alias("qdot"))
    )
    return _topk_per_query(scored, "qdot", k)


def quantize_embeddings(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x|/127,
    qvec[i] = round(x[i]/scale) ∈ [-127, 127]. 4x memory reduction
    for the ANN candidate-generation working set (qvec + one float
    scale per vector); candidates are re-ranked in float as usual.
    Pure built-in expressions — reconstruction error is bounded by
    scale/2 per component (pinned by test). Zero vectors quantize to
    zeros with scale 0.
    """
    v = as_double(F.col(vec_col))
    amax = F.aggregate(
        F.transform(v, lambda x: F.abs(x)),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    )
    scale = amax / F.lit(127.0)
    qvec = F.when(
        amax > 0,
        F.transform(v, lambda x: F.round(x / scale).cast("int")),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return embeddings.select(
        F.col(id_col),
        qvec.alias("qvec"),
        scale.alias("qscale"),
    )


def semantic_dedup(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iterations: int = 2,
    thr_num: int = 17,
    thr_den: int = 20,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embedding space, then
    within each cluster drop every vector that has a smaller-id
    neighbor with quantized cosine ≥ thr_num/thr_den. Returns one row
    per vector: (vec_id, cluster_id, keep).

    Engine-portable by construction: the cluster assignment reuses
    the exact-int64 fixed-point k-means (operators/clustering.py —
    bit-identical to the sequential replica), and the similarity test
    is pure integer arithmetic on int8-quantized vectors:

        cos_q ≥ n/d  ⇔  dot ≥ 0  AND  d²·dot² ≥ n²·‖a‖²·‖b‖²

    (dot ≤ 64·127² ≈ 1.0e6, so d²·dot² ≤ ~4.3e14 — comfortably
    int64-exact). The quantized cosine is the same surrogate
    ann_quantized_topk ranks by; its deviation from float cosine is
    bounded by the per-component quantization error (pytest-pinned
    there).

    Scale: the only non-equi work is WITHIN-cluster all-pairs — the
    SemDeDup design point: choose k ∝ n/target_cluster_size and the
    pair count stays ≈ n·cluster_size (linear in n), never the
    corpus cross product. The cluster key is the shuffle key
    (``applyInPandas`` groups by it); within a cluster the pair test
    runs as a row-blocked int64 GEMM (numpy C kernels — the same
    exact integer arithmetic the expression self-join evaluated, at
    matmul speed instead of a 64-term codegen chain per pair; at the
    10× bench block this is ~50× cold). Skewed giant clusters are
    the k-too-small symptom, fixed by raising k; the row blocking
    bounds kernel memory at block·cluster_size even then."""
    import numpy as np
    import pandas as pd

    from annotation_service_spark.operators.clustering import (
        FIXED_SCALE,
        _assign_ids_fn,
        _quantized,
        kmeans_centroids,
    )

    q = scoped_cache(_quantized(embeddings, vec_col, id_col, FIXED_SCALE))
    centroids = kmeans_centroids(embeddings, k, iterations, vec_col, id_col, FIXED_SCALE)
    assign = q.mapInPandas(_assign_ids_fn(centroids), "id long, c int")

    q8 = quantize_embeddings(embeddings, id_col, vec_col).select(
        F.col(id_col).alias("id"), "qvec"
    )
    feat = assign.join(q8, "id").select("id", "c", "qvec")

    n2 = thr_num * thr_num
    d2 = thr_den * thr_den

    def drop_in_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        # ids sorted ascending so position order == id order: a pair
        # (row i, row j>i) is exactly the id_a < id_b orientation.
        pdf = pdf.sort_values("id")
        ids = pdf["id"].to_numpy()
        m = len(ids)
        if m < 2:
            return pd.DataFrame({"id": np.empty(0, dtype=np.int64)})
        Q = np.vstack(pdf["qvec"].to_numpy()).astype(np.int64)
        nrm = np.einsum("ij,ij->i", Q, Q)
        pos = nrm > 0
        dropped = np.zeros(m, dtype=bool)
        # dot ≤ dim·127² ≈ 1.0e6 ⇒ d²·dot² ≤ ~4.3e14·d² and
        # n²·na·nb ≤ ~1.1e12·n² — int64-exact throughout, matching
        # the DuckDB replay bit-for-bit. Both norms must be > 0:
        # with a zero quantized norm the inequality 0 ≥ 0 is
        # vacuously true and an all-zero embedding would mark every
        # larger-id vector in its cluster as a duplicate (cosine is
        # undefined there, so no pair involving it can match).
        block = 1024
        for r0 in range(0, m - 1, block):
            r1 = min(r0 + block, m - 1)
            G = Q[r0:r1] @ Q.T  # (r1-r0, m) int64
            cond = (
                (G >= 0)
                & (d2 * G * G >= n2 * np.outer(nrm[r0:r1], nrm))
                & pos[r0:r1, None]
                & pos[None, :]
            )
            # keep only the strict upper triangle (id_a < id_b)
            cols = np.arange(m)
            cond &= cols[None, :] > np.arange(r0, r1)[:, None]
            dropped |= cond.any(axis=0)
        return pd.DataFrame({"id": ids[dropped]})

    dropped = feat.groupBy("c").applyInPandas(drop_in_cluster, "id long")
    return (
        assign.join(dropped.withColumn("__drop", F.lit(True)), "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("c").alias("cluster_id"),
            F.coalesce(~F.col("__drop"), F.lit(True)).alias("keep"),
        )
    )


_PQ_MEMO: dict = {}


def pq_codebooks_from_parquet(
    path: str,
    m: int = 8,
    codes: int = 16,
    iterations: int = 2,
    scale: int = 1_000_000,
) -> list[list[list[int]]]:
    """Product-quantization codebooks (Jégou et al. 2011, TPAMI
    "Product quantization for nearest neighbor search"): the vector
    space is split into ``m`` contiguous subspaces and each gets its
    own ``codes``-centroid k-means codebook. Trained driver-side on
    the FIXED-POINT int64 subvectors with the exact sequential Lloyd
    of ``kmeans_fixed_reference`` (init = first ``codes`` rows by id,
    first-min tie-break, floored integer mean), so the codebooks are
    bit-identical wherever they are recomputed — the property the
    DuckDB oracle's literal embedding relies on. Returns
    ``[m][codes][sub_dim]`` ints."""
    key = (path, m, codes, iterations, scale)
    if key not in _PQ_MEMO:
        import pyarrow.parquet as pq

        t = (
            pq.read_table(path, columns=["vec_id", "embedding"])
            .to_pandas()
            .sort_values("vec_id")
            .reset_index(drop=True)
        )
        v = np.vstack(t["embedding"].to_numpy()).astype(np.float64)
        _PQ_MEMO[key] = pq_codebooks_from_array(v, m, codes, iterations, scale)
    return _PQ_MEMO[key]


def pq_codebooks_from_array(
    v: "np.ndarray",
    m: int = 8,
    codes: int = 16,
    iterations: int = 2,
    scale: int = 1_000_000,
) -> list[list[list[int]]]:
    """Trainer body of ``pq_codebooks_from_parquet`` on an in-memory
    (n, dim) float array IN vec_id ORDER (init = first ``codes``
    rows) — identical exact-int64 Lloyd, shared by tests and
    alternative sources."""
    q = np.floor(np.asarray(v, dtype=np.float64) * scale).astype(np.int64)
    dim = q.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books = []
    for s in range(m):
        qs = q[:, s * sub : (s + 1) * sub]
        c = qs[:codes].copy()
        for _ in range(iterations):
            d = ((qs[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
            a = d.argmin(axis=1)
            for j in range(codes):
                mm = a == j
                if mm.any():
                    c[j] = np.floor_divide(qs[mm].sum(axis=0), int(mm.sum()))
        books.append([[int(x) for x in row] for row in c])
    return books


def ann_pq_topk(
    embeddings: DataFrame,
    codebooks: list[list[list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_filter: Column | None = None,
    k: int = 3,
    adc_top: int = 16,
    round_digits: int = 6,
    scale: int = 1_000_000,
    ivf_centroids: list[list[float]] | None = None,
    n_probe: int = 2,
) -> DataFrame:
    """PQ ANN with asymmetric distance computation (ADC): the corpus
    is compressed to ``m`` one-byte codes per vector (64× smaller
    than the float64 vectors — the memory regime where billion-vector
    scans live); each query precomputes an m×codes inner-product
    lookup table, so scoring a corpus row is m table adds. The
    ADC-top-``adc_top`` candidates per query are then exactly
    re-ranked by float cosine (the IVF/brute-GEMM survivor pattern —
    same codegen expression, same round-6 values and tie-breaks).

    Engine-portable by construction: codebooks, codes, LUT entries
    and ADC scores are all exact int64 (fixed-point vectors × integer
    centroids), so the candidate set — the only approximate part of
    the contract — is bit-reproducible, and the DuckDB oracle replays
    it from the same codebook/LUT literals. The per-batch prune keeps
    each query's local (adc desc, nid asc) top-``adc_top``, which is
    a superset of every global top-``adc_top`` row under ANY
    partitioning — integer scores with total tie-break make the
    global window after it exact, not slack-guarded.

    Scale: one corpus pass (encode+ADC kernel, Arrow-batched), a
    per-query-keyed window over ≤ batches·|Q|·adc_top rows, and a
    broadcast-candidate re-score scan. Nothing shuffles the corpus;
    the broadcast is the LUT (m·codes ints per query).

    ``ivf_centroids`` switches on the IVF-PQ composition (the FAISS
    IVFADC layout): rows coarse-assign to inverted lists with the
    SAME rounded-distance argmin as ann_ivf_topk, each query probes
    its ``n_probe`` nearest lists, and ADC scores ONLY rows in probed
    lists — at 100 TB the LUT adds are paid on |corpus|·n_probe/n_c
    rows instead of the whole scan, and both the assignment and the
    probe order are engine-portable (1e-6-rounded distances,
    first-min tie-break), so the candidate set still replays exactly
    in the DuckDB oracle."""
    dim = _vec_dim(embeddings, vec_col)
    m = len(codebooks)
    codes = len(codebooks[0])
    sub = dim // m
    spark = embeddings.sparkSession

    qf = query_filter if query_filter is not None else (F.col(id_col) % 50 == 0)
    qpdf = embeddings.where(qf).select(id_col, vec_col).toPandas()
    qids = qpdf[id_col].to_numpy(dtype=np.int64)
    qm = np.vstack(qpdf[vec_col].to_numpy()).astype(np.float64)
    qq = np.floor(qm * scale).astype(np.int64)
    cb = np.asarray(codebooks, dtype=np.int64)  # (m, codes, sub)
    # LUT[qi, s, j] = <query subvector, code centroid> — exact int64
    lut = np.einsum(
        "qsd,sjd->qsj", qq.reshape(len(qids), m, sub), cb
    )
    if ivf_centroids is not None:
        cmat = np.asarray(ivf_centroids, dtype=np.float64)
        ccc = (cmat * cmat).sum(axis=1)
        neg2ct = -2.0 * cmat.T
        # per-query probed lists: same rounded distance + stable
        # order as _nearest_centroid
        qd = np.floor((qm @ neg2ct + ccc) * 1e6 + 0.5)
        qorder = np.argsort(qd, axis=1, kind="stable")[:, :n_probe]
        probe_mask = np.zeros((len(qids), len(cmat)), dtype=bool)
        for qi in range(len(qids)):
            probe_mask[qi, qorder[qi]] = True
        ivf_bc = (neg2ct, ccc, probe_mask)
    else:
        ivf_bc = None
    bc = spark.sparkContext.broadcast((qids, lut, cb, ivf_bc))

    def adc_prune(it):
        bqids, blut, bcb, bivf = bc.value
        nq = len(bqids)
        for pdf in it:
            if not len(pdf) or not nq:
                continue
            ids = pdf["id"].to_numpy(dtype=np.int64)
            v = np.vstack(pdf["ve"].to_numpy()).astype(np.float64)
            q8 = np.floor(v * scale).astype(np.int64).reshape(len(ids), m, sub)
            enc = np.empty((len(ids), m), dtype=np.int64)
            for s in range(m):
                d = ((q8[:, s, None, :] - bcb[None, s]) ** 2).sum(axis=2)
                enc[:, s] = d.argmin(axis=1)
            # adc[n, q] = Σ_s LUT[q, s, enc[n, s]]
            adc = np.zeros((len(ids), nq), dtype=np.int64)
            for s in range(m):
                adc += blut[:, s, enc[:, s]].T
            self_mask = ids[:, None] == bqids[None, :]
            if bivf is not None:
                bneg2ct, bcc, bprobe = bivf
                drow = np.floor((v @ bneg2ct + bcc) * 1e6 + 0.5)
                cassign = np.argmin(drow, axis=1)
                in_probed = bprobe[:, cassign].T  # (n, nq)
            else:
                in_probed = None
            kk = min(adc_top, len(ids))
            for qi in range(nq):
                col = adc[:, qi]
                ok = ~self_mask[:, qi]
                if in_probed is not None:
                    ok &= in_probed[:, qi]
                idx = np.flatnonzero(ok)
                if not len(idx):
                    continue
                order = idx[np.lexsort((ids[idx], -col[idx]))][:kk]
                yield pd.DataFrame(
                    {
                        "qid": np.full(len(order), bqids[qi]),
                        "nid": ids[order],
                        "adc": col[order],
                    }
                )

    base = embeddings.select(
        F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("ve")
    )
    local = base.mapInPandas(adc_prune, "qid long, nid long, adc long")
    cand = _topk_per_query(local, "adc", adc_top).select("qid", "nid")

    vecs = embeddings.select(
        F.col(id_col).alias("nid"), as_double(F.col(vec_col)).alias("ce")
    ).withColumn("cn", F.sqrt(dot("ce", "ce", dim)))
    qv = embeddings.where(qf).select(
        F.col(id_col).alias("qid"), as_double(F.col(vec_col)).alias("qe")
    ).withColumn("qn", F.sqrt(dot("qe", "qe", dim)))
    scored = (
        vecs.join(F.broadcast(cand), "nid")
        .join(F.broadcast(qv), "qid")
        .select(
            "qid",
            "nid",
            F.round(
                dot("qe", "ce", dim) / (F.col("qn") * F.col("cn")),
                round_digits,
            ).alias("cos"),
        )
    )
    return _topk_per_query(scored, "cos", k)


def ann_ivfpq_topk(
    embeddings: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_filter: Column | None = None,
    k: int = 3,
    n_probe: int = 2,
    adc_top: int = 16,
    round_digits: int = 6,
    scale: int = 1_000_000,
) -> DataFrame:
    """IVF-PQ ANN (the FAISS IVFADC composition): coarse-quantize the
    corpus into inverted lists, probe ``n_probe`` lists per query,
    ADC-score only the probed rows, exact float re-rank. Thin wrapper
    over ``ann_pq_topk(ivf_centroids=...)`` — see there for the
    engine-portability and scale arguments."""
    return ann_pq_topk(
        embeddings,
        codebooks,
        id_col=id_col,
        vec_col=vec_col,
        query_filter=query_filter,
        k=k,
        adc_top=adc_top,
        round_digits=round_digits,
        scale=scale,
        ivf_centroids=centroids,
        n_probe=n_probe,
    )
