"""Embedding near-dup + IVF ANN tests."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from annotation_service_spark.operators import similarity as sim
from annotation_service_spark.sources.testdata import load_table


@pytest.fixture(scope="module")
def vec_df(spark):
    rng = random.Random(7)
    rows = []
    for i in range(150):
        rows.append((i, [rng.gauss(0, 1) for _ in range(12)]))
    # plant near-dups: 200+i = tiny perturbation of i for i in 0..4
    for i in range(5):
        base = rows[i][1]
        rows.append((200 + i, [x + rng.gauss(0, 0.01) for x in base]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_embedding_dup_pairs_exact(spark, vec_df):
    pairs = sim.embedding_dup_pairs(vec_df, threshold=0.99).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    for i in range(5):
        assert (i, 200 + i) in got, f"planted dup {i} missing"
    # random gaussian pairs at d=12 essentially never reach 0.99
    assert len(got) == 5


def test_embedding_dup_pairs_lsh_recall(spark, vec_df):
    exact = {(r.id_a, r.id_b) for r in sim.embedding_dup_pairs(vec_df, threshold=0.99).collect()}
    lsh = {
        (r.id_a, r.id_b)
        for r in sim.embedding_dup_pairs(vec_df, threshold=0.99, use_lsh=True).collect()
    }
    assert lsh <= exact
    assert len(lsh & exact) / len(exact) >= 0.8


def test_ivf_topk_recall(spark, vec_df):
    bf = {(r.qid, r.nid) for r in sim.ann_bruteforce_topk(vec_df, k=3).collect()}
    ivf = {
        (r.qid, r.nid)
        for r in sim.ann_ivf_topk(vec_df, k=3, n_centroids=6, n_probe=3).collect()
    }
    recall = len(bf & ivf) / len(bf)
    assert recall >= 0.5, f"IVF recall too low: {recall}"
    # full-probe IVF == brute force (n_probe = n_centroids ⇒ exhaustive)
    full = {
        (r.qid, r.nid)
        for r in sim.ann_ivf_topk(vec_df, k=3, n_centroids=4, n_probe=4).collect()
    }
    assert full == bf


def test_gemm_local_slack_margin_on_gate_data():
    """Verifies the ``local_slack=8`` gate assumption empirically on
    the gate dataset: how far can matmul-vs-sequential summation-order
    rounding displace a true global top-k row in the ranking? The
    margin must be comfortably below the slack for the local prune in
    ``ann_bruteforce_topk_gemm`` to be provably lossless there."""
    import numpy as np
    import pandas as pd

    pdf = pd.read_parquet("/root/testdata/sf0.01/embeddings.parquet")
    ids = pdf["vec_id"].to_numpy(dtype=np.int64)
    v = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    qmask = ids % 50 == 0
    q = v[qmask]
    s_gemm = v @ q.T
    # sequential left-to-right dot, mirroring the dim-unrolled codegen
    s_seq = np.zeros_like(s_gemm)
    for j in range(v.shape[1]):
        s_seq += np.outer(v[:, j], q[:, j])
    s_gemm[ids[:, None] == ids[qmask][None, :]] = -np.inf
    s_seq[ids[:, None] == ids[qmask][None, :]] = -np.inf
    k, max_disp = 3, 0
    for c in range(q.shape[0]):
        order_seq = np.argsort(-s_seq[:, c], kind="stable")
        rank_gemm = np.empty(len(ids), dtype=np.int64)
        rank_gemm[np.argsort(-s_gemm[:, c], kind="stable")] = np.arange(len(ids))
        for true_rank, row in enumerate(order_seq[:k]):
            max_disp = max(max_disp, int(rank_gemm[row]) - true_rank)
    assert max_disp <= 2, f"rank displacement {max_disp} too close to slack=8"


def test_gemm_topk_matches_expression_form(spark, vec_df):
    """The per-partition GEMM formulation returns the same neighbor
    set as the crossJoin expression form (exact method, different
    physical strategy)."""
    bf = {(r.qid, r.nid) for r in sim.ann_bruteforce_topk(vec_df, k=3).collect()}
    gemm = {
        (r.qid, r.nid)
        for r in sim.ann_bruteforce_topk_gemm(vec_df, k=3).collect()
    }
    assert gemm == bf


def test_embedding_dup_pairs_gemm_prefilter_exact(spark, vec_df):
    """The GEMM-prefiltered exact form must be VALUE-identical to the
    naive crossJoin expression form (same sequential re-score
    expression; the prefilter's 1e-3 margin only removes pairs the
    threshold would drop anyway)."""
    from pyspark.sql import functions as F

    from annotation_service_spark.operators.similarity import (
        as_double,
        dot,
    )

    thr = 0.3  # low threshold → many survivors, stresses the margin
    dim = len(vec_df.select("embedding").first()[0])
    base = vec_df.select(
        F.col("vec_id").alias("id"), as_double(F.col("embedding")).alias("ve")
    ).withColumn("nrm", F.sqrt(dot("ve", "ve", dim)))
    a = base.select(
        F.col("id").alias("id_a"), F.col("ve").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = base.select(
        F.col("id").alias("id_b"), F.col("ve").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    naive = {
        (r.id_a, r.id_b): r.cos
        for r in a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(dot("va", "vb", dim) / (F.col("na") * F.col("nb")), 6)
            .alias("cos"),
        )
        .where(F.col("cos") >= thr)
        .collect()
    }
    fast = {
        (r.id_a, r.id_b): r.cos
        for r in sim.embedding_dup_pairs(vec_df, threshold=thr).collect()
    }
    assert fast == naive and len(naive) > 5


def test_ann_quantized_topk_recall(spark):
    """The int8-re-rank ANN composition keeps >= 0.8 of the float
    LSH top-k on planted near-dups (same corpus as the LSH recall
    test, so any loss is attributable to quantization alone)."""
    from tests.test_dedup_similarity import _planted_ann_corpus

    df = spark.createDataFrame(
        _planted_ann_corpus(), "vec_id long, embedding array<float>"
    )
    fl = {(r.qid, r.nid) for r in sim.ann_lsh_topk(df, k=3).collect()}
    qz = {(r.qid, r.nid) for r in sim.ann_quantized_topk(df, k=3).collect()}
    assert len(fl & qz) / len(fl) >= 0.8, (len(fl & qz), len(fl))


def test_quantize_embeddings_error_and_recall(spark):
    """int8 quantization: per-component reconstruction error is
    <= scale/2, and brute-force top-10 by quantized dot products
    keeps >= 70% of the exact float top-10 (typical int8 recall)."""
    import numpy as np
    from pyspark.sql import functions as F

    from annotation_service_spark.operators.similarity import (
        quantize_embeddings,
    )

    rng = np.random.default_rng(5)
    m = rng.normal(size=(400, 32))
    df = spark.createDataFrame(
        [(i, [float(x) for x in m[i]]) for i in range(400)],
        "vec_id long, embedding array<double>",
    )
    rows = quantize_embeddings(df).collect()
    q = np.zeros_like(m)
    for r in rows:
        qv = np.array(r["qvec"], dtype=np.float64)
        assert np.abs(qv).max() <= 127
        q[r["vec_id"]] = qv * r["qscale"]
        scale = r["qscale"]
        assert np.all(np.abs(q[r["vec_id"]] - m[r["vec_id"]]) <= scale / 2 + 1e-12)

    # recall of quantized top-10 neighbors for 20 probe vectors
    probes = range(20)
    hits = total = 0
    for p in probes:
        exact = set(np.argsort(-(m @ m[p]))[1:11])
        approx = set(np.argsort(-(q @ q[p]))[1:11])
        hits += len(exact & approx)
        total += 10
    assert hits / total >= 0.7, hits / total


def test_ann_pq_partition_invariance_and_recall(spark):
    """The integer-ADC candidate set must be identical under ANY
    corpus partitioning (the per-batch prune keeps each query's local
    (adc desc, nid) top-T — a superset of the global top-T), and PQ
    recall vs exact brute force stays useful on a real corpus."""
    import annotation_service_spark.operators.similarity as sim

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    books = sim.pq_codebooks_from_parquet(
        f"{sf}/embeddings.parquet", m=8, codes=16, iterations=2
    )
    out1 = sorted(
        (r.qid, r.nid, r.cos)
        for r in sim.ann_pq_topk(emb, books, k=3, adc_top=16).collect()
    )
    out2 = sorted(
        (r.qid, r.nid, r.cos)
        for r in sim.ann_pq_topk(
            emb.repartition(7), books, k=3, adc_top=16
        ).collect()
    )
    out3 = sorted(
        (r.qid, r.nid, r.cos)
        for r in sim.ann_pq_topk(
            emb.repartition(1), books, k=3, adc_top=16
        ).collect()
    )
    assert out1 == out2 == out3
    # recall regime: planted near-dups (the honest ANN regime — on
    # i.i.d. random vectors no compressed index can rank the barely-
    # nearest neighbour; same argument as test_ann_lsh_recall)
    import numpy as np

    from tests.test_dedup_similarity import _planted_ann_corpus

    rows = _planted_ann_corpus()
    pdf = sorted(rows, key=lambda r: r[0])
    planted = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    v = np.asarray([r[1] for r in pdf], dtype=np.float64)
    pbooks = sim.pq_codebooks_from_array(v, m=8, codes=16, iterations=2)
    brute = {
        (r.qid, r.nid)
        for r in sim.ann_bruteforce_topk(planted, k=3).collect()
    }
    got = {
        (r.qid, r.nid)
        for r in sim.ann_pq_topk(planted, pbooks, k=3, adc_top=16).collect()
    }
    recall = len(got & brute) / len(brute)
    assert recall >= 0.8, recall


def test_pq_codebooks_deterministic_and_exact_int(spark):
    import annotation_service_spark.operators.similarity as sim

    sf = "/root/testdata/sf0.001"
    b1 = sim.pq_codebooks_from_parquet(f"{sf}/embeddings.parquet")
    sim._PQ_MEMO.clear()
    b2 = sim.pq_codebooks_from_parquet(f"{sf}/embeddings.parquet")
    assert b1 == b2
    assert all(
        isinstance(x, int)
        for book in b1
        for row in book
        for x in row
    )


def test_ann_ivfpq_partition_invariance_and_probe_subset(spark):
    """IVF-PQ: candidate set identical under any corpus partitioning
    (coarse assignment is per-row, probe sets per-query — neither
    depends on batching), and its result set is a subset of plain PQ
    pairs for each query (the probe restriction can only REMOVE
    candidates, never invent them)."""
    import annotation_service_spark.operators.similarity as sim

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    cents = sim.ivf_centroids_from_parquet(
        f"{sf}/embeddings.parquet", n_centroids=8, iterations=3
    )
    books = sim.pq_codebooks_from_parquet(
        f"{sf}/embeddings.parquet", m=8, codes=16, iterations=2
    )
    out1 = sorted(
        (r.qid, r.nid, r.cos)
        for r in sim.ann_ivfpq_topk(emb, cents, books, k=3).collect()
    )
    out2 = sorted(
        (r.qid, r.nid, r.cos)
        for r in sim.ann_ivfpq_topk(
            emb.repartition(7), cents, books, k=3
        ).collect()
    )
    assert out1 == out2 and len(out1) > 0
    # probing ALL lists must reproduce plain PQ exactly
    all_probe = sorted(
        (r.qid, r.nid, r.cos)
        for r in sim.ann_ivfpq_topk(
            emb, cents, books, k=3, n_probe=8
        ).collect()
    )
    pq_full = sorted(
        (r.qid, r.nid, r.cos)
        for r in sim.ann_pq_topk(emb, books, k=3, adc_top=16).collect()
    )
    assert all_probe == pq_full


def test_ann_ivfpq_recall_planted(spark):
    """Planted near-dup regime: the probed ADC scan still finds the
    planted neighbours (recall >= 0.8 vs exact brute force)."""
    import numpy as np

    import annotation_service_spark.operators.similarity as sim
    from tests.test_dedup_similarity import _planted_ann_corpus

    rows = _planted_ann_corpus()
    pdf = sorted(rows, key=lambda r: r[0])
    planted = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    v = np.asarray([r[1] for r in pdf], dtype=np.float64)
    ids = [r[0] for r in pdf]
    import hashlib

    h = np.array([hashlib.md5(str(int(i)).encode()).hexdigest() for i in ids])
    order = np.argsort(h, kind="stable")
    c = v[order[:8]].copy()
    for _ in range(3):
        cc = (c * c).sum(axis=1)
        d = v @ (-2.0 * c.T) + cc
        a = np.argmin(d, axis=1)
        for j in range(8):
            m = a == j
            if m.any():
                c[j] = v[m].mean(axis=0)
    cents = [[float(x) for x in row] for row in c]
    pbooks = sim.pq_codebooks_from_array(v, m=8, codes=16, iterations=2)
    brute = {
        (r.qid, r.nid)
        for r in sim.ann_bruteforce_topk(planted, k=3).collect()
    }
    got = {
        (r.qid, r.nid)
        for r in sim.ann_ivfpq_topk(
            planted, cents, pbooks, k=3, n_probe=2
        ).collect()
    }
    recall = len(got & brute) / len(brute)
    assert recall >= 0.8, recall


def test_embedding_dup_pairs_size_gate(spark, vec_df, monkeypatch):
    """VERDICT r7 #1: the exact all-pairs path is size-gated like
    range_join_broadcast — past the cap it refuses with a message
    naming the LSH fallback instead of collecting the corpus to the
    driver; the LSH path ignores the cap (it never collects)."""
    monkeypatch.setattr(sim.interval, "MAX_BROADCAST_BYTES", 1024)
    with pytest.raises(ValueError, match="use_lsh=True"):
        sim.embedding_dup_pairs(vec_df, threshold=0.99)
    lsh = sim.embedding_dup_pairs(vec_df, threshold=0.99, use_lsh=True)
    assert lsh.count() >= 0  # plans and runs


def test_embedding_dup_pairs_preserves_id_dtype(spark):
    """String ids flow through the exact path unchanged — the old
    hard int64 cast crashed non-integer id columns (ADVICE r6)."""
    rng = random.Random(3)
    base = [rng.gauss(0, 1) for _ in range(8)]
    rows = [
        ("doc-a", base),
        ("doc-b", [x + rng.gauss(0, 0.001) for x in base]),
        ("doc-c", [rng.gauss(0, 1) for _ in range(8)]),
    ]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
    out = sim.embedding_dup_pairs(df, id_col="vec_id", threshold=0.99)
    assert dict(out.dtypes)["id_a"] == "string"
    assert dict(out.dtypes)["id_b"] == "string"
    got = {(r.id_a, r.id_b) for r in out.collect()}
    assert got == {("doc-a", "doc-b")}


def test_semantic_dedup_zero_norm_not_vacuous(spark):
    """An all-zero embedding (quantized norm 0) must not mark its
    cluster-mates as duplicates (VERDICT r7 #4: with na·nb = 0 the
    integer test 0 ≥ 0 was vacuously true, so the zero vector
    'matched' every larger-id vector in its cluster)."""
    rng = random.Random(5)
    rows = [(0, [0.0] * 32)]  # zero vector with the smallest id
    for i in range(1, 40):
        rows.append((i, [rng.gauss(0, 1) for _ in range(32)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = sim.semantic_dedup(df, k=2, iterations=1).collect()
    by_id = {r.vec_id: r for r in out}
    # independent gaussians at d=32 stay far below cos 0.85 (max |cos|
    # over 780 pairs ≈ 0.6), so with the zero vector neutralized every
    # row must be kept
    dropped = [r.vec_id for r in out if not r.keep]
    assert dropped == [], f"zero-norm vector vacuously dropped {dropped}"
    assert by_id[0].keep  # the zero vector itself is kept too


def test_prune_topk_deterministic_tie_break():
    """_prune_topk_per_query breaks exact score ties by id asc — the
    local prune is a pure function of its inputs, invariant to row
    order (VERDICT r7 #7)."""
    import numpy as np

    s = np.array([[1.0], [0.5], [1.0], [0.5], [np.nan]])
    ids = np.array([30, 20, 10, 40, 5], dtype=np.int64)
    rows, cols = sim._prune_topk_per_query(s, ids, kk=3)
    assert ids[rows].tolist() == [10, 30, 20]  # (score desc, id asc)
    assert cols.tolist() == [0, 0, 0]
    # permuting the rows permutes nothing in the result
    perm = np.array([4, 3, 2, 1, 0])
    rows2, _ = sim._prune_topk_per_query(s[perm], ids[perm], kk=3)
    assert ids[perm][rows2].tolist() == [10, 30, 20]


def test_prune_topk_heavily_tied_matches_full_sort():
    """Quantized/PQ integer scores tie massively; the bounded
    tie-completion (id-argpartition, ADVICE r8) must still equal the
    reference full-column stable (score desc, id asc) sort — and the
    result size never exceeds kk even when a whole column is one tied
    value."""
    import numpy as np

    rng = np.random.default_rng(11)
    n, q, kk = 5000, 7, 25
    # integer scores in a tiny range -> hundreds of boundary ties
    s = rng.integers(0, 4, size=(n, q)).astype(np.float64)
    s[rng.random((n, q)) < 0.01] = np.nan
    ids = rng.permutation(n).astype(np.int64)
    rows, cols = sim._prune_topk_per_query(s, ids, kk)
    for qi in range(q):
        got = ids[rows[cols == qi]].tolist()
        col = s[:, qi]
        fin = np.flatnonzero(np.isfinite(col))
        want = ids[fin[np.lexsort((ids[fin], -col[fin]))][:kk]].tolist()
        assert got == want, f"query {qi} diverged from full sort"
        assert len(got) == kk
    # degenerate all-one-value column: still exactly kk, smallest ids
    s1 = np.ones((n, 1))
    rows1, _ = sim._prune_topk_per_query(s1, ids, kk)
    assert ids[rows1].tolist() == sorted(ids)[:kk]


def test_lsh_signature_kernel_matches_expression(spark, vec_df):
    """The Arrow signature kernel on the LSH hot path is bit-identical
    to the JVM-expression signature it replaced, on every row: same
    sequential projection sums, so the same sign decisions."""
    planes = sim._hyperplanes(12, 16, seed=7)
    vec = sim.as_double(F.col("embedding"))
    rows = vec_df.select(
        "vec_id",
        sim.lsh_signature(vec, planes).alias("expr"),
        sim.lsh_signature_kernel(planes)(vec).alias("kern"),
    ).collect()
    assert len(rows) == 155
    assert all(r.expr == r.kern for r in rows)
    assert len({r.expr for r in rows}) > 100
