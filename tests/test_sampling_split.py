"""Weighted reservoir sampling (A-ES) and the leakage-guarded group
split (operators/curation.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

import __spark_entry__ as em
from annotation_service_spark.operators.curation import (
    group_split,
    weighted_sample,
)

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return em._t(spark, SF, "documents")


def test_weighted_sample_size_and_determinism(spark):
    docs = _docs(spark).select(
        "doc_id", (F.length("text") + 1).cast("double").alias("w")
    )
    a = sorted(r.doc_id for r in weighted_sample(docs, 20, "w").collect())
    b = sorted(r.doc_id for r in weighted_sample(docs, 20, "w").collect())
    assert len(a) == 20
    assert a == b  # no RNG state — reruns agree exactly


def test_weighted_sample_huge_weight_always_selected(spark):
    docs = _docs(spark).select(
        "doc_id",
        F.when(F.col("doc_id") == 7, 1e12).otherwise(1.0).alias("w"),
    )
    got = {r.doc_id for r in weighted_sample(docs, 5, "w").collect()}
    assert 7 in got


def test_weighted_sample_salt_changes_selection(spark):
    docs = _docs(spark).select("doc_id", F.lit(1.0).alias("w"))
    a = {r.doc_id for r in weighted_sample(docs, 20, "w", salt="x").collect()}
    b = {r.doc_id for r in weighted_sample(docs, 20, "w", salt="y").collect()}
    assert a != b


def test_group_split_coassigns_duplicate_text(spark):
    """Docs with byte-identical text must always share a split — the
    leakage guard. Duplicate the corpus under new ids and check every
    text group is single-split."""
    docs = _docs(spark).select("doc_id", "text")
    dup = docs.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    both = docs.union(dup)
    out = group_split(both, F.md5(F.col("text")), salt="sp1")
    n_violations = (
        out.groupBy("split_group")
        .agg(F.countDistinct("split").alias("k"))
        .where(F.col("k") > 1)
        .count()
    )
    assert n_violations == 0


def test_leakage_safe_split_cluster_disjoint(spark):
    """The cluster-aware split (q_leakage_safe_split) must keep every
    NEAR-dup family single-split even when members' texts differ:
    A~B, B~C co-assign A and C although jaccard(A, C) may be below
    threshold and their exact hashes certainly differ."""
    import __spark_entry__ as em
    from annotation_service_spark.operators import clustering as cl
    from annotation_service_spark.operators import dedup as dd

    SF = "/root/testdata/sf0.001"
    out = em.q_leakage_safe_split(spark, SF)
    docs = em._t(spark, SF, "documents")
    clusters = cl.connected_components(
        dd.ngram_jaccard_pairs(docs, ngram=3, threshold=0.5)
    ).withColumnRenamed("id", "doc_id")
    n_violations = (
        out.join(clusters, "doc_id")
        .groupBy("cluster_id")
        .agg(F.countDistinct("split").alias("k"))
        .where(F.col("k") > 1)
        .count()
    )
    assert n_violations == 0
    # both splits are populated and rows are preserved
    splits = {r.split for r in out.select("split").distinct().collect()}
    assert splits == {"train", "val"}
    assert out.count() == docs.count()


def test_group_split_fractions_roughly_respected(spark):
    out = group_split(_docs(spark), F.md5(F.col("text")), salt="sp1")
    counts = dict(
        (r.split, r.n)
        for r in out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    total = sum(counts.values())
    assert set(counts) <= {"train", "val"}
    assert 0.8 <= counts.get("train", 0) / total <= 0.97


def test_group_split_multiway(spark):
    out = group_split(
        _docs(spark),
        F.md5(F.col("text")),
        splits=(("train", 0.8), ("val", 0.1), ("test", 0.1)),
        salt="sp1",
    )
    got = {r.split for r in out.select("split").distinct().collect()}
    assert got == {"train", "val", "test"}


def test_weighted_sample_rank_margin_vs_ulp(spark):
    """The A-ES key uses libm ln(); engines may differ in the last
    ulp. Selection only flips if the key gap at the k-boundary is
    ulp-sized — pin that the gate dataset's gap (rank 50 vs 51 on
    the sf0.001 corpus, same salt/weights as the gate) is many orders
    above double rounding error, so the cross-engine gate is
    structurally stable, not lucky."""
    import math

    docs = em._t(spark, SF, "documents").select(
        "doc_id", (F.length("text") + 1).cast("double").alias("weight")
    )
    rows = docs.collect()
    keys = []
    import hashlib

    for r in rows:
        h = hashlib.md5(f"ws1{r.doc_id}".encode()).hexdigest()
        u = (int(h[:15], 16) + 1) / float(2**60)
        keys.append(math.log(u) / r.weight)
    keys.sort(reverse=True)
    gap = keys[49] - keys[50]
    # |key| is O(1e-2); one ulp of the subtraction operands is
    # ~1e-18 — require 9 orders of headroom
    assert gap > 1e-9, gap


def test_aes_selection_probability_tracks_weights():
    """A-ES math property (engine-independent replica, no Spark):
    over many salts, an item with weight w is selected into the
    top-k with frequency increasing in w, and a 10x-weight item is
    selected far more often than a 1x item. Uses the same md5 key
    construction as the operator."""
    import hashlib
    import math

    n, k, trials = 40, 8, 400
    weights = {i: (10.0 if i < 4 else 1.0) for i in range(n)}
    hits = {i: 0 for i in range(n)}
    for t in range(trials):
        keys = []
        for i in range(n):
            h = hashlib.md5(f"s{t}|{i}".encode()).hexdigest()
            u = (int(h[:15], 16) + 1) / float(2**60)
            keys.append((math.log(u) / weights[i], i))
        keys.sort(reverse=True)
        for _, i in keys[:k]:
            hits[i] += 1
    heavy = sum(hits[i] for i in range(4)) / (4 * trials)
    light = sum(hits[i] for i in range(4, n)) / ((n - 4) * trials)
    # expected inclusion: heavy ~0.77, light ~0.14 at these params
    assert heavy > 3 * light
    assert 0.6 < heavy < 0.95
    assert 0.05 < light < 0.3


def test_group_split_bucket_uniformity():
    """The md5 bucket coin is uniform over group keys (chi-square-ish
    bound, pure Python): 10k synthetic keys → train fraction within
    1.5 points of 90%."""
    import hashlib

    n = 10_000
    train = 0
    for i in range(n):
        g = hashlib.md5(f"group-{i}".encode()).hexdigest()
        b = int(hashlib.md5(f"sp1{g}".encode()).hexdigest()[:8], 16) % 10000
        if b < 9000:
            train += 1
    assert abs(train / n - 0.9) < 0.015


def test_weighted_sample_per_stratum_quota_and_determinism(spark):
    from annotation_service_spark.operators.curation import (
        weighted_sample_per_stratum,
    )

    docs = _docs(spark).select(
        "doc_id", "source", (F.length("text") + 1).cast("double").alias("w")
    )
    out = weighted_sample_per_stratum(
        docs, 5, "w", stratum_col="source"
    ).collect()
    from collections import Counter

    per = Counter(r.source for r in out)
    n_strata = docs.select("source").distinct().count()
    assert len(per) == n_strata and set(per.values()) == {5}
    again = weighted_sample_per_stratum(
        docs, 5, "w", stratum_col="source"
    ).collect()
    assert sorted(r.doc_id for r in out) == sorted(r.doc_id for r in again)


def test_stratified_gate_registered():
    assert "weighted_sample_stratified" in em.queries()
    assert "weighted_sample_stratified" in em.oracle_sql()


def test_token_budget_sample_semantics(spark):
    """Per-source fill in seeded-hash priority order: each kept doc's
    cum_before < budget (boundary doc kept, so totals overshoot by
    < one doc), absent sources contribute nothing, and the result
    matches an independent python replay of the md5 order."""
    import hashlib

    from annotation_service_spark.operators.curation import (
        token_budget_sample,
    )

    rows = [
        (i, "a" if i < 40 else ("b" if i < 70 else "c"), 10 + (i * 7) % 50)
        for i in range(100)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    budgets = {"a": 300, "b": 123}
    out = token_budget_sample(df, budgets, seed=5, n_shards=4).collect()
    assert {r.source for r in out} <= {"a", "b"}  # 'c' absent from spec
    for r in out:
        assert r.cum_before < budgets[r.source]
    # independent replay
    def coin(i):
        return hashlib.md5(f"tb5|{i}".encode()).hexdigest()

    exp = set()
    for s, budget in budgets.items():
        docs = sorted((r for r in rows if r[1] == s), key=lambda r: coin(r[0]))
        cum = 0
        for did, _, w in docs:
            if cum < budget:
                exp.add((did, s, w, cum))
            cum += w
    assert {(r.id, r.source, r.w, r.cum_before) for r in out} == exp
    # per-source totals overshoot the budget by < one doc's weight
    for s, budget in budgets.items():
        tot = sum(r.w for r in out if r.source == s)
        assert tot >= min(budget, sum(r[2] for r in rows if r[1] == s))
        kept_ws = [r.w for r in out if r.source == s]
        if tot > budget:
            assert tot - budget < max(kept_ws)


def test_token_budget_sample_shard_invariance(spark):
    """The two-phase decomposition is exact: any shard count gives
    the identical kept set (boundary values only affect balance)."""
    from annotation_service_spark.operators.curation import (
        token_budget_sample,
    )

    rows = [(i, f"s{i % 3}", 5 + i % 17) for i in range(120)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    outs = [
        {
            (r.id, r.source, r.w, r.cum_before)
            for r in token_budget_sample(df, 150, seed=2, n_shards=n).collect()
        }
        for n in (2, 7, 32)
    ]
    assert outs[0] == outs[1] == outs[2]
    assert outs[0]  # non-degenerate


def test_token_budget_sample_offset_collect_guarded(spark, monkeypatch):
    """VERDICT r11 item 3: an int budget over a high-cardinality
    source column must fail loudly at the bounded-collect contract,
    not silently pull sources x n_shards rows to the driver; a dict
    spec over the same table prunes to its named sources and
    succeeds."""
    import pytest

    from annotation_service_spark.operators import curation
    from annotation_service_spark.operators.curation import (
        token_budget_sample,
    )

    monkeypatch.setattr(curation, "_MAX_OFFSET_ROWS", 100)
    rows = [(i, f"user-{i}", 10) for i in range(300)]  # source ~ user id
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    with pytest.raises(ValueError, match="offset table exceeds 100 rows"):
        token_budget_sample(df, 50, n_shards=4)
    # a real mixture spec names its sources; the scan prunes to them
    out = token_budget_sample(
        df, {"user-1": 15, "user-2": 5}, n_shards=4
    ).collect()
    assert {r.source for r in out} == {"user-1", "user-2"}


def test_token_budget_sample_bpe_weights_end_to_end(spark):
    """VERDICT r11 item 6: budgets in TOKENS with real BPE counts —
    word_freqs -> train_bpe -> bpe_encode(n_tokens) -> weight_col.
    Pins that the generic weight_col path carries the BPE counts
    through the two-phase cumsum exactly (python replay) and that
    kept totals cross each budget by < one doc's tokens."""
    import hashlib

    from annotation_service_spark.functions.bpe import (
        bpe_encode,
        train_bpe,
        word_freqs,
    )
    from annotation_service_spark.operators.curation import (
        token_budget_sample,
    )

    rows = [
        (i, "a" if i % 2 else "b",
         ("lorem ipsum dolor sit amet " * (1 + i % 4)).strip())
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    merges = train_bpe(word_freqs(df), n_merges=30)
    enc = bpe_encode(df, merges).withColumnRenamed("id", "doc_id")
    weighted = df.join(enc.select("doc_id", "n_tokens"), "doc_id")
    budgets = {"a": 120, "b": 75}
    out = token_budget_sample(
        weighted, budgets, seed=3, weight_col="n_tokens"
    ).collect()

    n_tok = {r["doc_id"]: r["n_tokens"] for r in enc.collect()}
    assert any(v > 1 for v in n_tok.values())  # merges actually fired

    def coin(i):
        return hashlib.md5(f"tb3|{i}".encode()).hexdigest()

    exp = set()
    for s, budget in budgets.items():
        docs = sorted((r for r in rows if r[1] == s), key=lambda r: coin(r[0]))
        cum = 0
        for did, _, _ in docs:
            if cum < budget:
                exp.add((did, s, n_tok[did], cum))
            cum += n_tok[did]
    assert {(r.id, r.source, r.w, r.cum_before) for r in out} == exp
    for s, budget in budgets.items():
        tot = sum(r.w for r in out if r.source == s)
        if tot > budget:
            assert tot - budget < max(r.w for r in out if r.source == s)


def test_length_bucket_batches_replay_and_shard_invariance(spark):
    """group_by_length batching: exact global (length, id) rank and
    batch assignment match a python replay under ANY shard count, and
    bucketing strictly beats id-order batching on total padding."""
    import random

    from annotation_service_spark.operators.curation import (
        length_bucket_batches,
    )

    rng = random.Random(5)
    rows = [(i, rng.randrange(10, 500)) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")
    B = 16
    order = sorted(rows, key=lambda r: (r[1], r[0]))
    exp = {}
    for rank, (did, ln) in enumerate(order):
        exp[did] = (ln, rank, rank // B)
    batch_max = {}
    for did, (ln, rank, b) in exp.items():
        batch_max[b] = max(batch_max.get(b, 0), ln)
    outs = []
    for n in (2, 7, 32):
        got = {
            r.id: (r.length, r.rank, r.batch_idx, r.batch_max_len,
                   r.pad_waste)
            for r in length_bucket_batches(
                df, batch_size=B, n_shards=n
            ).collect()
        }
        outs.append(got)
        for did, (ln, rank, b) in exp.items():
            assert got[did] == (ln, rank, b, batch_max[b],
                                batch_max[b] - ln), (n, did)
    assert outs[0] == outs[1] == outs[2]
    # padding: bucketed total waste strictly below naive id-order cut
    bucketed = sum(v[4] for v in outs[0].values())
    naive_batches = {}
    for did, ln in rows:
        naive_batches.setdefault(did // B, []).append(ln)
    naive = sum(max(ls) - l for ls in naive_batches.values() for l in ls)
    assert bucketed < naive / 3
