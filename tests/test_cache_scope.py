"""Plan identity and scope lifetime of caching.scoped_cache.

A cache is identified by its plan, so interleaved builds of one
operator on different inputs keep each other's cache hits; it lives
for the scope it was registered in, so per-batch and per-loop caches
go when their batch or loop ends, also when it raises.
"""

from __future__ import annotations

import json
import re
import sys
import threading

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as em
from annotation_service_spark import caching
from annotation_service_spark.operators import clustering as cl
from annotation_service_spark.operators import dedup as dd
from annotation_service_spark.operators import similarity as sim
from annotation_service_spark.streaming import stateful
from annotation_service_spark.streaming.refresh import VersionedTableManifest
from tests.test_plan_guards import SF


def _docs(spark, tag, n=30):
    rows = [(i, f"alpha beta gamma delta {tag} doc {i % 7} words here") for i in range(n)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _cached_reads(df) -> int:
    return df._jdf.queryExecution().withCachedData().toString().count(
        "InMemoryRelation"
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _persisted(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def test_interleaved_builds_keep_their_cache_hits(spark):
    """Building the operator on B before acting on A leaves A's plan
    reading as many cached relations as A built alone, and both
    answers equal an uncached run."""
    caching.release_caches()
    alone = _cached_reads(dd.minhash_lsh_pairs(_docs(spark, "a")))
    assert alone > 0
    caching.release_caches()
    a = dd.minhash_lsh_pairs(_docs(spark, "a"))
    b = dd.minhash_lsh_pairs(_docs(spark, "b"))
    assert _cached_reads(a) == alone
    assert _cached_reads(b) == alone
    got_a, got_b = _rows(a), _rows(b)
    assert got_a

    def uncached(tag):
        out = dd.minhash_lsh_pairs(_docs(spark, tag))
        caching.release_caches()
        spark.catalog.clearCache()
        return _rows(out)

    assert got_a == uncached("a")
    assert got_b == uncached("b")


def test_scope_owns_what_it_registers(spark):
    d = _docs(spark, "s")
    caching.release_caches()
    outer = caching.scoped_cache(d.where(F.col("doc_id") < 5))
    with caching.scope():
        # found by plan: the root keeps owning it
        assert caching.scoped_cache(d.where(F.col("doc_id") < 5)) is outer
        inner = caching.scoped_cache(d.where(F.col("doc_id") > 5))
        assert caching.live_cache_count() == 2
        caching.release_caches()  # ends the root scope only
        assert caching.live_cache_count() == 1
        assert caching.is_cached(inner)
    assert caching.live_cache_count() == 0
    assert not caching.is_cached(inner)
    with pytest.raises(RuntimeError):
        with caching.scope():
            caching.scoped_cache(d.where(F.col("doc_id") < 3)).count()
            raise RuntimeError("mid-scope")
    assert caching.live_cache_count() == 0


@pytest.mark.parametrize("which", ["kmeans_centroids", "ivf_build_centroids"])
def test_centroid_loop_that_raises_leaves_no_cache(spark, monkeypatch, which):
    emb = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 3), 1.0]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )

    def boom(*_args):
        raise RuntimeError("mid-loop")

    caching.release_caches()
    baseline = _persisted(spark)
    if which == "kmeans_centroids":
        monkeypatch.setattr(cl, "_partial_sums_fn", boom)
        call = lambda: cl.kmeans_centroids(emb, k=3, iterations=2)  # noqa: E731
    else:
        monkeypatch.setattr(sim, "_nearest_centroid", boom)
        call = lambda: sim.ivf_build_centroids(emb, n_centroids=3)  # noqa: E731
    with pytest.raises(RuntimeError, match="mid-loop"):
        call()
    assert _persisted(spark) == baseline
    assert caching.live_cache_count() == 0


def test_kmeans_loop_keeps_the_callers_cache(spark):
    """kmeans_fixed caches the quantized table in the root scope; the
    centroid loop finds it by plan and its scope does not release it."""
    emb = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 3), 1.0]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    caching.release_caches()
    out = cl.kmeans_fixed(emb, k=3, iterations=2)
    assert caching.live_cache_count() == 1
    assert _cached_reads(out) >= 1
    assert out.count() > 0


def test_near_dedup_stream_batches_release_their_caches(spark, tmp_path):
    """Each micro-batch's signature caches are released when the
    batch's state version is written."""
    src, state, ckpt = tmp_path / "docs", tmp_path / "state", tmp_path / "ck"
    src.mkdir()
    caching.release_caches()
    live0, persisted0 = caching.live_cache_count(), _persisted(spark)
    for batch in range(3):
        with open(src / f"b{batch}.json", "w") as fh:
            for i in range(10):
                doc_id = batch * 100 + i
                text = " ".join(f"w{(doc_id * 7 + j) % 97}" for j in range(40))
                fh.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
        stream = (
            spark.readStream.format("json")
            .schema("doc_id long, text string")
            .load(str(src))
        )
        q = stateful.start_near_dedup_maintenance(stream, str(state), str(ckpt))
        q.awaitTermination(120)
        assert VersionedTableManifest(str(state)).current_version() == batch
        assert caching.live_cache_count() == live0
        assert _persisted(spark) == persisted0


def test_pipeline_full_reads_the_shared_shingles_from_cache(spark):
    """contamination_check builds its own shingle plan; Spark matches
    it to the composition's cached table, so the plan scans
    ``documents`` no more often than when the table was passed in by
    hand (6 at sf0.001) and reads it through InMemoryTableScan."""
    caching.release_caches()
    p = em.q_pipeline_full(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert p.count("documents.parquet") <= 6, p
    assert re.search(r"InMemoryTableScan \[id#\d+L?, s#\d+\]", p), p


def _documents_scans(plan) -> int:
    """Scans of ``documents`` a physical plan runs itself: a cached
    relation it reads is a leaf, whose own scans are not counted."""
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.inputPlan()
    leaves = plan.collectLeaves()
    return sum(
        "documents.parquet" in leaves.apply(i).simpleString(100)
        for i in range(leaves.size())
    )


def test_eval_report_shares_the_shingle_cache_by_plan(spark):
    """No operator is handed the shingle table: the exact, minhash and
    prefix methods each build the same shingle plan, and the gate
    registers one cache for it. The caches the gate builds scan
    ``documents`` once between them (as when the table was passed in
    by hand), so the other two methods read the first one's cache."""
    docs = em._t(spark, SF, "documents")
    shingles = dd.shingle_table(docs, "doc_id", "text", 3)
    shingles = shingles._jdf.queryExecution().analyzed()
    manager = spark._jsparkSession.sharedState().cacheManager()
    caching.release_caches()
    with caching.scope():
        em.q_dedup_eval_report(spark, SF)
        token = caching._stack()[-1]
        mine = [df for _h, df, owner in caching._live_caches if owner is token]
        plans = [df._jdf.queryExecution().analyzed() for df in mine]
        assert sum(p.sameResult(shingles) for p in plans) == 1
        scans = sum(
            _documents_scans(
                manager.lookupCachedData(df._jdf)
                .get()
                .cachedRepresentation()
                .cacheBuilder()
                .cachedPlan()
            )
            for df in mine
        )
        assert scans <= 1, scans


def test_concurrent_registrations_of_one_plan_share_one_cache(spark):
    """Threads that register the same plan at once get one cache, and
    each thread's scope releases only what that thread registered."""
    d = _docs(spark, "t").where(F.col("doc_id") < 7)
    got, errors = [], []

    def worker(k):
        try:
            got.append(caching.scoped_cache(d))
            with caching.scope():
                caching.scoped_cache(d.where(F.col("doc_id") != k)).count()
        except Exception as e:  # noqa: BLE001 — reported below
            errors.append(e)

    caching.release_caches()
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(k,)) for k in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len(got) == 8 and all(g is got[0] for g in got)
    assert caching.live_cache_count() == 1
    caching.release_caches()
    assert caching.live_cache_count() == 0
