"""Physical-plan guards for the heaviest gates (VERDICT r3 #6): plan
regressions — an accidental cartesian product, a fact-side broadcast,
a single-partition window — should fail CI here instead of waiting for
a judge bench at scale. Value-level correctness is driver-gated
against DuckDB; these pin the PHYSICAL shape that survives 100x.
"""

from __future__ import annotations

import __spark_entry__ as em
from annotation_service_spark import caching
from annotation_service_spark.operators import graph as g
from tests.test_sources import fixture_dir  # noqa: F401 (fixture reuse)

SF = "/root/testdata/sf0.001"

EQUI_JOINS = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_no_blowups(p: str) -> None:
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_pipeline_full_plan(spark):
    """Composite curation pipeline: every join is an equi-join keyed
    on content hashes / doc ids, no cross products, and the dedup
    windows partition by cluster keys (no single-partition window)."""
    p = _plan(em.q_pipeline_full(spark, SF))
    _assert_no_blowups(p)
    assert any(j in p for j in EQUI_JOINS)
    assert "Window" in p and "SinglePartition" not in p
    # the df-cap survives the r9 hoist into the gate body: the pair
    # stage must still anti-join the shingle table against the
    # broadcast hot-shingle set
    assert "LeftAnti" in p, p


def test_dedup_keep_best_plan(spark):
    """Keep-best eviction: per-cluster rank windows (keyed by cluster
    id), the cluster map joins hash-style, nothing single-partition."""
    p = _plan(em.q_dedup_keep_best(spark, SF))
    _assert_no_blowups(p)
    assert "Window" in p and "SinglePartition" not in p


def test_scd_asof_plan(spark):
    """SCD2 as-of at dimension scale: union + per-key carry-forward
    window — NO broadcast of either side, no range/cross join, and
    the window is keyed (no single-partition sort)."""
    p = _plan(em.q_scd_asof(spark, SF))
    _assert_no_blowups(p)
    assert "Window" in p and "SinglePartition" not in p


def test_both_j1_strategies_carry_gate_plans(spark):
    """J1 (interval point-lookup) has two physical strategies, both
    oracle-gated: the bucketed shuffle form (range_lookup gate) must
    plan as an explode + equi-join — never a nested-loop range join —
    and the approx-profile twin must NOT pay the exact-distinct
    Expand."""
    p = _plan(em.q_range_lookup(spark, SF))
    _assert_no_blowups(p)
    assert "Generate explode" in p or "Explode" in p or "Generate" in p
    assert any(j in p for j in EQUI_JOINS)
    ap = _plan(em.q_profile_approx(spark, SF))
    # the HLL branch itself adds no Expand; the exact twin it joins
    # against contributes the only Expand in the gate plan
    assert "Expand" in ap  # exact side present (tolerance check)
    exact_only = _plan(
        __import__(
            "annotation_service_spark.operators.profile", fromlist=["profile_table"]
        ).profile_table(em._t(spark, SF, "orders"), approx=True)
    )
    assert "Expand" not in exact_only


def test_tpch_q6_pushdown_and_q19_keeps_equijoin(spark):
    """Q6: every conjunct reaches the parquet scan (PushedFilters on
    shipdate/quantity — zero joins). Q19: the disjunctive residual
    must NOT break the partkey equi-join into a nested loop."""
    p6 = _plan(em.q_tpch_q6(spark, SF))
    assert "PushedFilters: [" in p6 and "l_shipdate" in p6.split("PushedFilters")[1][:400]
    assert not any(j in p6 for j in EQUI_JOINS)  # no joins at all
    p19 = _plan(em.q_tpch_q19(spark, SF))
    _assert_no_blowups(p19)
    assert any(j in p19 for j in EQUI_JOINS)


def test_knn_pagerank_plan_and_lsh_edge_join(spark):
    """PageRank iterations: node-keyed equi-joins only. The LSH edge
    build (the 100 TB path) must plan its band candidate join as an
    equi-join — never a nested-loop/cartesian over the corpus."""
    _assert_no_blowups(_plan(em.q_knn_pagerank(spark, SF)))
    emb = em._t(spark, SF, "embeddings")
    p = _plan(g.knn_edges(emb, k=3, method="lsh", n_planes=16, bands=8))
    _assert_no_blowups(p)
    assert any(j in p for j in EQUI_JOINS)


def test_probed_lsh_and_quantized_plans(spark):
    """Round-6 multi-probe LSH family: the probe explode must stay on
    the query side of a hash equi-join on (band, key) — probing must
    never degrade the candidate join to a nested loop or cartesian —
    and the int8 re-rank joins candidates back by id equi-joins."""
    for q in (em.q_ann_lsh_topk, em.q_ann_quantized_topk, em.q_dedup_simhash):
        p = _plan(q(spark, SF))
        _assert_no_blowups(p)
        assert any(j in p for j in EQUI_JOINS)
        assert "Generate explode" in p  # band (+probe) expansion


def test_embedding_dup_exact_prefilter_plan(spark):
    """The GEMM-prefiltered exact dup form: the candidate id set
    broadcasts into corpus-side equi-joins (BroadcastHashJoin), and
    the full corpus crossJoin is GONE from the plan."""
    p = _plan(em.q_dedup_embedding_cosine(spark, SF))
    _assert_no_blowups(p)
    assert "BroadcastHashJoin" in p


def test_overlap_join_and_containment_plans(spark):
    """Round-6 additions. The PAIR joins must be equi-joins — the
    overlap join keyed on the grid cell (a bare inequality join
    would plan as an all-pairs BroadcastNestedLoopJoin of the two
    FACT sides), containment on the shingle, PMI on the vocab. The
    only nested-loop nodes allowed are Cross-type broadcasts of
    1-row scalars (thresholds/totals — the unigram_nll idiom);
    a non-Cross BNLJ means an inequality join leaked through."""
    for q in (
        em.q_interval_overlap_join,
        em.q_dedup_containment,
        em.q_pmi_collocations,
        em.q_source_kl,
    ):
        p = _plan(q(spark, SF))
        assert "CartesianProduct" not in p
        assert any(j in p for j in EQUI_JOINS)
        for line in p.splitlines():
            if "BroadcastNestedLoopJoin" in line:
                assert "Cross" in line, line
    # the overlap join's equi key IS the grid cell
    p = _plan(em.q_interval_overlap_join(spark, SF))
    assert "BroadcastHashJoin [__cell" in p or "SortMergeJoin [__cell" in p \
        or "ShuffledHashJoin [__cell" in p


def test_dsir_resample_plan(spark):
    """DSIR: the bucket log-ratio table (≤ n_buckets rows) and the
    percentile threshold (1 row) must BROADCAST back into the per-doc
    aggregation — no shuffle keyed on anything wider than the bucket
    id, no cartesian blowup (the two crossJoins are 1-row broadcasts),
    no single-partition window."""
    p = _plan(em.q_dsir_resample(spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastExchange" in p
    # the only window is the doc-id-keyed bigram lead() — selection
    # stays a threshold, never a global rank (the one SinglePartition
    # exchange in the plan is the 1-row percentile reduce, not a
    # window: every Window operator line carries a partition spec)
    for line in p.splitlines():
        if line.strip().startswith("Window ") or "+- Window " in line:
            assert "partitionBy" in line or ", [id#" in line, line


def test_tpch_q7_plan(spark):
    """Q7: both nation dimension roles broadcast; the fact-side chain
    stays equi-join."""
    p = _plan(em.q_tpch_q7(spark, SF))
    _assert_no_blowups(p)
    assert p.count("BroadcastHashJoin") >= 2


def test_tpch_q17_q22_plans(spark):
    """Q17/Q22: the decorrelated aggregate rewrites must not plan a
    nested-loop — Q17's per-part aggregate joins on the part key;
    Q22's 1-row global threshold broadcast-cross-joins (allowed:
    BroadcastNestedLoopJoin over exactly one row) and the order
    anti-join is hash-based."""
    p17 = _plan(em.q_tpch_q17(spark, SF))
    _assert_no_blowups(p17)
    assert any(j in p17 for j in EQUI_JOINS)
    p22 = _plan(em.q_tpch_q22(spark, SF))
    assert "CartesianProduct" not in p22
    assert "LeftAnti" in p22


def test_kcore_converged_plan_and_result(spark):
    """k-core: the peel loop localCheckpoints each round — the final
    plan must be flat (rooted at the checkpointed edge RDD, not a
    12-round join tower)."""
    df = em.q_kcore(spark, SF)
    p = _plan(df)
    _assert_no_blowups(p)
    assert p.count("SortMergeJoin") + p.count("ShuffledHashJoin") <= 2


def test_ann_ivf_prune_plan(spark):
    """IVF: the probe scan is the mapInPandas prune (no corpus-wide
    pair join survives in the plan) and the survivor re-score joins
    broadcast."""
    p = _plan(em.q_ann_ivf_topk(spark, SF))
    _assert_no_blowups(p)
    assert "MapInPandas" in p
    assert "BroadcastHashJoin" in p


def test_partsupp_tpch_plans(spark):
    """Q2/Q11/Q16/Q20 over the derived partsupp view: dims broadcast,
    fact-side chains stay equi-join, and the only non-equi shape
    allowed is Q11's single-row total broadcast."""
    p2 = _plan(em.q_tpch_q2(spark, SF))
    _assert_no_blowups(p2)
    assert p2.count("BroadcastHashJoin") >= 2
    p11 = _plan(em.q_tpch_q11(spark, SF))
    assert "CartesianProduct" not in p11  # 1-row total broadcasts
    assert "BroadcastHashJoin" in p11
    p16 = _plan(em.q_tpch_q16(spark, SF))
    _assert_no_blowups(p16)
    assert "LeftAnti" in p16
    p20 = _plan(em.q_tpch_q20(spark, SF))
    _assert_no_blowups(p20)
    assert "LeftSemi" in p20


def test_ann_ivfpq_plan(spark):
    """IVF-PQ: the probed ADC scan is the mapInPandas kernel (no
    corpus-wide pair join) and the survivor re-score joins broadcast."""
    p = _plan(em.q_ann_ivfpq_topk(spark, SF))
    _assert_no_blowups(p)
    assert "MapInPandas" in p
    assert "BroadcastHashJoin" in p


def test_epoch_shuffle_plan(spark):
    """Epoch shuffle: the global rank must come from the two-phase
    decomposition — shard-keyed windows only, never a single-partition
    window over the corpus."""
    p = _plan(em.q_epoch_shuffle(spark, SF))
    _assert_no_blowups(p)
    assert "Window" in p and "SinglePartition" not in p


def test_tpch_q20_red_pushdown_plan(spark):
    """Q20's round-8 rewrite: the red-part restriction must sit BELOW
    both heavy operators — the semi-join against the red part keys
    appears under the partsupp-derivation HashAggregate(distinct) and
    under the shipped aggregate, so neither shuffle carries the full
    fact table. Physically: at least two broadcast LeftSemi joins, no
    blowups, and (the regression this guard exists for) no plain
    inner join of the full partsupp distinct against the part table
    ABOVE the aggregate."""
    p = _plan(em.q_tpch_q20(spark, SF))
    _assert_no_blowups(p)
    assert p.count("LeftSemi") >= 2, p
    assert "HashAggregate" in p
    # the semi joins are broadcast (red keys are a dim-sized set)
    assert "BroadcastHashJoin" in p


def test_ngram_jaccard_max_df_plan(spark):
    """The df-cap inside ngram_jaccard_pairs plans as a (broadcast)
    anti-join of the shingle table against the tiny hot-shingle set —
    never a shuffle of the corpus against the df table."""
    from annotation_service_spark.operators import dedup as dd
    from annotation_service_spark.sources.testdata import load_table

    docs = load_table(spark, SF, "documents")
    p = _plan(dd.ngram_jaccard_pairs(docs, threshold=0.5, max_df=1000))
    _assert_no_blowups(p)
    # r10: the hot set is a collected broadcast LITERAL — the anti-join
    # must plan broadcast even with the static threshold at 8MB
    # (toString format: "BroadcastHashJoin [s], [s], LeftAnti, BuildRight")
    assert any(
        "BroadcastHashJoin" in ln and "LeftAnti" in ln
        for ln in p.splitlines()
    ), p


def test_shared_passages_plan(spark):
    """Passage extraction: the anchor self-join must be an equi-join
    on the gram hash (never a cross product), the diagonal-islands
    window must partition by (pair, diagonal) — not single-partition —
    and the run aggregate must show a partial (map-side) phase
    reusing the window's clustering."""
    p = _plan(em.q_shared_passages(spark, SF))
    _assert_no_blowups(p)
    assert any(j in p for j in EQUI_JOINS)
    assert "Window" in p and "SinglePartition" not in p
    assert "partial_min" in p  # map-side combine on the run aggregate


def test_line_family_plans(spark):
    """Line-hash family (r12, reshaped r13): the hot-line filter must
    reach the occurrences as a BROADCAST equi-join on the norm (the
    hot set is tiny by construction — it IS the boilerplate; r12's
    shuffle LeftAnti re-shuffled the whole line fan-out by content)
    — never a cross product — and the per-line distinct-doc count
    must carry a partial (map-side) phase; reassembly groups by doc
    id, no single-partition stage, and since r13 no second scan-side
    join back to the documents table."""
    p = _plan(em.q_boilerplate_lines(spark, SF))
    _assert_no_blowups(p)
    assert "BroadcastHashJoin" in p, p
    assert "SinglePartition" not in p
    assert "partial_count" in p or "partial_min" in p
    p2 = _plan(em.q_line_dedup_keep_first(spark, SF))
    _assert_no_blowups(p2)
    assert any(j in p2 for j in EQUI_JOINS)
    assert "SinglePartition" not in p2
    # r13 (VERDICT r12 item 5): the keep-first decision joins the
    # DUPLICATED-norm subset; when the limit probe says it fits, the
    # subset is BROADCAST so hot-line occurrences never shuffle by
    # content — at this SF the probe always fits, so the plan must
    # show the broadcast.
    assert "BroadcastHashJoin" in p2, p2


def test_url_host_filter_plan(spark):
    """Host-blocklist filtering (r13): the blocklist is a dim table —
    it must BROADCAST into the suffix equi-join (never shuffle the
    exploded corpus side by suffix), the per-doc reduce must carry a
    partial (map-side) phase, and nothing single-partitions."""
    p = _plan(em.q_url_host_filter(spark, SF))
    _assert_no_blowups(p)
    assert "BroadcastHashJoin" in p, p
    assert "SinglePartition" not in p
    assert "partial_max_by" in p or "partial_max" in p, p


def test_url_and_length_bucket_plans(spark):
    """url_dedup: one content-keyed hash aggregate, no joins at all.
    length_buckets: the two-phase ranked scan — keyed windows only
    (shard window + batch window), a broadcast offset join, never a
    SinglePartition sort of the corpus."""
    p = _plan(em.q_url_dedup(spark, SF))
    _assert_no_blowups(p)
    assert "HashAggregate" in p
    assert "SinglePartition" not in p
    p2 = _plan(em.q_length_buckets(spark, SF))
    _assert_no_blowups(p2)
    assert "Window" in p2 and "SinglePartition" not in p2
    assert "BroadcastHashJoin" in p2  # the n_shards-row offset table


def test_html_family_plans(spark):
    """html_extract is the no-shuffle ideal: scan + project, zero
    Exchange, zero Join — the whole extraction chain lives in one
    whole-stage-codegen span. html_links adds exactly the explode +
    ONE content-keyed aggregate (partial + final around one
    Exchange); a hot host pair is a single aggregation key."""
    p = _plan(em.q_html_extract(spark, SF))
    _assert_no_blowups(p)
    # r14: exactly ONE RoundRobin exchange is allowed — the guide-§2.5
    # under-parallel-scan spread (partitioning.spread_underparallel),
    # which parallelizes the regex chain over a one-row-group input
    # (A/B 0.74x). Everything else stays projection-only: no joins,
    # no keyed shuffles.
    assert "Join" not in p
    assert p.count("Exchange") == p.count("RoundRobinPartitioning") == 1
    assert "hashpartitioning" not in p
    p2 = _plan(em.q_html_links(spark, SF))
    _assert_no_blowups(p2)
    assert "Join" not in p2
    assert p2.count("Exchange") == 1
    assert "HashAggregate" in p2


def test_kn_and_badword_plans(spark):
    """kn_nll: every join keys on bigram/context strings (equi-joins
    only; the 1-row type count broadcasts); badword_filter folds the
    blocklist literal into a per-row expression — no Exchange, no
    Join."""
    p = _plan(em.q_kn_nll(spark, SF))
    assert "CartesianProduct" not in p
    # exactly ONE BroadcastNestedLoopJoin is allowed: the 1-row
    # N1+(··) type-count cross join (bigram_nll's `v` has the same
    # shape) — broadcasting one row is not a blowup
    assert p.count("BroadcastNestedLoopJoin") == 1
    assert any(j in p for j in EQUI_JOINS)
    p2 = _plan(em.q_badword_filter(spark, SF))
    _assert_no_blowups(p2)
    assert "Exchange" not in p2 and "Join" not in p2


def test_html_pipeline_plan(spark):
    """Composed markup pipeline: extraction is projection-only, the
    stage gates join on doc_id (equi-joins), the hot-line decision is
    a broadcast equi-join against the content-keyed aggregate (r13)
    — no cross products, no single-partition window."""
    p = _plan(em.q_html_pipeline(spark, SF))
    _assert_no_blowups(p)
    assert any(j in p for j in EQUI_JOINS)
    assert "BroadcastHashJoin" in p
    assert "SinglePartition" not in p


def test_unit_cache_and_spread_follow_the_input(spark):
    """The boilerplate stage always scoped-caches its unit table (it
    feeds both the hot-line aggregate and the join), and its spread
    follows the input's plan: the composition's survivors already
    hold the verdict joins' exchanges, so html_pipeline registers
    exactly one corpus-sized cache, the unit table, and no RoundRobin
    exchange; the bare gate registers the same one cache."""
    def unit_caches() -> int:  # the unit table has line_no
        return sum("line_no" in df.columns for _h, df, _o in caching._live_caches)

    caching.release_caches()
    p = _plan(em.q_html_pipeline(spark, SF))
    assert unit_caches() == caching.live_cache_count() == 1
    assert "RoundRobinPartitioning" not in p
    caching.release_caches()
    em.q_boilerplate_lines(spark, SF)
    assert unit_caches() == caching.live_cache_count() == 1
    caching.release_caches()


def test_sentence_dedup_plan(spark):
    """Sentence keep-first shares the line family's broadcast shape:
    the duplicated-norm subset broadcasts into the unit join on the
    gate fixture (no content-keyed pile-up), no single-partition
    window, no cross product."""
    p = _plan(em.q_sentence_dedup(spark, SF))
    _assert_no_blowups(p)
    assert "BroadcastHashJoin" in p
    assert "SinglePartition" not in p


def test_robots_filter_plan(spark):
    """Robots rules are a dimension: the host join must broadcast,
    the winner is one id-keyed aggregate — the URL fact side never
    shuffles by content."""
    p = _plan(em.q_robots_filter(spark, SF))
    _assert_no_blowups(p)
    assert "BroadcastHashJoin" in p
    assert "SinglePartition" not in p


def test_annotate_serving_plans_run_no_spark_work(spark, tmp_path, fixture_dir):  # noqa: F811
    """ROADMAP rule on the serving path: once a published table has
    served one request, planning the next request on it runs no Spark
    work before the action — the range-join broadcasts are built once
    per published table (the reference loads a dataset once,
    manager/manager.go:38-57). After a refresh swaps in a snapshot
    with different payloads, the next request answers from it."""
    import datetime as dt

    from pyspark.sql import functions as F

    from annotation_service_spark.plans import annotate as plan
    from annotation_service_spark.sources import dims, geolite2, routeviews
    from annotation_service_spark.streaming.refresh import SnapshotStore
    from tests.test_interval import sql_executions

    snapshot = dt.date(2017, 9, 7)
    locs = geolite2.geolite2_locations(spark, str(fixture_dir / "locations.csv"))
    names = dims.asnames(spark, str(fixture_dir / "asnames.csv"))
    geo = geolite2.build_geo_ranges(
        geolite2.geolite2_blocks(spark, str(fixture_dir / "blocks.csv")), locs
    ).withColumn("dataset_date", F.lit(snapshot))
    asn = routeviews.build_asn_ranges(
        routeviews.routeviews_pfx2as(spark, str(fixture_dir / "pfx2as.tsv"))
    ).withColumn("dataset_date", F.lit(snapshot))

    store = SnapshotStore()

    def publish(table, df, version):
        path = str(tmp_path / f"{table}-{version}")
        df.write.parquet(path)
        store.swap(table, spark.read.parquet(path))

    publish("geo", geo, 1)
    publish("asn", asn, 1)

    def request():
        geo_t, asn_t = store.get("geo"), store.get("asn")
        req = spark.createDataFrame(
            [("1.0.0.5", dt.date(2018, 1, 1))], "ip string, req_date date"
        )
        return plan.annotate(
            req, geo_t, locs, asn_t, names,
            date_col="req_date", registry=geo_t.select("dataset_date").distinct(),
        )

    request().collect()  # warm-up: the first request builds both tables
    n, out = sql_executions(spark, request)
    assert n == 0
    (row,) = out.collect()
    assert row.geo.postal_code == "3095"
    assert row.network.as_number == 13335

    publish("geo", geo.withColumn("postal_code", F.concat("postal_code", F.lit("-v2"))), 2)
    (row,) = request().collect()
    assert row.geo.postal_code == "3095-v2"
    assert row.network.as_number == 13335


def test_annotate_request_stage_crosses_into_python_once(spark, fixture_dir):  # noqa: F811
    """The probe stage of ``annotate()`` is ONE Python crossing: IP
    parse, 6to4 and the geo and ASN range searches share a single
    MapInPandas, with no ArrowEvalPython / BatchEvalPython before it
    — in the single-snapshot form and in the as-of form."""
    import datetime as dt

    from pyspark.sql import functions as F

    from annotation_service_spark.plans import annotate as plan
    from annotation_service_spark.sources import dims, geolite2, routeviews

    snapshot = dt.date(2017, 9, 7)
    locs = geolite2.geolite2_locations(spark, str(fixture_dir / "locations.csv"))
    names = dims.asnames(spark, str(fixture_dir / "asnames.csv"))
    geo = geolite2.build_geo_ranges(
        geolite2.geolite2_blocks(spark, str(fixture_dir / "blocks.csv")), locs
    )
    asn = routeviews.build_asn_ranges(
        routeviews.routeviews_pfx2as(spark, str(fixture_dir / "pfx2as.tsv"))
    )
    req = spark.createDataFrame(
        [("1.0.0.5", dt.date(2018, 1, 1)), ("junk", dt.date(2018, 1, 1))],
        "ip string, req_date date",
    )

    def dated(t):
        return t.withColumn("dataset_date", F.lit(snapshot))

    forms = {
        "single": plan.annotate(req, geo, locs, asn, names),
        "asof": plan.annotate(
            req, dated(geo), locs, dated(asn), names, date_col="req_date",
            registry=spark.createDataFrame([(snapshot,)], "dataset_date date"),
        ),
    }
    for form, out in forms.items():
        p = _plan(out)
        assert p.count("MapInPandas") == 1, (form, p)
        assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p, (form, p)
        got = {r.ip: r for r in out.collect()}
        assert got["1.0.0.5"].geo.postal_code == "3095", form
        assert got["1.0.0.5"].network.as_number == 13335, form
        assert got["junk"].geo.missing and got["junk"].network.missing, form


def test_annotate_warm_asof_request_is_one_plan(spark, tmp_path, fixture_dir):  # noqa: F811
    """A warm as-of request on published tables plans as request scan →
    as-of projection → one round-robin rebalance → one MapInPandas
    (parse, both range searches, both dimension lookups) → struct
    projection → the document aggregate: no per-request registry scan,
    join or broadcast, and the action runs at most 3 jobs (its two
    Exchanges: the rebalance AQE coalesces by bytes, so the kernel runs
    in one Python task, and the one feeding the document aggregate)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from annotation_service_spark.plans import annotate as plan
    from annotation_service_spark.sources import dims, geolite2, routeviews
    from tests.test_interval import sql_executions

    locs = geolite2.geolite2_locations(spark, str(fixture_dir / "locations.csv"))
    names = dims.asnames(spark, str(fixture_dir / "asnames.csv"))
    tables = {
        "geo": geolite2.build_geo_ranges(
            geolite2.geolite2_blocks(spark, str(fixture_dir / "blocks.csv")), locs
        ),
        "asn": routeviews.build_asn_ranges(
            routeviews.routeviews_pfx2as(spark, str(fixture_dir / "pfx2as.tsv"))
        ),
    }
    for name, df in tables.items():
        dated = [df.withColumn("dataset_date", F.lit(dt.date(y, 1, 1))) for y in (2017, 2018)]
        dated[0].unionByName(dated[1]).write.parquet(str(tmp_path / name))
        tables[name] = spark.read.parquet(str(tmp_path / name))
    geo, asn = tables["geo"], tables["asn"]

    def request():
        req = spark.createDataFrame(
            [("1.0.0.5", dt.date(2018, 6, 1)), ("junk", dt.date(2016, 1, 1))],
            "ip string, req_date date",
        )
        out = plan.annotate(req, geo, locs, asn, names, date_col="req_date",
                            registry=geo.select("dataset_date").distinct())
        return plan.to_v2_response_document(out)

    request().collect()  # warm-up: every build once
    n, doc = sql_executions(spark, request)
    assert n == 0
    p = _plan(doc)
    assert p.count("MapInPandas") == 1, p
    for node in ("BroadcastExchange", "BroadcastNestedLoopJoin", "FileScan", "InMemoryTableScan"):
        assert node not in p, (node, p)
    lines = p.splitlines()
    exchanges = [i for i, line in enumerate(lines) if "Exchange" in line]
    assert len(exchanges) == 2, p
    single, rebalance = exchanges
    assert "SinglePartition" in lines[single], p
    assert "collect_list" in lines[single - 1], p
    assert "RoundRobinPartitioning" in lines[rebalance], p
    assert "REBALANCE_PARTITIONS_BY_NONE" in lines[rebalance], p
    assert "MapInPandas" in "".join(lines[single:rebalance]), p

    sc = spark.sparkContext
    before = set(sc.statusTracker().getJobIdsForGroup(None))
    (row,) = doc.collect()
    jobs = [j for j in sc.statusTracker().getJobIdsForGroup(None) if j not in before]
    assert len(jobs) <= 3, jobs
    assert '"postal_code":"3095"' in row.response_json
