"""End-to-end annotate pipeline tests (SURVEY §3 lifecycle; golden
expectations modeled on handler_test.go / asn_test.go semantics)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from annotation_service_spark.plans import annotate as plan
from annotation_service_spark.sources import dims, geolite2, routeviews
from tests.test_sources import fixture_dir  # noqa: F401 (fixture reuse)


@pytest.fixture(scope="module")
def tables(spark, fixture_dir):  # noqa: F811
    blocks = geolite2.geolite2_blocks(spark, str(fixture_dir / "blocks.csv"))
    locs = geolite2.geolite2_locations(spark, str(fixture_dir / "locations.csv"))
    geo_ranges = geolite2.build_geo_ranges(blocks, locs)
    asn_ranges = routeviews.build_asn_ranges(
        routeviews.routeviews_pfx2as(spark, str(fixture_dir / "pfx2as.tsv"))
    )
    names = dims.asnames(spark, str(fixture_dir / "asnames.csv"))
    return geo_ranges, locs, asn_ranges, names


def test_annotate_single_snapshot(spark, tables):
    geo_ranges, locs, asn_ranges, names = tables
    requests = spark.createDataFrame(
        [
            ("1.0.0.5",),     # AU block, AS13335
            ("1.0.5.9",),     # geo missing, AS38803 (1.0.4.0/22)
            ("1.0.8.1",),     # multi-origin AS55967_38365,64512
            ("2001:200::1",), # v6: AS2500, geo missing
            ("9.9.9.9",),     # both missing
            ("junk",),        # invalid IP -> both missing
        ],
        "ip string",
    )
    out = plan.annotate(requests, geo_ranges, locs, asn_ranges, names)
    m = {r.ip: r for r in out.collect()}

    au = m["1.0.0.5"]
    assert au.geo.country_code == "AU"
    assert au.geo.city == "Research"
    assert au.geo.region == "VIC"
    assert au.geo.latitude == -37.7
    assert au.geo.postal_code == "3095"
    assert au.geo.missing is False
    assert au.network.as_number == 13335
    assert au.network.as_name == "Cloudflare, Inc."
    assert au.network.cidr == "1.0.0.0/24"
    assert [list(s.asns) for s in au.network.systems] == [[13335]]

    r2 = m["1.0.5.9"]
    assert r2.geo.missing is True
    assert r2.network.as_number == 38803
    assert r2.network.cidr == "1.0.4.0/22"

    moas = m["1.0.8.1"]
    assert moas.network.as_number == 55967
    assert [list(s.asns) for s in moas.network.systems] == [[55967], [38365, 64512]]
    assert moas.network.as_name == "Beijing Baidu Netcom"

    v6 = m["2001:200::1"]
    assert v6.network.as_number == 2500
    assert v6.network.as_name == ""  # no asnames entry -> empty like map miss
    assert v6.geo.missing is True

    assert m["9.9.9.9"].geo.missing is True
    assert m["9.9.9.9"].network.missing is True
    assert m["junk"].geo.missing is True
    assert m["junk"].network.missing is True


def test_annotate_6to4(spark, tables):
    """handler/handler.go:179-190 applied inside the pipeline: the
    6to4 form of 1.0.0.5 gets 1.0.0.5's annotations."""
    geo_ranges, locs, asn_ranges, names = tables
    requests = spark.createDataFrame([("2002:0100:0005::1",)], "ip string")
    out = plan.annotate(requests, geo_ranges, locs, asn_ranges, names).collect()[0]
    assert out.geo.country_code == "AU"
    assert out.network.as_number == 13335


def test_annotate_asof_multi_snapshot(spark, tables):
    """J2∘J1: two snapshots of the geo table; requests dated across
    them pick the right snapshot's payload."""
    geo_ranges, locs, asn_ranges, names = tables
    d1, d2 = dt.date(2017, 9, 7), dt.date(2018, 3, 1)
    g1 = geo_ranges.withColumn("dataset_date", F.lit(d1))
    # second snapshot: same ranges but postal codes suffixed
    g2 = geo_ranges.withColumn("dataset_date", F.lit(d2)).withColumn(
        "postal_code", F.concat(F.col("postal_code"), F.lit("-v2"))
    )
    multi = g1.unionByName(g2)
    a1 = asn_ranges.withColumn("dataset_date", F.lit(d1))
    a2 = asn_ranges.withColumn("dataset_date", F.lit(d2))
    multi_asn = a1.unionByName(a2)
    registry = spark.createDataFrame([(d1,), (d2,)], "dataset_date date")

    requests = spark.createDataFrame(
        [
            ("1.0.0.5", dt.datetime(2017, 10, 1)),  # → snapshot d1
            ("1.0.0.5", dt.datetime(2018, 6, 1)),   # → snapshot d2
            ("1.0.0.5", dt.datetime(2016, 1, 1)),   # before first → d1 fallback
        ],
        "ip string, req_ts timestamp",
    )
    out = plan.annotate(
        requests,
        multi,
        locs,
        multi_asn,
        names,
        date_col="req_ts",
        registry=registry,
    )
    rows = sorted(out.collect(), key=lambda r: r.req_ts)
    assert rows[0].geo.postal_code == "3095"      # 2016 → fallback d1
    assert rows[1].geo.postal_code == "3095"      # 2017-10 → d1
    assert rows[2].geo.postal_code == "3095-v2"   # 2018-06 → d2
    for r in rows:
        assert r.network.as_number == 13335


def test_v2_response_json(spark, tables):
    geo_ranges, locs, asn_ranges, names = tables
    requests = spark.createDataFrame([("1.0.0.5",)], "ip string")
    out = plan.annotate(requests, geo_ranges, locs, asn_ranges, names)
    js = plan.to_v2_response(out).collect()[0]
    assert js.ip == "1.0.0.5"
    assert '"country_code":"AU"' in js.annotations_json
    assert '"as_number":13335' in js.annotations_json


def test_v2_response_document(spark, tables):
    """Full wire shape: one JSON doc with the ip→annotations map. A
    repeated IP is one map key (the reference answers into a Go map)."""
    import json

    geo_ranges, locs, asn_ranges, names = tables
    requests = spark.createDataFrame(
        [("1.0.0.5",), ("9.9.9.9",), ("1.0.0.5",)], "ip string"
    )
    out = plan.annotate(requests, geo_ranges, locs, asn_ranges, names)
    doc = plan.to_v2_response_document(out).collect()
    assert len(doc) == 1
    body = json.loads(doc[0].response_json)
    assert set(body["Annotations"].keys()) == {"1.0.0.5", "9.9.9.9"}
    assert body["Annotations"]["1.0.0.5"]["geo"]["country_code"] == "AU"
    assert body["Annotations"]["9.9.9.9"]["geo"]["missing"] is True


def test_annotate_plan_has_no_probe_shuffle(spark, tables):
    """Scale contract of the flagship path: the probe stream flows
    scan → mapInPandas (broadcast range join, dimension lookups inside)
    → project with no hash or range Exchange — nothing is shuffled by
    key. The probe side is shuffled only when its batch plan has no
    Exchange or cache and splits into 2..defaultParallelism partitions
    (a list-built request is one slice per core): one round-robin
    rebalance that AQE coalesces by bytes, so the kernel runs in as few
    Python tasks as the request needs. A probe stream with more splits
    than cores keeps its scan partitioning. This is the property that
    makes the plan hold at 100 TB of probes."""
    geo_ranges, locations, asn_ranges, asnames = tables
    requests = spark.createDataFrame(
        [("1.0.0.5",), ("8.8.8.8",)], "ip string"
    )
    out = plan.annotate(requests, geo_ranges, locations, asn_ranges, asnames)
    ptxt = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in ptxt
    assert "Exchange rangepartitioning" not in ptxt


def test_request_kernel_runs_in_one_python_task(spark, tables):
    """A request of 300 IPs split one slice per core runs its
    mapInPandas kernel in ONE Python task: the probe side gets a
    round-robin rebalance that AQE coalesces by bytes. Built from a
    list (an RDD scan) or from a pandas frame (a LocalTableScan), it
    answers with the document of the same request in one slice."""
    import json

    import pandas as pd

    geo_ranges, locs, asn_ranges, names = tables
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    rows = [(f"1.0.{k // 25}.{k % 25}",) for k in range(300)]

    def annotate(req):
        return plan.annotate(req, geo_ranges, locs, asn_ranges, names)

    def document(out):
        return json.loads(plan.to_v2_response_document(out).collect()[0].response_json)

    def kernel_tasks(out) -> int:
        """Tasks of the stage running ``out``'s MapInPandas: no Exchange
        is above it, so that is the action's result stage, the newest
        stage of its last job."""
        p = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in p[: p.index("MapInPandas")], p
        bus.waitUntilEmpty()
        before = set(sc.statusTracker().getJobIdsForGroup(None))
        out.collect()
        bus.waitUntilEmpty()
        last = max(set(sc.statusTracker().getJobIdsForGroup(None)) - before)
        stage = max(sc.statusTracker().getJobInfo(last).stageIds)
        return sc.statusTracker().getStageInfo(stage).numTasks

    expected = document(annotate(spark.createDataFrame(rows, "ip string").coalesce(1)))
    assert len(expected["Annotations"]) == 300
    assert expected["Annotations"]["1.0.0.5"]["geo"]["country_code"] == "AU"
    assert expected["Annotations"]["1.0.5.9"]["network"]["as_number"] == 38803
    frames = {
        "list": spark.createDataFrame(rows, "ip string"),
        "pandas": spark.createDataFrame(pd.DataFrame(rows, columns=["ip"]), "ip string"),
    }
    for form, req in frames.items():
        out = annotate(req)
        assert kernel_tasks(out) == 1, form
        assert document(out) == expected, form
