"""One plan per v2 request: the as-of projection, the dimension builds
and the refresh path's resources.

``annotate()`` answers the as-of rule with a native projection over
memoized snapshot dates and looks the locations and AS names up in
their own builds inside the probe kernel. The differential test keeps
the composition it replaced (``asof_join``, the keyed range join, two
broadcast dimension joins) as a test-local reference and asserts both
return the same rows.
"""

from __future__ import annotations

import datetime as dt
import gc
import json

import pytest
from pyspark import Broadcast, SparkContext
from pyspark.sql import functions as F
from pyspark.sql import types as T

from annotation_service_spark.functions import ip as ipf
from annotation_service_spark.operators import asof as ao
from annotation_service_spark.operators import interval as iv
from annotation_service_spark.plans import annotate as an
from annotation_service_spark.sources import dims, geolite2, routeviews
from annotation_service_spark.streaming import refresh as rf
from tests.test_interval import sql_executions
from tests.test_sources import BLOCKS_CSV, fixture_dir  # noqa: F401 (fixture reuse)

D1, D2, D3 = dt.date(2017, 9, 7), dt.date(2018, 3, 1), dt.date(2019, 1, 1)
IPS = ["1.0.0.5", "1.0.1.9", "1.0.2.1", "1.0.5.1", "1.0.8.8", "2001:200::1",
       "2002:100:5::1", "9.9.9.9", "bogus"]


def reference_annotate(requests, geo_ranges, locations, asn_ranges, asnames,
                       date_col=None, registry=None):
    """The composition ``annotate()`` used before: the as-of JOIN, the
    keyed range join, then broadcast joins of both dimensions."""
    probes, keys = requests, []
    if date_col is not None:
        probes = ao.asof_join(requests, registry, probe_date=date_col)
        keys = ["dataset_date"]
    hits = iv.range_join_broadcast(
        probes, [(geo_ranges, an.GEO_PAYLOAD), (asn_ranges, an.ASN_PAYLOAD)],
        probe_col="ip", keys=keys, parse_ips=True,
    )
    locs = locations.select("geoname_id", *an.LOCATION_ATTRS)
    with_loc = hits.join(F.broadcast(locs), hits["gid"] == locs["geoname_id"], "left")
    with_best = with_loc.withColumn(
        "as_number", ipf.best_asn(ipf.asn_decode(F.col("as_string")))
    )
    names = asnames.select("asn", "as_name")
    with_name = with_best.join(F.broadcast(names), F.col("as_number") == names["asn"], "left")
    return with_name.select(
        *requests.columns, *keys,
        an.geolocation_struct().alias("geo"), an.asdata_struct().alias("network"),
    )


def _rows(df):
    return sorted(map(repr, df.collect()))


@pytest.fixture(scope="module")
def snapshots(spark, fixture_dir):  # noqa: F811
    """Three dated snapshots of the fixture tables; each later snapshot
    changes postal codes and CIDR texts so a wrong choice shows."""
    locs = geolite2.geolite2_locations(spark, str(fixture_dir / "locations.csv"))
    names = dims.asnames(spark, str(fixture_dir / "asnames.csv"))
    geo = geolite2.build_geo_ranges(
        geolite2.geolite2_blocks(spark, str(fixture_dir / "blocks.csv")), locs
    )
    asn = routeviews.build_asn_ranges(
        routeviews.routeviews_pfx2as(spark, str(fixture_dir / "pfx2as.tsv"))
    )

    def dated(t, col, d, tag):
        return t.withColumn("dataset_date", F.lit(d)).withColumn(col, F.concat(col, F.lit(tag)))

    geo_all = dated(geo, "postal_code", D1, "").unionByName(
        dated(geo, "postal_code", D2, "-v2")).unionByName(dated(geo, "postal_code", D3, "-v3"))
    asn_all = dated(asn, "cidr", D1, "").unionByName(
        dated(asn, "cidr", D2, "-v2")).unionByName(dated(asn, "cidr", D3, "-v3"))
    return geo_all, locs, asn_all, names


REQUEST_DAYS = [
    dt.date(2016, 1, 1),   # before the first snapshot
    D1, D2, D3,            # equal to a snapshot date
    dt.date(2017, 12, 1),  # between snapshots
    dt.date(2021, 6, 1),   # after the last
    None,
]


@pytest.mark.parametrize("date_type", ["date", "timestamp"])
def test_asof_projection_matches_asof_join(spark, snapshots, date_type):
    """Same rows as the join composition for dates before, on, between
    and after the snapshots, a NULL date, a timestamp mid-day on a
    snapshot date, and registries with one snapshot, a repeated date,
    from ``createDataFrame`` and from ``geo.select(...).distinct()``."""
    geo, locs, asn, names = snapshots
    if date_type == "date":
        days = REQUEST_DAYS
    else:
        days = [None if d is None else dt.datetime.combine(d, dt.time()) for d in REQUEST_DAYS]
        days += [dt.datetime(2018, 3, 1, 12), dt.datetime(2017, 9, 7, 0, 0, 1)]
    requests = spark.createDataFrame(
        [(ip, d) for ip in IPS for d in days], f"ip string, req {date_type}"
    )
    registries = {
        "created": spark.createDataFrame([(D1,), (D2,), (D3,)], "dataset_date date"),
        "one_snapshot": spark.createDataFrame([(D2,)], "dataset_date date"),
        "repeated_date": spark.createDataFrame([(D2,), (D1,), (D2,), (D3,)], "dataset_date date"),
        "distinct": geo.select("dataset_date").distinct(),
    }
    for name, registry in registries.items():
        want = _rows(reference_annotate(requests, geo, locs, asn, names, "req", registry))
        got = _rows(an.annotate(requests, geo, locs, asn, names, date_col="req", registry=registry))
        assert got == want, name
    # the single-snapshot form too
    undated = geo.where(F.col("dataset_date") == D1).drop("dataset_date")
    undated_asn = asn.where(F.col("dataset_date") == D1).drop("dataset_date")
    plain = spark.createDataFrame([(ip,) for ip in IPS], "ip string")
    assert _rows(an.annotate(plain, undated, locs, undated_asn, names)) == _rows(
        reference_annotate(plain, undated, locs, undated_asn, names)
    )


def test_asof_column_answers_from_memo(spark, snapshots):
    """A registry rebuilt per request (a fresh ``distinct()``) hits the
    memo by plan; the memo lives on the owning table."""
    geo = snapshots[0]
    requests = spark.createDataFrame([(D2,)], "req date")
    ao.asof_column(geo.select("dataset_date").distinct(), "req", owner=geo)
    n, col = sql_executions(
        spark, lambda: ao.asof_column(geo.select("dataset_date").distinct(), "req", owner=geo)
    )
    assert n == 0
    assert requests.select(col.alias("d")).first().d == D1
    other = geo.where(F.lit(True))  # another table object: its own memo
    n, _ = sql_executions(
        spark, lambda: ao.asof_column(geo.select("dataset_date").distinct(), "req", owner=other)
    )
    assert n == 1


class _Broadcasts:
    """Broadcasts created and not yet unpersisted, counted at the
    PySpark boundary."""

    def __init__(self, monkeypatch):
        self.persisted: dict[int, Broadcast] = {}
        create, unpersist = SparkContext.broadcast, Broadcast.unpersist

        def counted_broadcast(sc, value):
            b = create(sc, value)
            self.persisted[id(b)] = b
            return b

        def counted_unpersist(b, *a, **kw):
            self.persisted.pop(id(b), None)
            return unpersist(b, *a, **kw)

        monkeypatch.setattr(SparkContext, "broadcast", counted_broadcast)
        monkeypatch.setattr(Broadcast, "unpersist", counted_unpersist)


def test_swap_rebuilds_only_the_swapped_table(spark, tmp_path, snapshots, monkeypatch):
    """Swapping one of geo, ASN, locations or AS names runs exactly the
    builds that include it — geo also re-reads its registry — and the
    next answer shows the new data. Over repeated swaps the live builds,
    registry memos and persisted broadcasts stay flat."""
    geo, locs, asn, names = snapshots
    broadcasts = _Broadcasts(monkeypatch)
    store = rf.SnapshotStore()
    version = iter(range(1000))

    def publish(table, df):
        path = str(tmp_path / f"{table}-{next(version)}")
        df.write.parquet(path)
        store.swap(table, spark.read.parquet(path))

    def request():
        g = store.get("geo")
        req = spark.createDataFrame([("1.0.0.5", D3), ("1.0.8.8", D3)], "ip string, req_date date")
        out = an.annotate(req, g, store.get("locations"), store.get("asn"), store.get("asnames"),
                          date_col="req_date", registry=g.select("dataset_date").distinct())
        return an.to_v2_response_document(out)

    def answer(doc):
        ann = json.loads(doc.collect()[0].response_json)["Annotations"]
        return ann["1.0.0.5"]["geo"], ann["1.0.0.5"]["network"], ann["1.0.8.8"]["network"]

    for table, df in (("geo", geo), ("asn", asn), ("locations", locs), ("asnames", names)):
        publish(table, df)
    answer(request())  # warm-up: every build once

    swaps = {
        "geo": (lambda k: geo.withColumn("postal_code", F.concat("postal_code", F.lit(f"-s{k}"))),
                2, lambda a, k: a[0]["postal_code"] == f"3095-v2-s{k}"),
        "asn": (lambda k: asn.withColumn("cidr", F.concat("cidr", F.lit(f"-s{k}"))),
                1, lambda a, k: a[1]["cidr"] == f"1.0.0.0/24-v2-s{k}"),
        "locations": (lambda k: locs.withColumn("city_name", F.concat("city_name", F.lit(f"-s{k}"))),
                      1, lambda a, k: a[0]["city"] == f"Research-s{k}"),
        "asnames": (lambda k: names.withColumn("as_name", F.concat("as_name", F.lit(f"-s{k}"))),
                    1, lambda a, k: a[2]["as_name"] == f"Beijing Baidu Netcom-s{k}"),
    }
    live = []
    for k in range(5):
        for table, (changed, builds, reflects) in swaps.items():
            publish(table, changed(k))
            gc.collect()
            n, doc = sql_executions(spark, request)
            assert n == builds, (table, k, n)
            assert reflects(answer(doc), k), (table, k, answer(doc))
            n, _ = sql_executions(spark, request)
            assert n == 0, (table, k)
        live.append((len(iv._BUILDS), len(ao._REGISTRIES), len(broadcasts.persisted)))
    assert live[1:] == live[:1] * 4, live


def test_refresh_publishes_leave_no_persisted_rdds(spark, tmp_path, fixture_dir):  # noqa: F811
    """Each refresh publish loads a blocks file; the loads leave no
    persisted RDD behind."""
    locs = geolite2.geolite2_locations(spark, str(fixture_dir / "locations.csv"))
    events, data = tmp_path / "events", tmp_path / "data"
    events.mkdir()
    data.mkdir()
    store = rf.SnapshotStore()
    msg_schema = T.StructType([T.StructField("path", T.StringType())])

    def build(paths):
        blocks = [geolite2.geolite2_blocks(spark, p).withColumn("dataset_date", F.lit(D1))
                  for p in paths]
        union = blocks[0]
        for b in blocks[1:]:
            union = union.unionByName(b)
        return geolite2.build_geo_ranges(union, locs, partition_by=("dataset_date",))

    def persisted() -> int:
        return len(spark.sparkContext._jsc.getPersistentRDDs())

    counts = []
    for k in range(3):
        path = data / f"blocks-{k}.csv"
        path.write_text(BLOCKS_CSV)
        (events / f"m{k}.json").write_text(json.dumps({"path": str(path)}) + "\n")
        stream = spark.readStream.format("json").schema(msg_schema).load(str(events))
        q = rf.start_event_refresh(stream, build, store, "geo", str(tmp_path / "ckpt"),
                                   str(tmp_path / "table"))
        q.awaitTermination(120)
        assert store.version == k + 1
        counts.append(persisted())
    assert counts == counts[:1] * 3, counts
