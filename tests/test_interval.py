"""Interval algebra truth-table tests.

Every expected list below is copied from the reference's unit tests
(iputils/iputils_test.go) — the semantics contract for T1/T2/J1."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from annotation_service_spark.functions import ip as ipf
from annotation_service_spark.operators import interval as iv


def _mk_ranges(spark, cidr_payloads):
    """(cidr, payload) list → DataFrame with 16-byte bounds + seq (file order)."""
    rows = []
    for i, (cidr, pl) in enumerate(cidr_payloads):
        lo, hi = ipf.py_cidr_to_range(cidr)
        rows.append((i, lo, hi, pl))
    return spark.createDataFrame(
        rows, "seq long, ip_low binary, ip_high binary, payload string"
    )


def _fmt(df):
    out = df.orderBy("ip_low").collect()
    return [
        (ipf.py_bytes16_to_ip(r.ip_low), ipf.py_bytes16_to_ip(r.ip_high), r.payload)
        for r in out
    ]


# iputils_test.go:18-42 — 5 nested/overlapping CIDRs → 7 disjoint ranges
TRUTH_FLATTEN = [
    ("1.0.0.0/24", "custom1"),
    ("1.0.0.2/26", "custom2"),
    ("1.0.10.0/24", "custom3"),
    ("1.0.10.124/30", "custom4"),
    ("2.1.0.0/8", "custom5"),
]
EXPECTED_FLATTEN = [
    ("1.0.0.0", "1.0.0.1", "custom1"),
    ("1.0.0.2", "1.0.0.63", "custom2"),
    ("1.0.0.64", "1.0.0.255", "custom1"),
    ("1.0.10.0", "1.0.10.123", "custom3"),
    ("1.0.10.124", "1.0.10.127", "custom4"),
    ("1.0.10.128", "1.0.10.255", "custom3"),
    ("2.1.0.0", "2.255.255.255", "custom5"),
]


def test_flatten_truth_table(spark):
    df = _mk_ranges(spark, TRUTH_FLATTEN)
    flat = iv.flatten_intervals(df, payload=["payload"], seq="seq")
    assert _fmt(flat) == EXPECTED_FLATTEN


def test_flatten_with_merge_truth_table(spark):
    # iputils_test.go:45-67 — same but custom2→custom1: adjacent-equal merge
    inputs = [(c, "custom1" if p == "custom2" else p) for c, p in TRUTH_FLATTEN]
    df = _mk_ranges(spark, inputs)
    flat = iv.flatten_intervals(df, payload=["payload"], seq="seq")
    assert _fmt(flat) == [
        ("1.0.0.0", "1.0.0.255", "custom1"),
        ("1.0.10.0", "1.0.10.123", "custom3"),
        ("1.0.10.124", "1.0.10.127", "custom4"),
        ("1.0.10.128", "1.0.10.255", "custom3"),
        ("2.1.0.0", "2.255.255.255", "custom5"),
    ]


def test_flatten_no_intersection(spark):
    # iputils_test.go:161-181 — disjoint inputs pass through
    rows = [
        (0, "1.0.0.0", "1.0.1.0", "a"),
        (1, "1.0.1.1", "1.0.1.12", "b"),
        (2, "1.0.1.100", "1.0.1.112", "c"),
    ]
    df = spark.createDataFrame(
        [
            (s, ipf.py_ip_to_bytes16(lo), ipf.py_ip_to_bytes16(hi), p)
            for s, lo, hi, p in rows
        ],
        "seq long, ip_low binary, ip_high binary, payload string",
    )
    flat = iv.flatten_intervals(df, payload=["payload"], seq="seq")
    assert _fmt(flat) == [
        ("1.0.0.0", "1.0.1.0", "a"),
        ("1.0.1.1", "1.0.1.12", "b"),
        ("1.0.1.100", "1.0.1.112", "c"),
    ]


def test_flatten_nested_networks(spark):
    # iputils_test.go:184-212 — parent with two children: remainders re-emerge
    rows = [
        (0, "1.0.0.0", "1.0.1.0", "x"),
        (1, "1.0.1.1", "1.0.1.100", "parent"),
        (2, "1.0.1.10", "1.0.1.20", "c1"),
        (3, "1.0.1.30", "1.0.1.80", "c2"),
        (4, "1.0.2.1", "1.0.2.112", "y"),
    ]
    df = spark.createDataFrame(
        [
            (s, ipf.py_ip_to_bytes16(lo), ipf.py_ip_to_bytes16(hi), p)
            for s, lo, hi, p in rows
        ],
        "seq long, ip_low binary, ip_high binary, payload string",
    )
    flat = iv.flatten_intervals(df, payload=["payload"], seq="seq")
    assert _fmt(flat) == [
        ("1.0.0.0", "1.0.1.0", "x"),
        ("1.0.1.1", "1.0.1.9", "parent"),
        ("1.0.1.10", "1.0.1.20", "c1"),
        ("1.0.1.21", "1.0.1.29", "parent"),
        ("1.0.1.30", "1.0.1.80", "c2"),
        ("1.0.1.81", "1.0.1.100", "parent"),
        ("1.0.2.1", "1.0.2.112", "y"),
    ]


def test_flatten_partial_intersection(spark):
    # iputils_test.go:215-232 — later row wins the overlap, earlier truncated
    rows = [
        (0, "1.0.0.0", "1.0.1.0", "a"),
        (1, "1.0.0.150", "1.0.3.1", "b"),
    ]
    df = spark.createDataFrame(
        [
            (s, ipf.py_ip_to_bytes16(lo), ipf.py_ip_to_bytes16(hi), p)
            for s, lo, hi, p in rows
        ],
        "seq long, ip_low binary, ip_high binary, payload string",
    )
    flat = iv.flatten_intervals(df, payload=["payload"], seq="seq")
    assert _fmt(flat) == [
        ("1.0.0.0", "1.0.0.149", "a"),
        ("1.0.0.150", "1.0.3.1", "b"),
    ]


def test_flatten_sql_matches_numpy(spark):
    """Differential: the pure-SQL formulation (long bounds) must agree
    with the vectorized one — mirrors the reference's binary-vs-linear
    differential pattern (geolite2v2/geo-ip_test.go:123-203)."""
    import random

    rng = random.Random(42)
    rows = []
    for i in range(200):
        lo = rng.randrange(0, 100000)
        hi = lo + rng.randrange(0, 5000)
        rows.append((i, lo, hi, f"p{rng.randrange(6)}"))
    df = spark.createDataFrame(rows, "seq long, low long, high long, payload string")
    a = iv.flatten_intervals(df, low="low", high="high", payload=["payload"], seq="seq")
    b = iv.flatten_intervals_sql(df, low="low", high="high", payload=["payload"], seq="seq")
    la = [(r.low, r.high, r.payload) for r in a.orderBy("low").collect()]
    lb = [(r.low, r.high, r.payload) for r in b.orderBy("low").collect()]
    assert la == lb
    # disjointness + sortedness invariant (T4)
    for (l1, h1, _), (l2, _, _) in zip(la, la[1:]):
        assert l1 <= h1 < l2


def test_merge_adjacent_equal(spark):
    df = spark.createDataFrame(
        [
            (0, 10, "a"),
            (11, 20, "a"),   # adjacent equal -> merge
            (22, 30, "a"),   # gap -> no merge
            (31, 40, "b"),   # adjacent, different payload -> no merge
            (35, 50, "b"),   # overlapping equal -> merge
        ],
        "low long, high long, payload string",
    )
    out = iv.merge_adjacent_equal(df, payload=["payload"])
    got = [(r.low, r.high, r.payload) for r in out.orderBy("low").collect()]
    assert got == [(0, 20, "a"), (22, 30, "a"), (31, 50, "b")]


# --- J1: range join ---------------------------------------------------------

SEARCH_QUERIES = [
    ("1.0.0.1", "custom1"),
    ("1.0.0.60", "custom2"),
    ("1.0.0.67", "custom1"),
    ("1.0.10.123", "custom3"),
    ("1.0.10.124", "custom4"),
    ("1.0.10.200", "custom3"),
    ("2.2.155.43", "custom5"),
    ("192.4.1.123", None),  # not found (iputils_test.go:118-124)
]


def test_range_join_broadcast_binary(spark):
    ranges = iv.flatten_intervals(
        _mk_ranges(spark, TRUTH_FLATTEN), payload=["payload"], seq="seq"
    )
    probes = spark.createDataFrame([(q,) for q, _ in SEARCH_QUERIES], "ip string")
    probes = probes.withColumn("ipb", ipf.ip_to_bytes(F.col("ip")))
    out = iv.range_join_broadcast(probes, ranges, probe_col="ipb", payload=["payload"])
    got = {r.ip: r.payload for r in out.collect()}
    assert got == dict(SEARCH_QUERIES)


def test_range_join_bucketed_matches_broadcast(spark):
    ranges = spark.createDataFrame(
        [(i * 100, i * 100 + 49, f"p{i}") for i in range(50)],
        "low long, high long, payload string",
    )
    probes = spark.createDataFrame(
        [(i * 7 % 5000,) for i in range(300)], "v long"
    )
    a = iv.range_join_broadcast(
        probes, ranges, probe_col="v", low="low", high="high", payload=["payload"]
    )
    b = iv.range_join_bucketed(
        probes, ranges, probe_col="v", low="low", high="high",
        payload=["payload"], bucket_width=128,
    )
    la = sorted((r.v, r.payload) for r in a.collect())
    lb = sorted((r.v, r.payload) for r in b.collect())
    assert la == lb


def _snapshot_fixture(spark):
    """3 dated snapshots of long ranges + probes touching only 2 dates."""
    import datetime as dt

    dates = [dt.date(2020, 1, 1), dt.date(2020, 7, 1), dt.date(2021, 1, 1)]
    rows = [
        (d, i * 100, i * 100 + 99, f"{d.isoformat()}:p{i}")
        for d in dates
        for i in range(20)
    ]
    ranges = spark.createDataFrame(
        rows, "dataset_date date, low long, high long, payload string"
    )
    probes = spark.createDataFrame(
        [(i, i * 37 % 2000, dates[i % 2]) for i in range(100)],
        "pid long, v long, dataset_date date",
    )
    return dates, ranges, probes


def test_range_join_broadcast_prunes_unreferenced_snapshots(spark):
    """VERDICT r1 #3: the broadcast must hold only the snapshots the
    probe set references — not every snapshot in the build table."""
    dates, ranges, probes = _snapshot_fixture(spark)
    pruned = iv._pruned_ranges(probes, ranges, ["dataset_date"])
    got_dates = {r.dataset_date for r in pruned.select("dataset_date").distinct().collect()}
    assert got_dates == {dates[0], dates[1]}  # 2021 snapshot never collected

    out = iv.range_join_broadcast(
        probes, ranges, probe_col="v", low="low", high="high",
        payload=["payload"], keys=["dataset_date"],
    )
    for r in out.collect():
        assert r.payload == f"{r.dataset_date.isoformat()}:p{r.v // 100}"


def test_range_join_broadcast_size_gate_falls_back_to_bucketed(spark, monkeypatch):
    """Past the gate a long-bound table raises with an error naming
    ``range_join_bucketed``; that shuffle join answers exactly like
    the memoized broadcast under the gate."""
    dates, ranges, probes = _snapshot_fixture(spark)
    kw = dict(probe_col="v", low="low", high="high", payload=["payload"], keys=["dataset_date"])
    a = iv.range_join_broadcast(probes, ranges, **kw)
    b = iv.range_join_bucketed(probes, ranges, **kw)
    la = sorted((r.pid, r.payload) for r in a.collect())
    lb = sorted((r.pid, r.payload) for r in b.collect())
    assert la == lb
    monkeypatch.setattr(iv, "MAX_BROADCAST_BYTES", 1)
    with pytest.raises(ValueError, match="range_join_bucketed"):
        iv.range_join_broadcast(probes, ranges, **kw)


def test_range_join_broadcast_size_gate_raises_for_binary(spark, monkeypatch):
    ranges = iv.flatten_intervals(
        _mk_ranges(spark, TRUTH_FLATTEN), payload=["payload"], seq="seq"
    )
    probes = spark.createDataFrame([("1.0.0.5",)], "ip string")
    probes = probes.withColumn("ipb", ipf.ip_to_bytes(F.col("ip")))
    monkeypatch.setattr(iv, "MAX_BROADCAST_BYTES", 1)
    with pytest.raises(ValueError, match="range_join_bucketed"):
        iv.range_join_broadcast(probes, ranges, probe_col="ipb", payload=["payload"])


# --- J1 build once per published table --------------------------------------

MEMO_KW = dict(
    probe_col="v", low="low", high="high", payload=["payload"], keys=["dataset_date"]
)


def _published(spark, tmp_path, df, name):
    """``df`` written and read back as parquet, the way a refresh
    publishes a snapshot table: the file scan gives Catalyst a real
    size estimate, so the build-once path applies."""
    path = str(tmp_path / name)
    df.write.parquet(path)
    return spark.read.parquet(path)


def sql_executions(spark, calls):
    """(number of SQL executions started while ``calls()`` ran, its
    result). Counts by execution id, so it holds after the status
    store starts evicting old executions."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()

    def newest() -> int:
        bus.waitUntilEmpty()
        n = store.executionsCount()
        return int(store.executionsList(n - 1, 1).head().executionId()) if n else -1

    before = newest()
    out = calls()
    return newest() - before, out


def _payloads(out):
    return sorted((r.pid, r.payload) for r in out.collect())


def _expected(probes, suffix=""):
    return sorted(
        (r.pid, f"{r.dataset_date.isoformat()}:p{r.v // 100}{suffix}")
        for r in probes.collect()
    )


def test_range_join_broadcast_builds_once_per_table(spark, tmp_path):
    dates, ranges, probes = _snapshot_fixture(spark)
    ranges = _published(spark, tmp_path, ranges, "v1")
    n, outs = sql_executions(
        spark, lambda: [iv.range_join_broadcast(probes, ranges, **MEMO_KW) for _ in range(3)]
    )
    assert n == 1  # the one build; the later calls reuse it
    for out in outs:
        assert _payloads(out) == _expected(probes)

    # a newly published table (changed payloads) is a new build
    fresh = _published(
        spark, tmp_path, ranges.withColumn("payload", F.concat("payload", F.lit("-v2"))), "v2"
    )
    n, out = sql_executions(spark, lambda: iv.range_join_broadcast(probes, fresh, **MEMO_KW))
    assert n == 1
    assert _payloads(out) == _expected(probes, "-v2")


def test_range_join_broadcast_build_dies_with_table(spark, tmp_path):
    import gc
    import weakref

    dates, ranges, probes = _snapshot_fixture(spark)
    ranges = _published(spark, tmp_path, ranges, "v1")
    out = iv.range_join_broadcast(probes, ranges, **MEMO_KW)
    assert ranges in iv._BUILDS
    entries, alive = len(iv._BUILDS), weakref.ref(ranges)
    del ranges
    gc.collect()
    assert alive() is None
    assert len(iv._BUILDS) == entries - 1
    assert iv._RELEASED
    # the next build unpersists the dead table's broadcast; a plan made
    # from it still answers (executors re-fetch from the driver)
    other = _published(spark, tmp_path, _snapshot_fixture(spark)[1], "other")
    iv.range_join_broadcast(probes, other, **MEMO_KW)
    assert not iv._RELEASED
    assert _payloads(out) == _expected(probes)


def test_range_join_broadcast_concurrent_misses_build_once(spark, tmp_path):
    """More client threads than cores miss together on two cold
    tables: each table is built exactly once, and every caller of one
    table gets the same answer."""
    import sys
    import threading

    dates, ranges, probes = _snapshot_fixture(spark)
    tables = [
        _published(spark, tmp_path, ranges, "v1"),
        _published(spark, tmp_path, ranges.withColumn(
            "payload", F.concat("payload", F.lit("-v2"))), "v2"),
    ]
    n_threads = 8
    barrier = threading.Barrier(n_threads)
    outs = [None] * n_threads

    def call(i):
        barrier.wait(timeout=60)
        outs[i] = iv.range_join_broadcast(probes, tables[i % 2], **MEMO_KW)

    def run_all():
        threads = [threading.Thread(target=call, args=(i,)) for i in range(n_threads)]
        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=300)
        finally:
            sys.setswitchinterval(interval)
        assert not any(t.is_alive() for t in threads)

    n, _ = sql_executions(spark, run_all)
    assert n == 2  # one build per table
    for i, out in enumerate(outs):
        assert _payloads(out) == _expected(probes, "-v2" if i % 2 else "")


def test_range_join_broadcast_memo_matches_pruned_path(spark, tmp_path, monkeypatch):
    """Past the size gate each call prunes to the snapshots its probes
    reference; under it the whole table is built once. Same answer."""
    dates, ranges, probes = _snapshot_fixture(spark)
    # a third snapshot, heavier than the other two and never probed
    unreferenced = spark.createDataFrame(
        [(dates[2], i * 100, i * 100 + 99, f"x{i}") for i in range(20, 2000)],
        ranges.schema,
    )
    ranges = _published(spark, tmp_path, ranges.unionByName(unreferenced), "v1")
    # the whole table no longer fits
    monkeypatch.setattr(iv, "MAX_BROADCAST_BYTES", iv._estimated_bytes(ranges) - 1)
    pruned = iv.range_join_broadcast(probes, ranges, **MEMO_KW)
    assert ranges not in iv._BUILDS
    assert "MapInPandas" in pruned._jdf.queryExecution().executedPlan().toString()
    monkeypatch.undo()
    memo = iv.range_join_broadcast(probes, ranges, **MEMO_KW)
    assert ranges in iv._BUILDS
    assert _payloads(memo) == _payloads(pruned) == _expected(probes)


# --- J1 several tables in one probe ------------------------------------------


def _ip_tables(spark):
    """Two dated binary range tables for parsed-text probes: ``a`` has
    snapshots d1 and d2 (v4 and v6 ranges), ``b`` only d1."""
    import datetime as dt

    d1, d2 = dt.date(2020, 1, 1), dt.date(2021, 1, 1)

    def rows(d, spans, tag):
        out = []
        for cidr, pl in spans:
            lo, hi = ipf.py_cidr_to_range(cidr)
            out.append((d, lo, hi, f"{tag}{d.year}:{pl}"))
        return out

    a_spans = [("1.0.0.0/24", "au"), ("8.8.8.0/24", "us"), ("2001:db8::/32", "doc")]
    b_spans = [("1.0.0.0/16", "as1"), ("2001:db8::/48", "as2")]
    schema = "dataset_date date, ip_low binary, ip_high binary, {} string"
    a = spark.createDataFrame(
        rows(d1, a_spans, "a") + rows(d2, a_spans, "a"), schema.format("geo")
    )
    b = spark.createDataFrame(rows(d1, b_spans, "b"), schema.format("net"))
    probes = spark.createDataFrame(
        [
            (i, ip, d)
            for d in (d1, d2)
            for i, ip in enumerate(
                [
                    "1.0.0.5",             # v4, in both tables
                    "1.0.9.9",             # v4, only b
                    "8.8.8.8",             # v4, only a
                    "2001:db8::1",         # v6, in both
                    "2001:db8:1::1",       # v6, only a
                    "2002:0100:0005::1",   # 6to4 of 1.0.0.5
                    " 1.0.0.5",            # whitespace: parses like the UDF
                    "junk",                # invalid text
                    None,
                    "9.9.9.9",             # miss
                ],
                start=100 * d.year,
            )
        ],
        "pid long, ip string, dataset_date date",
    )
    return a, b, probes


def _rows(df):
    return sorted(
        (tuple(r) for r in df.collect()), key=lambda t: tuple(str(v) for v in t)
    )


def test_range_join_broadcast_several_tables_equals_composition(spark):
    """One multi-table call answers exactly like two chained single-table
    calls: v4, v6, 6to4, invalid text, and a key group (d2) that only
    one table has."""
    a, b, probes = _ip_tables(spark)
    kw = dict(probe_col="ip", keys=["dataset_date"], parse_ips=True)
    multi = iv.range_join_broadcast(probes, [(a, ["geo"]), (b, ["net"])], **kw)
    chained = iv.range_join_broadcast(
        iv.range_join_broadcast(probes, a, payload=["geo"], **kw), b, payload=["net"], **kw
    )
    assert multi.columns == ["pid", "ip", "dataset_date", "geo", "net"]
    assert _rows(multi) == _rows(chained)
    got = {(r.dataset_date.year, r.ip): (r.geo, r.net) for r in multi.collect()}
    assert got[(2020, "1.0.0.5")] == ("a2020:au", "b2020:as1")
    assert got[(2020, "2002:0100:0005::1")] == ("a2020:au", "b2020:as1")
    assert got[(2020, " 1.0.0.5")] == ("a2020:au", "b2020:as1")
    assert got[(2020, "2001:db8:1::1")] == ("a2020:doc", None)
    assert got[(2021, "1.0.0.5")] == ("a2021:au", None)  # b has no d2
    assert got[(2021, "junk")] == got[(2021, None)] == (None, None)


def test_range_join_broadcast_several_tables_reuse_single_builds(spark, tmp_path):
    """The multi-table call shares each table's memoized build with the
    single-table calls: after one call per table it runs no Spark job,
    and publishing a new second table rebuilds only that one."""
    dates, ranges, probes = _snapshot_fixture(spark)
    geo = _published(spark, tmp_path, ranges, "geo")
    asn = _published(spark, tmp_path, ranges.withColumnRenamed("payload", "net"), "asn")
    kw = dict(probe_col="v", low="low", high="high", keys=["dataset_date"])
    iv.range_join_broadcast(probes, geo, payload=["payload"], **kw)
    iv.range_join_broadcast(probes, asn, payload=["net"], **kw)

    n, out = sql_executions(
        spark, lambda: iv.range_join_broadcast(probes, [(geo, ["payload"]), (asn, ["net"])], **kw)
    )
    assert n == 0
    assert sorted((r.pid, r.payload, r.net) for r in out.collect()) == [
        (pid, p, p) for pid, p in _expected(probes)
    ]

    asn2 = _published(
        spark, tmp_path, ranges.select("dataset_date", "low", "high",
                                       F.concat("payload", F.lit("-v2")).alias("net")), "asn2"
    )
    n, out = sql_executions(
        spark, lambda: iv.range_join_broadcast(probes, [(geo, ["payload"]), (asn2, ["net"])], **kw)
    )
    assert n == 1  # the new ASN table's build; geo is reused
    assert sorted((r.pid, r.payload, r.net) for r in out.collect()) == [
        (pid, p, p + "-v2") for pid, p in _expected(probes)
    ]


def test_range_join_broadcast_several_tables_past_gate_raises(spark, monkeypatch):
    """A table past the gate raises inside a multi-table call too."""
    dates, ranges, probes = _snapshot_fixture(spark)
    kw = dict(probe_col="v", low="low", high="high", keys=["dataset_date"])
    monkeypatch.setattr(iv, "MAX_BROADCAST_BYTES", 1)
    with pytest.raises(ValueError, match="range_join_bucketed"):
        iv.range_join_broadcast(
            probes, [(ranges, ["payload"]), (ranges.withColumnRenamed("payload", "p2"), ["p2"])], **kw
        )


# ---------------------------------------------------------------------------
# General interval×interval overlap join (grid-cell blocked)
# ---------------------------------------------------------------------------


def _brute_overlaps(left, right):
    return sorted(
        (l + r)
        for l in left
        for r in right
        if l[1] <= r[2] and r[1] <= l[2]
    )


def test_overlap_join_matches_brute_force(spark):
    # intervals chosen to exercise: spans of 1..4 cells, exact cell
    # alignment, zero-length intervals, touching endpoints, and pairs
    # sharing SEVERAL cells (the exactly-once condition's target)
    left = [
        (1, 0, 250),      # spans 3 cells at width 100
        (2, 99, 100),     # straddles a cell edge
        (3, 400, 400),    # zero-length
        (4, 150, 460),    # overlaps several rights across 4 cells
    ]
    right = [
        (10, 50, 120),
        (11, 100, 199),
        (12, 250, 250),   # touches left-1's end exactly
        (13, 390, 410),
        (14, 500, 600),   # overlaps nothing
    ]
    ldf = spark.createDataFrame(left, "lid long, ls long, le long")
    rdf = spark.createDataFrame(right, "rid long, rs long, re long")
    out = iv.interval_overlap_join(ldf, rdf, "ls", "le", "rs", "re", cell_width=100)
    got = sorted(tuple(r) for r in out.collect())
    assert got == _brute_overlaps(left, right)
    # exactly-once: no pair emitted twice even when they share cells
    assert len(got) == len(set((g[0], g[3]) for g in got))


def test_overlap_join_with_keys(spark):
    """An equality key is the caller's filter on the overlap pairs."""
    left = [(1, "u", 0, 100), (2, "v", 0, 100)]
    right = [(10, "u", 50, 60), (11, "v", 50, 60), (12, "w", 50, 60)]
    ldf = spark.createDataFrame(left, "lid long, lk string, ls long, le long")
    rdf = spark.createDataFrame(right, "rid long, rk string, rs long, re long")
    out = iv.interval_overlap_join(ldf, rdf, "ls", "le", "rs", "re", cell_width=100)
    pairs = sorted((r.lid, r.rid) for r in out.where(F.col("lk") == F.col("rk")).collect())
    assert pairs == [(1, 10), (2, 11)]
