"""Golden end-to-end JSON parity with the reference handler.

The dataset is the hand-built 2-node annotator of
handler/handler_test.go:49-126 (one v4 node 0.0.0.0–127.255.255.255,
one full-range v6 node, one location) and the golden strings are the
exact response bodies that test pins. Byte equality is asserted
against ``go_annotations_json`` (Go field order + omitempty).

The 223.4.128.0 case also locks the family-routing rule: the full
range v6 node must NOT serve a v4 probe (family_union clips the
v4-mapped /96 out of v6 rows), so the probe misses exactly as the
reference's per-family lists make it miss.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from annotation_service_spark.functions import ip as ipf
from annotation_service_spark.plans import annotate as an
from annotation_service_spark.plans.api import go_annotations_json

GOLDEN_HIT = (
    '{"Geo":{"region":"ME","Subdivision1ISOCode":"ME",'
    '"city":"Not A Real City","postal_code":"10583",'
    '"latitude":42.1,"longitude":-73.1},"Network":{"Missing":true}}'
)
GOLDEN_MISS = '{"Geo":{"Missing":true},"Network":{"Missing":true}}'


def _handler_test_dataset(spark):
    v4 = spark.createDataFrame(
        [
            (
                ipf.py_ip_to_bytes16("0.0.0.0"),
                ipf.py_ip_to_bytes16("127.255.255.255"),
                0, "10583", 42.1, -73.1,
            )
        ],
        "ip_low binary, ip_high binary, gid long, postal_code string,"
        " latitude double, longitude double",
    )
    v6 = spark.createDataFrame(
        [
            (
                bytes(16),
                b"\xff" * 16,
                0, "10583", 42.1, -73.1,
            )
        ],
        "ip_low binary, ip_high binary, gid long, postal_code string,"
        " latitude double, longitude double",
    )
    geo_ranges = an.family_union(v4, v6)
    locations = spark.createDataFrame(
        [(0, "", "", "", "ME", "", "", "", None, "Not A Real City", None)],
        "geoname_id long, continent_code string, country_code string,"
        " country_name string, subdivision_1_iso_code string,"
        " subdivision_1_name string, subdivision_2_iso_code string,"
        " subdivision_2_name string, metro_code long, city_name string,"
        " accuracy_radius_km long",
    )
    asn_ranges = spark.createDataFrame(
        [],
        "ip_low binary, ip_high binary, as_string string, cidr string",
    )
    asnames = spark.createDataFrame([], "asn long, as_name string")
    return geo_ranges, locations, asn_ranges, asnames


def test_handler_golden_responses(spark):
    geo_ranges, locations, asn_ranges, asnames = _handler_test_dataset(spark)
    requests = spark.createDataFrame(
        [("1.4.128.0",), ("223.4.128.0",)], "ip string"
    )
    out = an.annotate(requests, geo_ranges, locations, asn_ranges, asnames)
    got = {
        r.ip: r.j
        for r in out.withColumn(
            "j", go_annotations_json(F.col("geo"), F.col("network"))
        ).collect()
    }
    # handler_test.go case 1: geo hit, ASN miss — byte-identical body
    assert got["1.4.128.0"] == GOLDEN_HIT
    # handler_test.go case 2: v4 probe outside the v4 list misses even
    # though a v6 row covers all 2^128 addresses (family routing)
    assert got["223.4.128.0"] == GOLDEN_MISS


def test_golden_asn_systems_marshalling(spark):
    """ASData marshalling parity for a hit: Systems/ASNs names, CIDR,
    BestASN — api/api.go:101-112 field order with omitempty."""
    geo_ranges, locations, _, _ = _handler_test_dataset(spark)
    asn_ranges = spark.createDataFrame(
        [
            (
                ipf.py_ip_to_bytes16("1.0.0.0"),
                ipf.py_ip_to_bytes16("1.255.255.255"),
                "13335_15169,20940",
                "1.0.0.0/8",
            )
        ],
        "ip_low binary, ip_high binary, as_string string, cidr string",
    )
    asnames = spark.createDataFrame([(13335, "TestNet")], "asn long, as_name string")
    requests = spark.createDataFrame([("1.4.128.0",)], "ip string")
    out = an.annotate(requests, geo_ranges, locations, asn_ranges, asnames)
    j = out.withColumn(
        "j", go_annotations_json(F.col("geo"), F.col("network"))
    ).collect()[0].j
    assert (
        '"Network":{"CIDR":"1.0.0.0/8","ASNumber":13335,"ASName":"TestNet",'
        '"Systems":[{"ASNs":[13335]},{"ASNs":[15169,20940]}]}' in j
    )


def test_family_union_noop_on_disjoint_data(spark):
    """Real GeoLite2 v6 data never covers ::ffff:0:0/96 — the clip
    must pass such rows through untouched."""
    v4 = spark.createDataFrame(
        [(ipf.py_ip_to_bytes16("10.0.0.0"), ipf.py_ip_to_bytes16("10.0.0.255"), "a")],
        "ip_low binary, ip_high binary, p string",
    )
    v6 = spark.createDataFrame(
        [(ipf.py_ip_to_bytes16("2001:db8::"), ipf.py_ip_to_bytes16("2001:db8::ffff"), "b")],
        "ip_low binary, ip_high binary, p string",
    )
    rows = an.family_union(v4, v6).collect()
    assert len(rows) == 2
    assert {r.p for r in rows} == {"a", "b"}
    v6_row = [r for r in rows if r.p == "b"][0]
    assert v6_row.ip_low == ipf.py_ip_to_bytes16("2001:db8::")
    assert v6_row.ip_high == ipf.py_ip_to_bytes16("2001:db8::ffff")


def test_family_union_straddling_v6_clip(spark):
    """A v6 row straddling the v4-mapped /96 (the full-range node of
    handler/handler_test.go:49-126) must clip into pieces that are
    DISJOINT from the /96 — the above-piece low is exactly
    _V4_SPAN_HIGH+1 = 2^48 — and v6 probes on either side of the /96
    must still hit the clipped row while v4 probes hit only v4 rows.

    Regression: _V4_SPAN_ABOVE was 2^32, so the above piece still
    covered the whole /96, violated sorted-disjointness, and shadowed
    every v6 probe above the /96."""
    from annotation_service_spark.operators.interval import range_join_broadcast

    v4 = spark.createDataFrame(
        [(ipf.py_ip_to_bytes16("0.0.0.0"), ipf.py_ip_to_bytes16("255.255.255.255"), "v4")],
        "ip_low binary, ip_high binary, p string",
    )
    v6 = spark.createDataFrame(
        [(bytes(16), b"\xff" * 16, "wide")],
        "ip_low binary, ip_high binary, p string",
    )
    ranges = an.family_union(v4, v6)
    pieces = sorted(
        [(r.ip_low, r.ip_high) for r in ranges.filter("p = 'wide'").collect()]
    )
    assert pieces == [
        (bytes(16), an._V4_SPAN_BELOW),
        (an._V4_SPAN_ABOVE, b"\xff" * 16),
    ]
    assert an._V4_SPAN_ABOVE == b"\x00" * 9 + b"\x01" + b"\x00" * 6  # 2^48
    # disjoint + sorted: no piece may intersect [_V4_SPAN_LOW, _V4_SPAN_HIGH]
    for lo, hi in pieces:
        assert hi < an._V4_SPAN_LOW or lo > an._V4_SPAN_HIGH

    probes = spark.createDataFrame(
        [("::1:0:0",),          # 2^32: below the /96, above old buggy bound
         ("::1:0:0:0",),        # 2^48: first address above the /96
         ("2001:db8::1",),      # ordinary v6 far above the /96
         ("8.8.8.8",)],         # v4: must hit the v4 row, not "wide"
        "ip string",
    )
    got = {
        r.ip: r.p
        for r in range_join_broadcast(
            probes, ranges, probe_col="ip", parse_ips=True, payload=["p"],
        ).collect()
    }
    assert got == {
        "::1:0:0": "wide",
        "::1:0:0:0": "wide",
        "2001:db8::1": "wide",
        "8.8.8.8": "v4",
    }


GOLDEN_V2_DOC = (
    '{"AnnotatorDate":"2018-12-05T00:00:00Z","Annotations":'
    '{"147.1.2.3":{"Geo":{"continent_code":"NA","country_code":"US",'
    '"country_name":"United States","latitude":37.751,"longitude":-97.822},'
    '"Network":{}},"8.8.8.8":{"Geo":{"continent_code":"NA",'
    '"country_code":"US","country_name":"United States","latitude":37.751,'
    '"longitude":-97.822},"Network":{}}}}'
)


def test_v2_document_golden(spark):
    """api/v2/api-v2_test.go:46-164 TestDoRequest golden: the full v2
    response document, byte-identical — RFC3339 AnnotatorDate, sorted
    map keys, omitempty fields, zero-value ASData as {}."""
    from annotation_service_spark.plans.api import go_v2_response_document

    geo = {
        "continent_code": "NA", "country_code": "US", "country_code3": "",
        "country_name": "United States", "region": "",
        "subdivision1_iso_code": "", "subdivision1_name": "",
        "subdivision2_iso_code": "", "subdivision2_name": "",
        "metro_code": 0, "city": "", "area_code": 0, "postal_code": "",
        "latitude": 37.751, "longitude": -97.822, "radius": 0,
        "missing": False,
    }
    net = {
        "ip_prefix": "", "cidr": "", "as_number": None, "as_name": "",
        "missing": False, "systems": None,
    }
    geo_t = (
        "struct<continent_code:string,country_code:string,country_code3:string,"
        "country_name:string,region:string,subdivision1_iso_code:string,"
        "subdivision1_name:string,subdivision2_iso_code:string,"
        "subdivision2_name:string,metro_code:bigint,city:string,"
        "area_code:bigint,postal_code:string,latitude:double,longitude:double,"
        "radius:bigint,missing:boolean>"
    )
    net_t = (
        "struct<ip_prefix:string,cidr:string,as_number:bigint,as_name:string,"
        "missing:boolean,systems:array<struct<asns:array<bigint>>>>"
    )
    # note: map insertion deliberately unsorted — sort_array must fix
    # it; the repeated 8.8.8.8 must collapse to one key
    df = spark.createDataFrame(
        [("8.8.8.8", geo, net), ("147.1.2.3", geo, net), ("8.8.8.8", geo, net)],
        f"ip string, geo {geo_t}, network {net_t}",
    )
    doc = go_v2_response_document(
        df, F.lit("2018-12-05 00:00:00").cast("timestamp")
    ).collect()[0].response_json
    assert doc == GOLDEN_V2_DOC
