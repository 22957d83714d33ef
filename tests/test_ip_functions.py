"""IP expression library tests.

Truth values derived from the reference's unit tests
(iputils/iputils_test.go:235-265 ±1/ordering, :376-423 CIDR
round-trip; handler tests for 6to4)."""

from __future__ import annotations

import ipaddress

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from annotation_service_spark.functions import ip as ipf


def test_py_parse_v4_mapped():
    b = ipf.py_ip_to_bytes16("1.2.3.4")
    assert len(b) == 16
    assert b[:12] == ipf.V4_MAPPED_PREFIX
    assert b[12:] == bytes([1, 2, 3, 4])
    assert ipf.py_bytes16_to_ip(b) == "1.2.3.4"


def test_py_parse_v6_and_invalid():
    b = ipf.py_ip_to_bytes16("2001:db8::1")
    assert len(b) == 16 and b[:2] == bytes([0x20, 0x01])
    assert ipf.py_ip_to_bytes16("not-an-ip") is None
    assert ipf.py_ip_to_bytes16("") is None
    assert ipf.py_ip_to_bytes16(None) is None
    assert ipf.py_bytes16_to_ip(b) == "2001:db8::1"


def test_py_plus_minus_one():
    # iputils_test.go:235-265 semantics: byte-carry inc/dec
    b = ipf.py_ip_to_bytes16("1.0.0.255")
    assert ipf.py_bytes16_to_ip(ipf.py_plus_one(b)) == "1.0.1.0"
    b2 = ipf.py_ip_to_bytes16("1.0.1.0")
    assert ipf.py_bytes16_to_ip(ipf.py_minus_one(b2)) == "1.0.0.255"
    assert ipf.py_bytes16_to_ip(ipf.py_plus_one(ipf.py_ip_to_bytes16("0.255.255.255"))) == "1.0.0.0"


def test_py_cidr_range_and_roundtrip():
    # rangeCIDR truth table (iputils_test.go:130-157): low bound is the
    # LITERAL address, not the masked network base.
    cases = {
        "192.0.2.1/24": ("192.0.2.1", "192.0.2.255"),
        "192.0.2.1/8": ("192.0.2.1", "192.255.255.255"),
        "192.0.2.1/32": ("192.0.2.1", "192.0.2.1"),
        "192.0.2.1/5": ("192.0.2.1", "199.255.255.255"),
        "1.0.0.2/26": ("1.0.0.2", "1.0.0.63"),
    }
    for cidr, (elo, ehi) in cases.items():
        lo, hi = ipf.py_cidr_to_range(cidr)
        assert (ipf.py_bytes16_to_ip(lo), ipf.py_bytes16_to_ip(hi)) == (elo, ehi), cidr
    lo, hi = ipf.py_cidr_to_range("1.0.0.0/24")
    assert ipf.py_range_to_cidr(lo, hi) == "1.0.0.0/24"
    lo6, hi6 = ipf.py_cidr_to_range("2001:5::/32")
    assert ipf.py_bytes16_to_ip(lo6) == "2001:5::"
    assert ipf.py_range_to_cidr(lo6, hi6) == "2001:5::/32"
    # invalid inputs (Go ParseCIDR requires the slash)
    assert ipf.py_cidr_to_range("garbage/99") is None
    assert ipf.py_cidr_to_range("1.2.3.4") is None


def test_ordering_matches_reference(spark):
    """Byte-wise BinaryType ordering == Go bytes.Compare ordering
    (iputils/iputils.go:341-343)."""
    ips = ["0.0.0.1", "1.0.0.0", "1.0.0.255", "1.0.1.0", "9.255.0.1", "255.0.0.0"]
    df = spark.createDataFrame([(s,) for s in ips], "ip string")
    out = (
        df.select(ipf.ip_to_bytes(F.col("ip")).alias("b"))
        .orderBy("b")
        .select(ipf.bytes_to_ip(F.col("b")).alias("ip"))
        .collect()
    )
    assert [r.ip for r in out] == ips


def test_spark_parse_and_family(spark):
    rows = [("1.2.3.4",), ("2001:db8::1",), ("junk",), ("",)]
    df = spark.createDataFrame(rows, "ip string")
    out = df.select(
        "ip",
        ipf.ip_to_bytes(F.col("ip")).alias("b"),
    ).withColumn("v4", ipf.is_v4(F.col("b"))).collect()
    m = {r.ip: r for r in out}
    assert m["1.2.3.4"].v4 is True
    assert m["2001:db8::1"].v4 is False
    assert m["junk"].b is None
    assert m[""].b is None


def test_6to4_rewrite(spark):
    """handler/handler.go:179-190: 2002:xxyy:zzww:: → xx.yy.zz.ww."""
    addr6to4 = str(ipaddress.ip_address("2002:0102:0304::1"))
    rows = [(addr6to4,), ("2001:db8::1",), ("5.6.7.8",)]
    df = spark.createDataFrame(rows, "ip string")
    out = (
        df.select("ip", ipf.ip_to_bytes(F.col("ip")).alias("b"))
        .withColumn("eff", ipf.ip6to4(F.col("b")))
        .select("ip", ipf.bytes_to_ip(F.col("eff")).alias("eff_ip"))
        .collect()
    )
    m = {r.ip: r.eff_ip for r in out}
    assert m[addr6to4] == "1.2.3.4"
    assert m["2001:db8::1"] == "2001:db8::1"
    assert m["5.6.7.8"] == "5.6.7.8"


def test_cidr_to_range_spark(spark):
    df = spark.createDataFrame([("1.0.0.0/24",), ("2001:5::/32",), ("bad",)], "cidr string")
    out = (
        df.withColumn("r", ipf.cidr_to_range(F.col("cidr")))
        .select(
            "cidr",
            ipf.bytes_to_ip(F.col("r.ip_low")).alias("lo"),
            ipf.bytes_to_ip(F.col("r.ip_high")).alias("hi"),
            ipf.range_to_cidr(F.col("r.ip_low"), F.col("r.ip_high")).alias("rt"),
        )
        .collect()
    )
    m = {r.cidr: r for r in out}
    assert (m["1.0.0.0/24"].lo, m["1.0.0.0/24"].hi) == ("1.0.0.0", "1.0.0.255")
    assert m["1.0.0.0/24"].rt == "1.0.0.0/24"
    assert m["2001:5::/32"].rt == "2001:5::/32"
    assert m["bad"].lo is None


def test_v4_long_math(spark):
    df = spark.createDataFrame([("1.2.3.4",), ("255.255.255.255",)], "ip string")
    out = df.select(
        "ip",
        ipf.bytes16_to_v4_long(ipf.ip_to_bytes(F.col("ip"))).alias("v"),
    ).withColumn("back", ipf.long_to_ipv4(F.col("v"))).collect()
    m = {r.ip: r for r in out}
    assert m["1.2.3.4"].v == 16909060
    assert m["1.2.3.4"].back == "1.2.3.4"
    assert m["255.255.255.255"].v == 4294967295
    # v6 bytes have no v4 long
    out2 = (
        spark.createDataFrame([("9.8.7.6",), ("2001:db8::1",)], "ip string")
        .select("ip", ipf.bytes16_to_v4_long(ipf.ip_to_bytes(F.col("ip"))).alias("v"))
        .collect()
    )
    m2 = {r.ip: r.v for r in out2}
    assert m2["9.8.7.6"] == 9 * 16777216 + 8 * 65536 + 7 * 256 + 6
    assert m2["2001:db8::1"] is None


def test_asn_decode(spark):
    """asn/asn-annotator.go:63-81 + asn_test.go:73-189 cases:
    single AS, AS set (comma), multi-origin (underscore)."""
    rows = [("14061",), ("367,1479",), ("55967_38365,64512",)]
    df = spark.createDataFrame(rows, "s string")
    out = df.select(
        "s",
        ipf.asn_decode(F.col("s")).alias("systems"),
    ).withColumn("best", ipf.best_asn(F.col("systems"))).collect()
    m = {r.s: r for r in out}
    assert [list(sys.asns) for sys in m["14061"].systems] == [[14061]]
    assert [list(sys.asns) for sys in m["367,1479"].systems] == [[367, 1479]]
    assert [list(sys.asns) for sys in m["55967_38365,64512"].systems] == [[55967], [38365, 64512]]
    assert m["55967_38365,64512"].best == 55967
    assert m["367,1479"].best == 367


def test_site_network_key(spark):
    """site/site.go:130-139: /26 v4 key, /64 v6 prefix."""
    df = spark.createDataFrame([("5.6.7.77",)], "ip string")
    out = df.select(
        ipf.site_network_key_v4(
            ipf.bytes16_to_v4_long(ipf.ip_to_bytes(F.col("ip")))
        ).alias("k")
    ).collect()[0]
    assert out.k == "5.6.7.64/26"
    df6 = spark.createDataFrame([("2001:db8:aa:bb:cc::1",)], "ip string")
    out6 = (
        df6.select(ipf.ip_to_bytes(F.col("ip")).alias("b"))
        .select(ipf.bytes_to_ip(ipf.site_network_key_v6(F.col("b"))).alias("p"))
        .collect()[0]
    )
    assert out6.p == "2001:db8:aa:bb::"


def test_base36_key(spark):
    """handler/handler.go:169-170: Go strconv.FormatInt(ts, 36)."""
    df = spark.createDataFrame([("1.2.3.4", 1234567890)], "ip string, ts long")
    out = df.select(ipf.base36_key(F.col("ip"), F.col("ts")).alias("k")).collect()[0]
    # python: base36(1234567890) == 'kf12oi'
    assert out.k == "1.2.3.4kf12oi"


def _reference_cidr_fixture(name):
    import csv as _csv
    import os as _os

    path = f"/root/reference/iputils/testdata/{name}"
    if not _os.path.exists(path):
        import pytest as _pytest

        _pytest.skip("reference fixtures unavailable")
    with open(path) as f:
        return [f"{row[0]}/{row[1]}" for row in _csv.reader(f, delimiter="\t")]


def test_cidr_roundtrip_reference_fixture_v4():
    """iputils_test.go:376-398: every fixture CIDR → range → CIDR is
    identity (100 real RouteViews IPv4 prefixes)."""
    for cidr in _reference_cidr_fixture("ipv4-cidr.csv"):
        lo, hi = ipf.py_cidr_to_range(cidr)
        assert ipf.py_range_to_cidr(lo, hi) == cidr, cidr


def test_cidr_roundtrip_reference_fixture_v6():
    """iputils_test.go:400-423: same round-trip over IPv6 prefixes."""
    for cidr in _reference_cidr_fixture("ipv6-cidr.csv"):
        lo, hi = ipf.py_cidr_to_range(cidr)
        assert ipf.py_range_to_cidr(lo, hi) == cidr, cidr


# ---------------------------------------------------------------------------
# One parser: the range-join kernel's parse (P3 + P4) against the UDF's
# ---------------------------------------------------------------------------

ADVERSARIAL_IP_TEXT = [
    " 1.2.3.4", "1.2.3.4 ", "1.2.3.4\n", "\t::1", " 1.2.3.4",
    "01.2.3.4", "1.2.3.04", "::ffff:1.2.3.04", "1.2.3", "1.2.3.4.5",
    "0x1.2.3.4", "256.1.1.1", "1..2.3",
    "fe80::1%eth0", "fe80::1%", "1.2.3.4%eth0",
    "::ffff:1.2.3.4", "::1.2.3.4", "1:2:3:4:5:6:1.2.3.4",
    "2002:0100:0005::1", "2002:c000:0204::", " 2002:0100:0005::1 ",
    "::", "0.0.0.0", "255.255.255.255", "00001::", "ABCD::", "1::2::3",
    "1:2:3:4:5:6:7::", "::1:2:3:4:5:6:7", "1:2:3:4:5:6:7:8:9",
    "1.2.3.4/32", "[::1]", "1.2.3.4\x00", "\x00", "１.2.3.4",
    "", None,
]


def _ipaddress_reference(text):
    """The reference accept set: ``ipaddress`` on the stripped text."""
    if not text:
        return None
    try:
        addr = ipaddress.ip_address(text.strip())
    except ValueError:
        return None
    return ipf.V4_MAPPED_PREFIX + addr.packed if addr.version == 4 else addr.packed


_ip_like = st.one_of(
    st.ip_addresses().map(str),
    st.ip_addresses(v=6).map(lambda a: a.exploded),
    st.ip_addresses(v=4).map(lambda a: f"2002:{a.packed.hex()[:4]}:{a.packed.hex()[4:]}::1"),
    st.tuples(st.ip_addresses(), st.sampled_from([" ", "\t", "\n", "%eth0", "0", ":", "."]))
    .map(lambda t: str(t[0]) + t[1]),
    st.text(alphabet="0123456789abcdefABCDEF:.%x \t", max_size=24),
    st.text(max_size=12),
)


@settings(max_examples=600, deadline=None)
@given(_ip_like)
def test_py_parse_matches_ipaddress_reference(text):
    """The ``inet_pton`` fast path never changes an answer: the shared
    parser accepts exactly what ``ipaddress.ip_address(text.strip())``
    accepts, with the same bytes."""
    assert ipf.py_ip_to_bytes16(text) == _ipaddress_reference(text)


def test_py_parse_adversarial_list():
    for text in ADVERSARIAL_IP_TEXT:
        assert ipf.py_ip_to_bytes16(text) == _ipaddress_reference(text), repr(text)


def _kernel_vs_udf(spark, texts):
    """For each text: the payload the parse_ips range-join kernel finds,
    and the payload the UDF path (``ip_to_bytes`` + ``ip6to4``) says it
    must find. The build table tiles the whole address space: one point
    range per address the UDF path produced, "gap" ranges between them,
    so a kernel parse that differs in any way lands on another payload."""
    from annotation_service_spark.operators import interval as iv

    df = spark.createDataFrame(list(enumerate(texts)), "i long, t string")
    want = {
        r.i: r.b
        for r in df.select("i", ipf.ip6to4(ipf.ip_to_bytes(F.col("t"))).alias("b")).collect()
    }
    points = sorted({b for b in want.values() if b is not None})
    lo, rows = bytes(16), []
    for p in points:
        if p > lo:
            rows.append((lo, ipf.py_minus_one(p), "gap"))
        rows.append((p, p, p.hex()))
        lo = ipf.py_plus_one(p)
    if not points or points[-1] != b"\xff" * 16:
        rows.append((lo, b"\xff" * 16, "gap"))
    ranges = spark.createDataFrame(rows, "ip_low binary, ip_high binary, hx string")
    got = iv.range_join_broadcast(df, ranges, probe_col="t", payload=["hx"], parse_ips=True)
    return (
        {r.i: r.hx for r in got.collect()},
        {i: (b.hex() if b is not None else None) for i, b in want.items()},
    )


@settings(max_examples=8, deadline=None)
@given(st.lists(_ip_like, min_size=1, max_size=40))
def test_kernel_parse_matches_udf_parse(spark, texts):
    """Differential: ``range_join_broadcast(parse_ips=True)``'s in-kernel
    parse + 6to4 equals ``ip6to4(ip_to_bytes(text))`` on hypothesis
    text plus a fixed adversarial list (whitespace, leading zeros,
    short and hex v4, zone-scoped v6, v4-mapped, 6to4, empty, NULL)."""
    got, want = _kernel_vs_udf(spark, texts + ADVERSARIAL_IP_TEXT)
    assert got == want
