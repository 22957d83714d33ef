"""Source-reader tests with synthetic fixtures (schemas per FIXTURES.md,
which documents the reference's loader inputs)."""

from __future__ import annotations

import textwrap
import zipfile

import pytest
from pyspark.sql import functions as F

from annotation_service_spark.sources import dims, geolite2, registry, routeviews, siteinfo, zipcsv

BLOCKS_CSV = textwrap.dedent(
    """\
    network,geoname_id,registered_country_geoname_id,represented_country_geoname_id,is_anonymous_proxy,is_satellite_provider,postal_code,latitude,longitude,accuracy_radius
    1.0.0.0/24,2151718,2077456,,0,0,3095,-37.7000,145.1833,1000
    1.0.1.0/24,1810821,1814991,,0,0,,26.0614,119.3061,50
    1.0.2.0/24,,1814991,,0,0,,26.0614,119.3061,50
    1.0.3.0/24,999,888,,0,0,,1.0,2.0,10
    """
)

LOCATIONS_CSV = textwrap.dedent(
    """\
    geoname_id,locale_code,continent_code,continent_name,country_iso_code,country_name,subdivision_1_iso_code,subdivision_1_name,subdivision_2_iso_code,subdivision_2_name,city_name,metro_code,time_zone
    2151718,en,OC,Oceania,AU,Australia,VIC,Victoria,,,Research,,Australia/Melbourne
    1810821,en,AS,Asia,CN,China,FJ,Fujian,,,Fuzhou,,Asia/Shanghai
    1814991,en,AS,Asia,CN,China,,,,,,,Asia/Shanghai
    """
)

PFX2AS_TSV = "1.0.0.0\t24\t13335\n1.0.4.0\t22\t38803\n2001:200::\t32\t2500\n1.0.8.0\t24\t55967_38365,64512\n"

ASNAMES_CSV = 'asn,name,country,registry\nAS13335,"Cloudflare, Inc.",US,arin\nAS38803,Wirefreebroadband Pty Ltd,AU,apnic\nAS55967,Beijing Baidu Netcom,CN,apnic\n'

SITEINFO_JSON = """[
  {"Name": "abc01",
   "Network": {"IPv4": "5.6.7.64/26", "IPv6": "2001:db8:aa:bb::/64"},
   "Annotation": {"Site": "abc01", "Machine": "mlab1",
     "Geo": {"City": "Paris", "ContinentCode": "EU", "CountryCode": "FR",
             "Latitude": 48.8, "Longitude": 2.3, "State": ""},
     "Network": {"ASName": "Example AS", "ASNumber": 64496,
                 "Systems": [{"ASNs": [64496]}]}}},
  {"Name": "bad01",
   "Network": {"IPv4": "", "IPv6": "2001:db8::/64"},
   "Annotation": {"Site": "bad01", "Machine": "",
     "Geo": {"City": "", "ContinentCode": "", "CountryCode": "",
             "Latitude": 0.0, "Longitude": 0.0, "State": ""},
     "Network": {"ASName": "", "ASNumber": 0, "Systems": []}}},
  {"Name": "bad02",
   "Network": {"IPv4": "not-a-cidr/xx", "IPv6": ""},
   "Annotation": {"Site": "bad02", "Machine": "",
     "Geo": {"City": "", "ContinentCode": "", "CountryCode": "",
             "Latitude": 0.0, "Longitude": 0.0, "State": ""},
     "Network": {"ASName": "", "ASNumber": 0, "Systems": []}}}
]"""


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("fixtures")
    (d / "blocks.csv").write_text(BLOCKS_CSV)
    (d / "locations.csv").write_text(LOCATIONS_CSV)
    (d / "pfx2as.tsv").write_text(PFX2AS_TSV)
    (d / "asnames.csv").write_text(ASNAMES_CSV)
    (d / "siteinfo.json").write_text(SITEINFO_JSON)
    with zipfile.ZipFile(d / "20170907T023620Z-GeoLite2-City-CSV.zip", "w") as zf:
        zf.writestr("GeoLite2-City-CSV_20170907/GeoLite2-City-Blocks-IPv4.csv", BLOCKS_CSV)
        zf.writestr("GeoLite2-City-CSV_20170907/GeoLite2-City-Locations-en.csv", LOCATIONS_CSV)
    return d


def test_blocks_reader(spark, fixture_dir):
    df = geolite2.geolite2_blocks(spark, str(fixture_dir / "blocks.csv"))
    rows = {r.network: r for r in df.collect()}
    assert len(rows) == 4
    assert rows["1.0.0.0/24"].geoname_id == 2151718
    assert rows["1.0.0.0/24"].latitude == -37.7
    assert rows["1.0.1.0/24"].postal_code == ""
    assert rows["1.0.2.0/24"].geoname_id is None  # empty FK stays NULL


def test_locations_reader_13_cols(spark, fixture_dir):
    df = geolite2.geolite2_locations(spark, str(fixture_dir / "locations.csv"))
    rows = {r.geoname_id: r for r in df.collect()}
    assert rows[2151718].country_code == "AU"
    assert rows[2151718].subdivision_1_iso_code == "VIC"
    assert rows[2151718].metro_code == 0  # empty -> 0 default
    assert rows[1814991].city_name == ""


def test_geo_ranges_build_with_fallback(spark, fixture_dir):
    """J3: row 3 has empty geoname_id → registered fallback resolves;
    row 4 has two unknown ids → falls back to FIRST location row
    (geo-ip-ip-loader.go:85-97 index-0 default)."""
    blocks = geolite2.geolite2_blocks(spark, str(fixture_dir / "blocks.csv"))
    locs = geolite2.geolite2_locations(spark, str(fixture_dir / "locations.csv"))
    ranges = geolite2.build_geo_ranges(blocks, locs)
    got = {r.gid: r for r in ranges.collect()}
    assert 2151718 in got  # direct hit
    assert 1814991 in got  # registered-country fallback for 1.0.2.0/24
    rows = ranges.orderBy("ip_low").collect()
    assert len(rows) == 4
    # unknown-unknown row resolved to the first location in file order
    assert rows[3].gid == 2151718


def test_blocks_error_budget(spark, tmp_path):
    """loader/csv-reader.go:58-84: field-error records are skipped;
    the file only aborts after >50 field errors."""
    hdr = "network,geoname_id,registered_country_geoname_id,represented_country_geoname_id,is_anonymous_proxy,is_satellite_provider,postal_code,latitude,longitude,accuracy_radius\n"
    ok_row = "1.0.0.0/24,1,2,,0,0,x,1.0,10.0,5\n"
    bad_row = "1.0.1.0/24,1,2,,0,0,x,garbage,10.0,5\n"

    p1 = tmp_path / "one_bad.csv"
    p1.write_text(hdr + ok_row + bad_row)
    df = geolite2.geolite2_blocks(spark, str(p1))
    rows = df.collect()
    assert [r.network for r in rows] == ["1.0.0.0/24"]  # bad row skipped

    p2 = tmp_path / "many_bad.csv"
    p2.write_text(hdr + ok_row + bad_row * 51)
    with pytest.raises(geolite2.ErrTooManyErrors):
        geolite2.geolite2_blocks(spark, str(p2))


def test_pfx2as_and_asn_ranges(spark, fixture_dir):
    raw = routeviews.routeviews_pfx2as(spark, str(fixture_dir / "pfx2as.tsv"))
    assert raw.count() == 4
    ranges = routeviews.build_asn_ranges(raw)
    rows = {r.as_string: r for r in ranges.collect()}
    assert rows["13335"].cidr == "1.0.0.0/24"
    assert rows["38803"].cidr == "1.0.4.0/22"
    assert rows["2500"].cidr == "2001:200::/32"
    assert "55967_38365,64512" in rows


def test_asnames(spark, fixture_dir):
    df = dims.asnames(spark, str(fixture_dir / "asnames.csv"))
    rows = {r.asn: r.as_name for r in df.collect()}
    assert rows[13335] == "Cloudflare, Inc."  # quoted comma preserved
    assert rows[38803] == "Wirefreebroadband Pty Ltd"


def test_siteinfo_load_and_annotate(spark, fixture_dir):
    sites = siteinfo.siteinfo(spark, str(fixture_dir / "siteinfo.json"))
    keys = {r.cidr_key for r in sites.collect()}
    # bad01 (empty v4) and bad02 (invalid v4) discarded; abc01 yields 2 keys
    assert keys == {"5.6.7.64/26", "2001:db8:aa:bb::/64"}
    probes = spark.createDataFrame(
        [("5.6.7.77",), ("2001:db8:aa:bb:1::2",), ("9.9.9.9",), ("junk",)],
        "ip string",
    )
    out = siteinfo.site_annotate(probes, sites)
    m = {r.ip: r.server for r in out.collect()}
    assert m["5.6.7.77"].Site == "abc01"
    assert m["5.6.7.77"].Machine == ""  # machine blanked on load
    assert m["5.6.7.77"].Network.ASNumber == 64496
    assert m["2001:db8:aa:bb:1::2"].Site == "abc01"  # /64 v6 key
    assert m["9.9.9.9"].Missing is True
    assert m["junk"].Missing is True


def test_zip_member_extraction(spark, fixture_dir):
    df = zipcsv.zip_member_csv(
        spark,
        str(fixture_dir / "*.zip"),
        "Blocks-IPv4.csv",
        geolite2.BLOCKS_COLUMNS,
    )
    rows = df.collect()
    assert len(rows) == 4
    assert rows[0]._zip_path.endswith(".zip")
    nets = {r.network for r in rows}
    assert "1.0.0.0/24" in nets


def test_corrupt_zip_skip_and_count(spark, tmp_path):
    """S8 corrupt-archive semantics (geolite2v2/g2_test.go
    TestCorruptData, loader/csv-reader.go:17-19): an unreadable
    archive is skipped-and-counted while good archives still load;
    a record with too few columns is dropped-and-counted in skip
    mode."""
    with zipfile.ZipFile(tmp_path / "good.zip", "w") as zf:
        zf.writestr("x/GeoLite2-City-Blocks-IPv4.csv", BLOCKS_CSV)
    (tmp_path / "corrupt.zip").write_bytes(b"PK\x03\x04 this is not a zip")

    df = zipcsv.zip_member_csv(
        spark, str(tmp_path / "*.zip"), "Blocks-IPv4.csv", geolite2.BLOCKS_COLUMNS
    )
    rows = df.collect()
    assert len(rows) == 4  # good archive fully read
    assert df.corrupt_archive_acc.value == 1
    assert df.bad_record_acc.value == 0

    # wrong number of columns → dropped + counted (skip mode)
    with zipfile.ZipFile(tmp_path / "short.zip", "w") as zf:
        zf.writestr(
            "y/GeoLite2-City-Locations-en.csv",
            "a,b,c\n1,2,3\nonly-one-column\n4,5,6\n",
        )
    df2 = zipcsv.zip_member_csv(
        spark, str(tmp_path / "short.zip"), "Locations-en.csv", ["a", "b", "c"]
    )
    rows2 = df2.collect()
    assert [(r.a, r.b, r.c) for r in rows2] == [("1", "2", "3"), ("4", "5", "6")]
    assert df2.bad_record_acc.value == 1


def test_corrupt_zip_abort_mode(spark, tmp_path):
    """on_corrupt="abort" reproduces the reference's fatal behavior
    and exact message: maxBadRecordsPerFile = 0 means one short
    record kills the load with "Corrupted Data: wrong number of
    columns"."""
    import pytest as _pytest

    with zipfile.ZipFile(tmp_path / "corruptdata.zip", "w") as zf:
        zf.writestr(
            "y/GeoLite2-City-Locations-en.csv", "a,b,c\n1,2,3\nshort,row\n"
        )
    df = zipcsv.zip_member_csv(
        spark,
        str(tmp_path / "corruptdata.zip"),
        "Locations-en.csv",
        ["a", "b", "c"],
        on_corrupt="abort",
    )
    with _pytest.raises(Exception, match="Corrupted Data: wrong number of columns"):
        df.collect()


def test_registry_dates_and_cutoff(spark):
    paths = spark.createDataFrame(
        [
            ("Maxmind/2017/09/07/20170907T023620Z-GeoLite2-City-CSV.zip", "geolite2"),
            ("RouteViewIPv4/2018/01/routeviews-rv2-20180101-1200.pfx2as.gz", "asn_v4"),
            ("RouteViewIPv4/2018/01/routeviews-rv2-20180115-1200.pfx2as.gz", "asn_v4"),
            ("Maxmind/2017/08/08/20170808T080000Z-GeoLiteCity-latest.zip", "legacy_v4"),
            ("Maxmind/2017/09/01/20170901T080000Z-GeoLiteCity-latest.zip", "legacy_v4"),
        ],
        "path string, source string",
    )
    reg = registry.build_registry(paths)
    rows = {(r.source, r.path.split("/")[-1]): str(r.dataset_date) for r in reg.collect()}
    assert rows[("geolite2", "20170907T023620Z-GeoLite2-City-CSV.zip")] == "2017-09-07"
    assert rows[("asn_v4", "routeviews-rv2-20180101-1200.pfx2as.gz")] == "2018-01-01"
    # legacy snapshot AFTER the 2017-08-15 cutover is pruned
    assert ("legacy_v4", "20170901T080000Z-GeoLiteCity-latest.zip") not in rows
    assert ("legacy_v4", "20170808T080000Z-GeoLiteCity-latest.zip") in rows
    reg2 = registry.build_registry(paths, asn_first_of_month_only=True)
    asn_rows = [r for r in reg2.collect() if r.source == "asn_v4"]
    assert len(asn_rows) == 1


def test_compact_parquet_roundtrip(spark, tmp_path):
    """64 tiny files -> few target-sized files; byte-identical data;
    atomic swap leaves the path valid throughout."""
    import os

    from annotation_service_spark.sources.storage import compact_parquet

    p = str(tmp_path / "tbl")
    spark.range(10_000).selectExpr(
        "id", "id % 7 AS k", "CAST(id AS STRING) AS s"
    ).repartition(64).write.parquet(p)
    n_before = sum(
        1 for _, _, fs in os.walk(p) for f in fs if f.endswith(".parquet")
    )
    assert n_before >= 32
    before = {tuple(r) for r in spark.read.parquet(p).collect()}

    n_after = compact_parquet(spark, p, target_file_bytes=64 << 10)
    assert n_after < n_before
    after = {tuple(r) for r in spark.read.parquet(p).collect()}
    assert after == before
    assert not os.path.exists(p + "._compact_tmp")
    assert not os.path.exists(p + "._compact_old")


def test_compact_parquet_preserves_manifest_sidecar(spark, tmp_path):
    import os

    from annotation_service_spark.sources.storage import compact_parquet

    p = str(tmp_path / "tbl2")
    spark.range(100).write.parquet(p)
    os.makedirs(os.path.join(p, "_manifest"))
    with open(os.path.join(p, "_manifest", "b0"), "w") as fh:
        fh.write("path0\n")
    compact_parquet(spark, p, target_file_bytes=1 << 20)
    with open(os.path.join(p, "_manifest", "b0")) as fh:
        assert fh.read() == "path0\n"


def test_zorder_key_properties(spark):
    """Morton-key invariants: exact interleave on hand pairs,
    monotone in each coordinate with the other fixed, and the layout
    pass actually enables data skipping — after range-partitioning by
    z_key, per-partition min/max spans of BOTH columns are far tighter
    than the global span."""
    from pyspark.sql import functions as F

    from annotation_service_spark.sources.storage import (
        zorder_key,
        zorder_layout,
    )

    def z_ref(x, y, bits=16):
        out = 0
        for i in range(bits):
            out |= ((x >> i) & 1) << (2 * i)
            out |= ((y >> i) & 1) << (2 * i + 1)
        return out

    pairs = [(0, 0), (1, 0), (0, 1), (5, 9), (65535, 65535), (12345, 54321)]
    df = spark.createDataFrame(pairs, "x long, y long")
    got = {
        (r.x, r.y): r.z
        for r in df.select(
            "x", "y", zorder_key(F.col("x"), F.col("y")).alias("z")
        ).collect()
    }
    assert got == {(x, y): z_ref(x, y) for x, y in pairs}
    # monotone in x for fixed y (interleave preserves per-axis order)
    assert z_ref(3, 7) < z_ref(4, 7) < z_ref(5, 7)
    assert z_ref(9, 3) < z_ref(9, 4) < z_ref(9, 5)

    # skipping demo: a 64x64 grid laid out by z_key — partition spans
    grid = spark.createDataFrame(
        [(i % 64, i // 64, i) for i in range(4096)], "a long, b long, i long"
    )
    laid = zorder_layout(grid, "a", "b", bits=6, n_files=16)
    spans = (
        laid.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(
            (F.max("a") - F.min("a")).alias("wa"),
            (F.max("b") - F.min("b")).alias("wb"),
        )
        .collect()
    )
    avg_wa = sum(r.wa for r in spans) / len(spans)
    avg_wb = sum(r.wb for r in spans) / len(spans)
    # global span is 63 on both axes; z-clustered partitions must be
    # materially tighter on BOTH (a plain sort would leave one at 63)
    assert avg_wa < 40 and avg_wb < 40, (avg_wa, avg_wb)


def test_blocks_malformed_records(spark, tmp_path):
    """Malformed CSV records (here an extra-columns row and an
    unterminated quote) abort the load (loader/csv-reader.go:17-19).
    This holds only because the file is read with CSV column pruning
    off: a pruned scan parses just the columns a query needs, which
    hides ``_corrupt_record`` from the budget check."""
    hdr = "network,geoname_id,registered_country_geoname_id,represented_country_geoname_id,is_anonymous_proxy,is_satellite_provider,postal_code,latitude,longitude,accuracy_radius\n"
    ok_row = "1.0.0.0/24,1,2,,0,0,x,1.0,10.0,5\n"
    extra_cols = "1.0.1.0/24,1,2,,0,0,x,1.0,10.0,5,surplus,columns\n"
    open_quote = '1.0.2.0/24,1,2,,0,0,"x,1.0,10.0,5\n'
    p = tmp_path / "malformed.csv"
    p.write_text(hdr + ok_row + extra_cols + open_quote)
    with pytest.raises(geolite2.ErrTooManyErrors, match="2 malformed"):
        geolite2.geolite2_blocks(spark, str(p))
