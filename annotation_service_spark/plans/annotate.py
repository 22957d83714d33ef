"""The annotate query lifecycle (SURVEY.md §3) as one DataFrame plan.

Reference flow (handler/handler.go:194-243, manager/manager.go:49-57,
geolite2v2/geo-ip.go:99-176, asn/asn-annotator.go:29-92):

    requests(date, ip)
      → as-of snapshot selection (J2)
      → parse/validate (P3) → 6to4 rewrite (P4)
        → geo range join (J1) + asn range join (J1), one probe pass
      → location dim lookup (J3 tail)
      → AS decode (P8/P9) → AS-name lookup (J4)
      → GeolocationIP/ASData struct projection (P13)
      → Missing backfill (P15)
      → JSON shaping (S11)

Family routing (J7) is implicit: the canonical 16-byte v4-mapped
representation makes v4 and v6 ranges disjoint in one sorted table,
so a single binary search replaces the reference's per-family lists
(manager/manager.go:213-226 becomes a representation choice).

One plan per request, like the reference's one parse, two binary
searches and two map lookups against datasets loaded once
(iputils/iputils.go:111-128, geolite2v2/geo-ip.go:99-125,
asn/asn-annotator.go:82-86, directory/directory.go:230-240). A warm
request plans as

    request scan → as-of projection → (rebalance) → ONE mapInPandas
      → struct projection

and nothing that does not depend on the request is planned again:

- the as-of selection is a native projection over the registry's
  snapshot dates, collected once per (published geo table, registry
  plan) (``asof.asof_column``);
- the mapInPandas parses each IP (P3 + P4), binary-searches the geo
  and the ASN table (keyed by snapshot), and maps each hit's ``gid``
  and best ASN through the location and AS-name builds with one more
  binary search each (``range_join_broadcast(dims=...)``). Every build
  is broadcast once per published DataFrame, so a refresh's ``swap``
  rebuilds only the table it replaced. Best ASN is the Spark expression
  ``best_asn(asn_decode(as_string))``, evaluated once inside the ASN
  build;
- the ``geo`` and ``network`` struct Columns name columns only and are
  built once per JVM.

No per-request join or broadcast, and no probe shuffle by key. The
request frame reaches the mapInPandas through one round-robin
rebalance when it is split into several slices (a list-built frame is
one slice per core); AQE coalesces it by bytes, so a request of a few
hundred IPs runs the kernel in one Python task
(``partitioning.rebalance_for_python``). The dimensions stay
normalized (``build_geo_ranges``): denormalizing them into ~4M range
rows per real snapshot would multiply the broadcast bytes. Tables whose size estimate exceeds the broadcast gate are
instead pruned per request to the snapshots the probes reference.
"""

from __future__ import annotations

import threading

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import ip as ipf
from ..operators.asof import asof_column
from ..operators.interval import range_join_broadcast

GEO_PAYLOAD = ["gid", "postal_code", "latitude", "longitude"]
ASN_PAYLOAD = ["as_string", "cidr"]
LOCATION_ATTRS = [
    "continent_code",
    "country_code",
    "country_name",
    "subdivision_1_iso_code",
    "subdivision_1_name",
    "subdivision_2_iso_code",
    "subdivision_2_name",
    "city_name",
    "metro_code",
    "accuracy_radius_km",
]

# the v4-mapped /96: canonical home of every v4 address (J7)
_V4_SPAN_LOW = b"\x00" * 10 + b"\xff\xff" + b"\x00" * 4
_V4_SPAN_HIGH = b"\x00" * 10 + b"\xff\xff" + b"\xff" * 4
_V4_SPAN_BELOW = b"\x00" * 10 + b"\xff\xfe" + b"\xff" * 4  # _V4_SPAN_LOW − 1
_V4_SPAN_ABOVE = b"\x00" * 9 + b"\x01" + b"\x00" * 6  # _V4_SPAN_HIGH + 1 (= 2^48)


def family_union(
    v4_mapped: DataFrame, v6: DataFrame, low: str = "ip_low", high: str = "ip_high"
) -> DataFrame:
    """J7 with the reference's FAMILY ROUTING made explicit: the
    reference keeps separate v4/v6 lists and a v4 probe can never
    match a v6 row (manager/manager.go:213-226). In the single
    sorted-table design a v6 row covering the v4-mapped /96 would
    shadow that rule, so v6 rows are CLIPPED around the /96 (split
    into the pieces below/above) before the union. Real GeoLite2 v6
    data never covers ::ffff:0:0/96 — the clip is a no-op there; it
    exists so synthetic/adversarial inputs (e.g. the full-range v6
    node in handler/handler_test.go:49-126) behave identically."""
    lo, hi = F.col(low), F.col(high)
    below = F.when(
        lo < F.lit(_V4_SPAN_LOW),
        F.struct(lo.alias(low), F.least(hi, F.lit(_V4_SPAN_BELOW)).alias(high)),
    )
    above = F.when(
        hi > F.lit(_V4_SPAN_HIGH),
        F.struct(F.greatest(lo, F.lit(_V4_SPAN_ABOVE)).alias(low), hi.alias(high)),
    )
    others = [c for c in v6.columns if c not in (low, high)]
    clipped = (
        v6.select(F.explode(F.array_compact(F.array(below, above))).alias("__r"), *others)
        .select(F.col(f"__r.{low}").alias(low), F.col(f"__r.{high}").alias(high), *others)
    )
    return clipped.unionByName(v4_mapped.select(low, high, *others)).orderBy(low)


def geolocation_struct() -> Column:
    """P13 (geolite2v2/geo-ip.go:99-125): assemble GeolocationIP from
    the geo payload and the location attributes.
    CountryCode3 is always empty and AreaCode 0 for GeoLite2, as in
    the reference."""
    hit = F.col("gid").isNotNull()
    return F.when(
        hit,
        F.struct(
            F.coalesce("continent_code", F.lit("")).alias("continent_code"),
            F.coalesce("country_code", F.lit("")).alias("country_code"),
            F.lit("").alias("country_code3"),
            F.coalesce("country_name", F.lit("")).alias("country_name"),
            F.coalesce("subdivision_1_iso_code", F.lit("")).alias("region"),
            F.coalesce("subdivision_1_iso_code", F.lit("")).alias("subdivision1_iso_code"),
            F.coalesce("subdivision_1_name", F.lit("")).alias("subdivision1_name"),
            F.coalesce("subdivision_2_iso_code", F.lit("")).alias("subdivision2_iso_code"),
            F.coalesce("subdivision_2_name", F.lit("")).alias("subdivision2_name"),
            F.coalesce("metro_code", F.lit(0)).alias("metro_code"),
            F.coalesce("city_name", F.lit("")).alias("city"),
            F.lit(0).cast("long").alias("area_code"),
            F.coalesce("postal_code", F.lit("")).alias("postal_code"),
            F.coalesce("latitude", F.lit(0.0)).alias("latitude"),
            F.coalesce("longitude", F.lit(0.0)).alias("longitude"),
            F.coalesce("accuracy_radius_km", F.lit(0)).alias("radius"),
            F.lit(False).alias("missing"),
        ),
    ).otherwise(
        # P15 missing backfill (handler/handler.go:66-76)
        F.struct(
            F.lit("").alias("continent_code"),
            F.lit("").alias("country_code"),
            F.lit("").alias("country_code3"),
            F.lit("").alias("country_name"),
            F.lit("").alias("region"),
            F.lit("").alias("subdivision1_iso_code"),
            F.lit("").alias("subdivision1_name"),
            F.lit("").alias("subdivision2_iso_code"),
            F.lit("").alias("subdivision2_name"),
            F.lit(0).cast("long").alias("metro_code"),
            F.lit("").alias("city"),
            F.lit(0).cast("long").alias("area_code"),
            F.lit("").alias("postal_code"),
            F.lit(0.0).alias("latitude"),
            F.lit(0.0).alias("longitude"),
            F.lit(0).cast("long").alias("radius"),
            F.lit(True).alias("missing"),
        )
    )


def asdata_struct() -> Column:
    """ASData assembly (asn/asn-annotator.go:61-90): decode the AS
    string (P8), BestASN (P9, the ``as_number`` payload), CIDR from
    the flattened range (P2 at build time → ``cidr`` column), AS name,
    Missing backfill (P15)."""
    hit = F.col("as_string").isNotNull()
    systems = ipf.asn_decode(F.col("as_string"))
    return F.when(
        hit,
        F.struct(
            F.lit("").alias("ip_prefix"),
            F.coalesce("cidr", F.lit("")).alias("cidr"),
            F.col("as_number"),
            F.coalesce("as_name", F.lit("")).alias("as_name"),
            F.lit(False).alias("missing"),
            systems.alias("systems"),
        ),
    ).otherwise(
        F.struct(
            F.lit("").alias("ip_prefix"),
            F.lit("").alias("cidr"),
            F.lit(None).cast("long").alias("as_number"),
            F.lit("").alias("as_name"),
            F.lit(True).alias("missing"),
            F.lit(None).cast(ipf.ASN_SYSTEM_TYPE).alias("systems"),
        )
    )


_COLUMNS_LOCK = threading.Lock()
_COLUMNS: tuple = (None,)


def _plan_columns() -> tuple[Column, Column, Column]:
    """(best-ASN payload, ``geo`` struct, ``network`` struct), built once
    per JVM: they name columns only, and building them anew cost every
    request ~280 ms of py4j round trips."""
    global _COLUMNS
    jvm = SparkContext._jvm
    with _COLUMNS_LOCK:
        if _COLUMNS[0] is not jvm:
            _COLUMNS = (
                jvm,
                # P9 of the decoded AS string (P8): an ASN-build payload
                ipf.best_asn(ipf.asn_decode(F.col("as_string"))).alias("as_number"),
                geolocation_struct().alias("geo"),
                asdata_struct().alias("network"),
            )
        return _COLUMNS[1:]


def annotate(
    requests: DataFrame,
    geo_ranges: DataFrame,
    locations: DataFrame,
    asn_ranges: DataFrame,
    asnames: DataFrame,
    ip_col: str = "ip",
    date_col: str | None = None,
    registry: DataFrame | None = None,
) -> DataFrame:
    """Full composite annotate (J9): every request row gains ``geo``
    and ``network`` structs.

    When ``date_col`` + ``registry`` are given, the as-of rule selects
    the snapshot per request (a ``dataset_date`` column) and the range
    searches are keyed by it (J2∘J1); otherwise the single-snapshot
    tables are used directly.
    """
    best_asn, geo, network = _plan_columns()
    probes, keys = requests, []
    if date_col is not None and registry is not None:
        probes = requests.withColumn(
            "dataset_date", asof_column(registry, date_col, owner=geo_ranges)
        )
        keys = ["dataset_date"]

    # P3 + P4, both J1 searches and both dimension lookups in one
    # Python crossing
    hits = range_join_broadcast(
        probes,
        [(geo_ranges, GEO_PAYLOAD), (asn_ranges, [*ASN_PAYLOAD, best_asn])],
        probe_col=ip_col,
        keys=keys,
        parse_ips=True,
        dims=[
            (locations, "gid", "geoname_id", LOCATION_ATTRS),
            (asnames, "as_number", "asn", ["as_name"]),
        ],
    )
    return hits.select(*requests.columns, *keys, geo, network)


def to_v2_response(annotated: DataFrame, ip_col: str = "ip") -> DataFrame:
    """S11: one JSON document per request row (v2 response is a map
    ip→Annotations; row-per-ip is the distributed shape, `to_json`
    at the edge — api/v2/api-v2.go:49-55)."""
    return annotated.select(
        F.col(ip_col),
        F.to_json(F.struct("geo", "network")).alias("annotations_json"),
    )


def to_v2_response_document(
    annotated: DataFrame,
    ip_col: str = "ip",
    annotator_date_col: str | None = "dataset_date",
) -> DataFrame:
    """S11, full v2 shape (api/v2/api-v2.go:49-55): ONE JSON document
    for the request — ``{AnnotatorDate, Annotations: {ip: {Geo, Network}}}``.
    Row-per-ip (``to_v2_response``) is the distributed-native shape;
    this document form is the wire-parity edge for serving, built with
    map_from_entries + to_json (no driver-side assembly).

    The whole DataFrame is one request; AnnotatorDate = the min
    snapshot date used, mirroring CompositeAnnotator's earliest-date
    rule (directory/directory.go:76-85).

    A request that repeats an IP yields one map key for it: the
    reference fills a Go map keyed by IP, and entries for one IP on
    one date are identical, so ``array_distinct`` drops the repeats
    inside the same aggregate (a duplicate key would otherwise fail
    the whole document with DUPLICATED_MAP_KEY)."""
    entries = F.map_from_entries(
        F.array_distinct(
            F.collect_list(F.struct(F.col(ip_col), F.struct("geo", "network")))
        )
    )
    date_agg = (
        F.min(annotator_date_col)
        if annotator_date_col and annotator_date_col in annotated.columns
        else F.lit(None).cast("date")
    )
    doc = annotated.agg(date_agg.alias("annotator_date"), entries.alias("annotations"))
    return doc.select(
        F.to_json(
            F.struct(
                F.col("annotator_date").alias("AnnotatorDate"),
                F.col("annotations").alias("Annotations"),
            )
        ).alias("response_json"),
    )
