"""Request-document parsing: the v1/v2 wire-format edge.

Reference: POST bodies are sniffed — try the v2 envelope first
(``RequestWrapper.RequestType == "Annotate v2.0"``); anything
unparseable falls back to the v1 array-of-items format
(handler/handler.go:423-439 ``handleNewOrOld``). v2 carries ONE date
for the batch (api/v2/api-v2.go:38-43); v1 items carry individual
timestamps but the batch uses the FIRST item's (see
plans.legacy.v1_batch_date).

Spark mapping: request documents are just a JSON-string column;
``from_json`` with the v2 schema, falling back to the v1 schema when
the envelope doesn't parse — one declarative projection, no UDF. The
output is the normalized request relation (request_id, version,
request_date, ip) the annotate plan consumes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

V2_SCHEMA = T.StructType(
    [
        T.StructField("RequestType", T.StringType()),
        T.StructField("RequestInfo", T.StringType()),
        T.StructField("Date", T.TimestampType()),
        T.StructField("IPs", T.ArrayType(T.StringType())),
    ]
)

V1_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("ip", T.StringType()),
            T.StructField("ip_format", T.IntegerType()),
            T.StructField("timestamp", T.TimestampType()),
        ]
    )
)


def _nz_str(c: F.Column) -> F.Column:
    return F.when(F.length(c) > 0, c)


def _nz_num(c: F.Column) -> F.Column:
    return F.when(c != 0, c)


def _nz_bool(c: F.Column) -> F.Column:
    return F.when(c, F.lit(True))


def go_annotations_struct(geo: F.Column, network: F.Column) -> F.Column:
    """S11 wire parity: shape one (geo, network) pair exactly as
    Go's ``json.Marshal(api.GeoData)`` does — field names and order
    from the struct declarations (api/api.go:32-51,101-112), and
    ``omitempty`` semantics (empty string / 0 / false / nil → field
    omitted) via NULLifying + to_json's null dropping. A zero-value
    ASData marshals as ``{}``, as in Go.

    Caveat (documented, not hit by the reference's goldens): Go
    renders integral floats shortest-form ("42"), Jackson keeps the
    decimal ("42.0"); lat/lon of real data are non-integral."""
    g = geo
    n = network
    geo_out = F.struct(
        _nz_str(g["continent_code"]).alias("continent_code"),
        _nz_str(g["country_code"]).alias("country_code"),
        _nz_str(g["country_code3"]).alias("country_code3"),
        _nz_str(g["country_name"]).alias("country_name"),
        _nz_str(g["region"]).alias("region"),
        _nz_str(g["subdivision1_iso_code"]).alias("Subdivision1ISOCode"),
        _nz_str(g["subdivision1_name"]).alias("Subdivision1Name"),
        _nz_str(g["subdivision2_iso_code"]).alias("Subdivision2ISOCode"),
        _nz_str(g["subdivision2_name"]).alias("Subdivision2Name"),
        _nz_num(g["metro_code"]).alias("metro_code"),
        _nz_str(g["city"]).alias("city"),
        _nz_num(g["area_code"]).alias("area_code"),
        _nz_str(g["postal_code"]).alias("postal_code"),
        _nz_num(g["latitude"]).alias("latitude"),
        _nz_num(g["longitude"]).alias("longitude"),
        _nz_num(g["radius"]).alias("radius"),
        _nz_bool(g["missing"]).alias("Missing"),
    )
    net_out = F.struct(
        _nz_str(n["ip_prefix"]).alias("IPPrefix"),
        _nz_str(n["cidr"]).alias("CIDR"),
        _nz_num(n["as_number"]).alias("ASNumber"),
        _nz_str(n["as_name"]).alias("ASName"),
        _nz_bool(n["missing"]).alias("Missing"),
        F.transform(
            n["systems"], lambda s: F.struct(s["asns"].alias("ASNs"))
        ).alias("Systems"),
    )
    return F.struct(geo_out.alias("Geo"), net_out.alias("Network"))


def go_annotations_json(geo: F.Column, network: F.Column) -> F.Column:
    """v1 single-IP response body (handler/handler_test.go goldens)."""
    return F.to_json(go_annotations_struct(geo, network))


def go_v2_response_document(
    annotated: DataFrame,
    annotator_date: F.Column,
    ip_col: str = "ip",
) -> DataFrame:
    """S11, full v2 document with Go-marshal parity
    (api/v2/api-v2_test.go:46-164 golden): ``{"AnnotatorDate":
    RFC3339, "Annotations": {ip: GeoData…}}`` — map keys in sorted
    order (Go sorts map keys when marshalling; sort_array on the
    entry structs reproduces it), omitempty per field, empty ASData
    as ``{}``. A repeated IP is one key, as in the reference's Go map
    (its entries are identical within a one-date batch)."""
    entries = F.map_from_entries(
        F.sort_array(
            F.array_distinct(
                F.collect_list(
                    F.struct(
                        F.col(ip_col),
                        go_annotations_struct(F.col("geo"), F.col("network")),
                    )
                )
            )
        )
    )
    doc = annotated.agg(
        F.first(annotator_date).alias("__date"), entries.alias("__ann")
    )
    return doc.select(
        F.to_json(
            F.struct(
                F.date_format(
                    F.col("__date"), "yyyy-MM-dd'T'HH:mm:ss'Z'"
                ).alias("AnnotatorDate"),
                F.col("__ann").alias("Annotations"),
            )
        ).alias("response_json")
    )


def truncate_error_body(body: F.Column, limit: int = 60) -> F.Column:
    """O4 (api/v2/api-v2.go:328-331): error responses echo at most
    the first ``limit`` characters of the offending request body."""
    return F.substring(body, 1, limit)


def parse_requests(
    docs: DataFrame, body_col: str = "body", id_col: str = "request_id"
) -> DataFrame:
    """Sniff + normalize request documents → one row per requested IP:
    (request_id, version, request_date, ip).

    v2 rows share the envelope Date; v1 rows all use the FIRST item's
    timestamp (the reference's one-date-per-batch quirk,
    handler/handler.go:310-313)."""
    v2 = F.from_json(F.col(body_col), V2_SCHEMA)
    v1 = F.from_json(F.col(body_col), V1_SCHEMA)
    # NULL-safe: a v1 array body "parses" as a struct of NULLs, so the
    # RequestType comparison must default to false, not NULL
    is_v2 = F.coalesce(v2["RequestType"] == "Annotate v2.0", F.lit(False))

    parsed = docs.select(
        F.col(id_col),
        is_v2.alias("__is_v2"),
        v2.alias("__v2"),
        v1.alias("__v1"),
    )
    v2_rows = (
        parsed.where(F.col("__is_v2"))
        .select(
            id_col,
            F.lit("v2").alias("version"),
            F.col("__v2.Date").alias("request_date"),
            F.explode(F.col("__v2.IPs")).alias("ip"),
        )
    )
    v1_rows = (
        parsed.where(~F.col("__is_v2") & F.col("__v1").isNotNull())
        .select(
            id_col,
            F.lit("v1").alias("version"),
            F.element_at(F.col("__v1"), 1)["timestamp"].alias("request_date"),
            F.explode(F.col("__v1")).alias("__item"),
        )
        .select(id_col, "version", "request_date", F.col("__item.ip").alias("ip"))
    )
    return v2_rows.unionByName(v1_rows)
