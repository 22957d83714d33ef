"""GeoLite2 CSV sources (S2/S3) and the geo interval-table build.

Reference loaders: geolite2v2/geo-ip-ip-loader.go (Blocks, exactly 10
columns), geolite2v2/geo-ip-loc-loader.go (Locations, 13 columns, 14
since 2018/03 — the extra trailing column is tolerated and its value
feeds AccuracyRadiusKm exactly as the reference does with record[13]).

Error budgets (loader/csv-reader.go:17-19): a file aborts after >0
malformed records (wrong column count) or >50 field errors. Spark
PERMISSIVE mode + `_corrupt_record` gives the same accounting without
a row-at-a-time reader; ``check_error_budget`` raises when exceeded.

Validation rules (geo-ip-loc-loader.go:16-18,105-118): continent /
country codes must be ``^[0-9A-Z]*$``, country names ``^[^0-9]*$``;
numeric fields tolerate EMPTY (default 0) but error on garbage
(geo-ip-ip-loader.go:158-168).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import ip as ipf
from ..operators.interval import flatten_intervals

BLOCKS_COLUMNS = [
    "network",
    "geoname_id",
    "registered_country_geoname_id",
    "represented_country_geoname_id",
    "is_anonymous_proxy",
    "is_satellite_provider",
    "postal_code",
    "latitude",
    "longitude",
    "accuracy_radius",
]

LOCATIONS_COLUMNS = [
    "geoname_id",
    "locale_code",
    "continent_code",
    "continent_name",
    "country_iso_code",
    "country_name",
    "subdivision_1_iso_code",
    "subdivision_1_name",
    "subdivision_2_iso_code",
    "subdivision_2_name",
    "city_name",
    "metro_code",
    "time_zone",
    "is_in_european_union",  # optional 14th (2018/03+)
]


class ErrTooManyErrors(Exception):
    """Loader error budget exceeded (loader/csv-reader.go:14)."""


# the reference's per-file budgets (loader/csv-reader.go:17-19)
MAX_BAD_RECORDS = 0
MAX_FIELD_ERRORS = 50


def check_error_budget(
    df: DataFrame,
    bad_record_col: str = "_corrupt_record",
    field_error_col: str | None = None,
) -> None:
    """Enforce the reference's per-file error budgets."""
    aggs = [
        F.count(F.when(F.col(bad_record_col).isNotNull(), 1)).alias("bad")
    ]
    if field_error_col:
        aggs.append(F.sum(F.col(field_error_col).cast("long")).alias("field"))
    row = df.agg(*aggs).collect()[0]
    if row["bad"] > MAX_BAD_RECORDS:
        raise ErrTooManyErrors(f"{row['bad']} malformed records (max {MAX_BAD_RECORDS})")
    if field_error_col and (row["field"] or 0) > MAX_FIELD_ERRORS:
        raise ErrTooManyErrors(f"{row['field']} field errors (max {MAX_FIELD_ERRORS})")


def geolite2_blocks(spark: SparkSession, path: str) -> DataFrame:
    """S2: GeoLite2 Blocks CSV → typed DataFrame.

    Numeric parse failures on NON-empty text are field errors like the
    reference's stringToFloat; empty cells default to 0/NULL.
    """
    str_schema = T.StructType(
        [T.StructField(c, T.StringType()) for c in BLOCKS_COLUMNS]
        + [T.StructField("_corrupt_record", T.StringType())]
    )
    # columnPruning off for this read only: a pruned CSV scan parses
    # just the columns a query needs, which hides `_corrupt_record` for
    # a row with too many or too few fields, so the error budget would
    # pass a malformed file (test_sources.py::test_blocks_malformed_records). Every query
    # reads more than `_corrupt_record` alone (the filter below needs
    # latitude/longitude), which Spark requires of a raw CSV scan.
    raw = spark.read.option("columnPruning", "false").csv(
        path,
        header=True,
        schema=str_schema,
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt_record",
    )

    def num(c, typ):
        return F.coalesce(F.col(c).try_cast(typ), F.lit(0).cast(typ))

    field_err = (
        (F.col("latitude").isNotNull() & (F.col("latitude") != "") & F.col("latitude").try_cast("double").isNull())
        | (F.col("longitude").isNotNull() & (F.col("longitude") != "") & F.col("longitude").try_cast("double").isNull())
    ).cast("int")
    df = raw.withColumn("_field_error", field_err)
    check_error_budget(df, field_error_col="_field_error")
    # field-error records are SKIPPED (loader/csv-reader.go:76-84
    # counts them and continues); malformed records likewise
    return df.where(
        F.col("_corrupt_record").isNull() & (F.col("_field_error") == 0)
    ).select(
        "network",
        F.col("geoname_id").try_cast("long").alias("geoname_id"),
        F.col("registered_country_geoname_id").try_cast("long").alias(
            "registered_country_geoname_id"
        ),
        F.col("represented_country_geoname_id").try_cast("long").alias(
            "represented_country_geoname_id"
        ),
        num("is_anonymous_proxy", "int").alias("is_anonymous_proxy"),
        num("is_satellite_provider", "int").alias("is_satellite_provider"),
        F.coalesce(F.col("postal_code"), F.lit("")).alias("postal_code"),
        num("latitude", "double").alias("latitude"),
        num("longitude", "double").alias("longitude"),
        num("accuracy_radius", "long").alias("accuracy_radius"),
    )


def geolite2_locations(spark: SparkSession, path: str) -> DataFrame:
    """S3: GeoLite2 Locations CSV (13 or 14 columns) → typed dim.

    Code/name validation failures are dropped + counted against the
    field-error budget (the reference aborts the record with an error,
    loader counts it, loader/csv-reader.go:66-84).
    """
    raw = spark.read.csv(path, header=True, mode="PERMISSIVE")
    cols = raw.columns
    # 13-column files lack is_in_european_union; map positionally like
    # the reference (it ignores the header contents entirely)
    if len(cols) < 13:
        raise ErrTooManyErrors("Header has too few columns")
    named = raw.select(
        *[
            F.col(cols[i]).alias(LOCATIONS_COLUMNS[i])
            for i in range(min(len(cols), 14))
        ]
    )
    valid = (
        F.coalesce(F.col("continent_code"), F.lit("")).rlike("^[0-9A-Z]*$")
        & F.coalesce(F.col("country_iso_code"), F.lit("")).rlike("^[0-9A-Z]*$")
        & F.coalesce(F.col("country_name"), F.lit("")).rlike("^[^0-9]*$")
        & F.col("geoname_id").try_cast("long").isNotNull()
    )
    named = named.withColumn("_field_error", (~valid).cast("int")).withColumn(
        "_corrupt_record", F.lit(None).cast("string")
    )
    check_error_budget(named, field_error_col="_field_error")
    out = named.where(valid).select(
        F.col("geoname_id").try_cast("long").alias("geoname_id"),
        F.coalesce("continent_code", F.lit("")).alias("continent_code"),
        F.coalesce("country_iso_code", F.lit("")).alias("country_code"),
        F.coalesce("country_name", F.lit("")).alias("country_name"),
        F.coalesce("subdivision_1_iso_code", F.lit("")).alias("subdivision_1_iso_code"),
        F.coalesce("subdivision_1_name", F.lit("")).alias("subdivision_1_name"),
        F.coalesce("subdivision_2_iso_code", F.lit("")).alias("subdivision_2_iso_code"),
        F.coalesce("subdivision_2_name", F.lit("")).alias("subdivision_2_name"),
        F.coalesce("city_name", F.lit("")).alias("city_name"),
        F.coalesce(F.col("metro_code").try_cast("long"), F.lit(0)).alias("metro_code"),
        (
            F.coalesce(F.col("is_in_european_union").try_cast("long"), F.lit(0))
            if "is_in_european_union" in named.columns
            else F.lit(0).cast("long")
        ).alias("accuracy_radius_km"),
    )
    return out


def build_geo_ranges(
    blocks: DataFrame,
    locations: DataFrame,
    partition_by: tuple[str, ...] = (),
) -> DataFrame:
    """J3 + T1/T2: blocks → geoname fallback resolution → flattened
    sorted disjoint interval table, payload matching GeoIPNode
    DataEquals (geoname key, postal, lat, lon —
    geolite2v2/geo-ip-ip-loader.go:38-43) so merges behave exactly
    like the reference.

    Geoname fallback (geo-ip-ip-loader.go:85-97): use geoname_id if
    it resolves, else registered_country_geoname_id, else index 0 —
    the FIRST location row in file order (the reference's silent
    default).

    The location attributes stay normalized (looked up in their own
    build at query time, ``plans.annotate``) exactly like the
    reference's LocationIndex indirection; at 100 TB probe scale this
    keeps the broadcast tables small.

    Family note: real GeoLite2 v4/v6 blocks are disjoint in the
    canonical 16-byte space, so a unioned ``blocks`` input flattens
    correctly as one table. For UNTRUSTED v6 sources that might cover
    the v4-mapped /96, route through
    ``plans.annotate.family_union`` first (reference family-routing
    parity — see test_golden_json.py).
    """
    part = list(partition_by)
    loc_ids = locations.select("geoname_id").distinct()
    # "index 0" fallback = first location row in FILE order; limit(1)
    # on the un-sorted scan reads the first row of the first file
    # (no monotonically_increasing_id — it would poison downstream
    # streaming plans, which reject that expression at analysis)
    first_gid = locations.select("geoname_id").limit(1)

    b = blocks.withColumn(
        "__seq", F.monotonically_increasing_id()
    ).withColumn("__r", ipf.cidr_to_range(F.col("network")))
    b = b.where(F.col("__r.ip_low").isNotNull())

    g1 = loc_ids.select(F.col("geoname_id").alias("__g1"))
    g2 = loc_ids.select(F.col("geoname_id").alias("__g2"))
    resolved = (
        b.join(F.broadcast(g1), b["geoname_id"] == g1["__g1"], "left")
        .join(
            F.broadcast(g2),
            b["registered_country_geoname_id"] == g2["__g2"],
            "left",
        )
        .withColumn(
            "gid",
            F.coalesce(
                F.col("__g1"),
                F.col("__g2"),
                F.lit(None).cast("long"),
            ),
        )
    )
    fallback_gid = [r.geoname_id for r in first_gid.collect()]
    default_gid = fallback_gid[0] if fallback_gid else None
    resolved = resolved.withColumn(
        "gid", F.coalesce(F.col("gid"), F.lit(default_gid).cast("long"))
    )

    src = resolved.select(
        *part,
        F.col("__seq").alias("seq"),
        F.col("__r.ip_low").alias("ip_low"),
        F.col("__r.ip_high").alias("ip_high"),
        "gid",
        "postal_code",
        "latitude",
        "longitude",
    )
    return flatten_intervals(
        src,
        low="ip_low",
        high="ip_high",
        payload=["gid", "postal_code", "latitude", "longitude"],
        partition_by=part,
        seq="seq",
    )
