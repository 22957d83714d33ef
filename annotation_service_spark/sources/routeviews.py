"""RouteViews pfx2as TSV source (S4) and ASN interval-table build.

Reference: asn/asn-loader.go:85-110 — tab-separated, NO header,
exactly 3 columns (prefix, length, as_string); the CIDR is
``prefix + "/" + length`` and the payload is the raw AS string
(decoded lazily at query time, asn/asn-annotator.go:63-81).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import ip as ipf
from ..operators.interval import flatten_intervals

PFX2AS_SCHEMA = T.StructType(
    [
        T.StructField("prefix", T.StringType()),
        T.StructField("prefix_length", T.IntegerType()),
        T.StructField("as_string", T.StringType()),
    ]
)


def routeviews_pfx2as(spark: SparkSession, path: str) -> DataFrame:
    """S4: read pfx2as (plain or .gz — Spark decompresses .gz
    natively, superseding the reference's manual gunzip S9)."""
    return spark.read.csv(path, sep="\t", header=False, schema=PFX2AS_SCHEMA)


def build_asn_ranges(
    pfx2as: DataFrame, partition_by: tuple[str, ...] = ()
) -> DataFrame:
    """T1/T2 over pfx2as rows; payload = AS string (ASNIPNode
    DataEquals is string equality, asn/asn-loader.go:64-67). Emits
    ``cidr`` recomputed from the flattened bounds exactly like the
    annotator does for ASData.CIDR (asn/asn-annotator.go:82)."""
    part = list(partition_by)
    src = (
        pfx2as.withColumn("__seq", F.monotonically_increasing_id())
        .withColumn(
            "__r",
            ipf.cidr_to_range(
                F.concat_ws("/", F.col("prefix"), F.col("prefix_length"))
            ),
        )
        .where(F.col("__r.ip_low").isNotNull())
        .select(
            *part,
            F.col("__seq").alias("seq"),
            F.col("__r.ip_low").alias("ip_low"),
            F.col("__r.ip_high").alias("ip_high"),
            F.col("as_string"),
        )
    )
    flat = flatten_intervals(
        src,
        low="ip_low",
        high="ip_high",
        payload=["as_string"],
        partition_by=part,
        seq="seq",
    )
    return flat.withColumn(
        "cidr", ipf.range_to_cidr(F.col("ip_low"), F.col("ip_high"))
    )
