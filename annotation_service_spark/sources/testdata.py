"""Readers for the driver-generated synthetic tables (TESTDATA.md).

The parquet files carry nanosecond timestamps (INT64
TIMESTAMP(NANOS)), which Spark's vectorized parquet reader rejects.
We read them via ``spark.sql.legacy.parquet.nanosAsLong`` and convert
to TimestampType with INTEGER division (epoch-ns ≈ 1.7e18 exceeds
double's 2^53 mantissa — a float division here would silently corrupt
timestamps). DuckDB coerces the same values to microseconds, and the
generator emits microsecond-resolution data, so the conversion is
lossless and oracle-comparable.

Each file's inferred schema is remembered, keyed by its path and
modification time, and later reads pass it to ``spark.read.schema``:
a parquet read without a schema starts one Spark job to infer it,
so without the memo every gate would run a job while it is planned.
The memo lives as long as the process, like Spark's own file-status
cache; a rewritten file gets a new modification time and is
inferred again.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

_TS_COLS = {
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
    "events": ["ts"],
}

_SCHEMAS: dict[tuple[str, int], StructType] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # NOTE (r14): the test tables are single-row-group parquet files,
    # i.e. one-task scans. Repairing that here for every reader was
    # measured a net ZERO (wins on compute-heavy pipelines cancel
    # losses on light scan+agg and broadcast-Arrow paths) — the
    # compute-bound operators call partitioning.spread_underparallel
    # on their own inputs instead; see that module's docstring.
    from ..session import ensure_shipped

    ensure_shipped(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    key = (path, os.stat(path).st_mtime_ns)
    schema = _SCHEMAS.get(key)
    df = (spark.read if schema is None else spark.read.schema(schema)).parquet(path)
    _SCHEMAS[key] = df.schema
    dtypes = dict(df.dtypes)
    for c in _TS_COLS.get(name, []):
        if dtypes.get(c) == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df
