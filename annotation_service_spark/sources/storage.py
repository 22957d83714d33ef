"""Interval-table storage layout.

How the build path persists dataset snapshots so the query path stays
cheap at cluster scale:

- partitioned by ``dataset_date`` → as-of queries prune to exactly
  the snapshots they touch (the Spark analog of the reference's
  regex-confined loading, geoloader/geoloader-asn.go:23-25);
- sorted by ``ip_low`` within files (T4 invariant,
  iputils/iputils.go:188-197) → parquet min/max column statistics on
  the bounds let even a plain BETWEEN join skip row groups, and the
  broadcast build's orderBy is nearly free;
- one file per snapshot partition by default (snapshots are ≤ a few
  hundred MB) — bump ``files_per_partition`` for bigger builds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_interval_table(
    df: DataFrame,
    path: str,
    low: str = "ip_low",
    partition_col: str = "dataset_date",
    files_per_partition: int = 1,
    mode: str = "append",
) -> None:
    out = (
        df.repartition(files_per_partition, partition_col)
        .sortWithinPartitions(partition_col, low)
    )
    out.write.mode(mode).partitionBy(partition_col).parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 64,
    sort_cols: list[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a table bucketed (and optionally sorted) by join key.

    Two tables bucketed on the same key with the same bucket count
    equi-join WITHOUT a shuffle — the bucket id IS the partitioning,
    so a 100 TB fact ⨝ fact join (e.g. repeated probe-log ⨝ session
    joins on user_id) skips both Exchanges entirely; with matching
    ``sort_cols`` the per-bucket sort of SortMergeJoin is skipped
    too. This is the persistent-layout analog of what
    ``repartition(key)`` buys a single query — paid once at write
    time, reused by every subsequent join. Hive-style bucketing:
    requires ``saveAsTable`` (bucket metadata lives in the catalog,
    not in parquet files). ``path=None`` → managed table under the
    warehouse dir."""
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def write_range_sorted(
    df: DataFrame,
    path: str,
    by: list[str],
    num_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Globally-ordered write: range-partition on ``by`` then sort
    within partitions, so file k's max key <= file k+1's min key and
    rows inside each file are sorted.

    This is the layout for append-mostly event/hypertable data at
    100 TB: parquet min/max stats on the leading key become a
    coarse-grained index (a time- or key-range query prunes to the
    few files whose range overlaps), and downstream merge-style
    consumers (as-of joins, windowed scans) read presorted input.
    repartitionByRange samples the key distribution (reservoir per
    partition) to build BALANCED ranges — unlike hash partitioning
    it keeps hot key-ranges together without overloading one file,
    and unlike a global orderBy().coalesce(1) it stays parallel.
    """
    out = (
        df.repartitionByRange(num_files, *by)
        if num_files
        else df.repartitionByRange(*by)
    )
    out.sortWithinPartitions(*by).write.mode(mode).parquet(path)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 << 20,
    partition_cols: list[str] | None = None,
    sort_cols: list[str] | None = None,
) -> int:
    """Small-files maintenance: rewrite a parquet dataset into
    ~``target_file_bytes`` files and atomically swap it in. Returns
    the new file count.

    Why it exists: incremental loads and streaming appends (e.g.
    ``start_event_refresh``'s one-partition-per-epoch publish)
    accumulate files over months; at 100 TB scan cost becomes
    file-open/metadata bound long before it is byte bound. Compaction
    is the standing maintenance job every long-lived table needs
    (Delta/Iceberg OPTIMIZE — here as plain parquet + directory
    rename, which is atomic on POSIX; on an object store, publish to
    a versioned prefix and flip a pointer instead).

    Single-writer job: run it from the maintenance schedule, not
    concurrently with a writer. Readers holding already-resolved
    DataFrames keep their snapshot (files are replaced via rename,
    not truncation); new reads see the compacted layout.
    """
    import math
    import os
    import shutil

    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    n_files = max(1, math.ceil(total / target_file_bytes))

    df = spark.read.parquet(path)
    if partition_cols:
        out = df.repartition(n_files, *partition_cols)
    else:
        out = df.repartition(n_files)
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)

    tmp = path.rstrip("/") + "._compact_tmp"
    old = path.rstrip("/") + "._compact_old"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    w = out.write.mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(tmp)
    # carry over sidecar metadata dirs (names starting with "_") —
    # they can hold a loader's recovery state and must survive
    # compaction
    for entry in os.listdir(path):
        src = os.path.join(path, entry)
        if entry.startswith("_") and os.path.isdir(src):
            shutil.copytree(src, os.path.join(tmp, entry), dirs_exist_ok=True)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    n = 0
    for root, _dirs, files in os.walk(path):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def zorder_key(x, y, bits: int = 16):
    """Morton / Z-order interleave of two normalized non-negative int
    columns (``bits`` bits each) into one clustering key — the
    multi-column data-skipping layout (public Morton-code technique,
    the idea behind lakehouse OPTIMIZE ZORDER BY): sorting by the
    interleaved key keeps rows close in BOTH dimensions, so min/max
    file statistics prune on either predicate column.

    Pure JVM bit expressions (2·bits shift/and/or terms, one codegen
    span); the identical integer arithmetic runs in the SQL oracle."""
    from pyspark.sql import functions as F

    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z.bitwiseOR(
                F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
            ).bitwiseOR(
                F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
            )
        )
    return z


def normalize_to_bits(v, vmin, vmax, bits: int = 16):
    """Min/max scale a non-negative int column onto [0, 2^bits):
    floor((v - vmin)·(2^bits − 1) / max(1, vmax − vmin)). The product
    stays ≪ 2^53, so the double quotient is exact enough that floor is
    engine-portable (a non-integer rational with denominator < 2^20
    can't sit within half an ulp of an integer)."""
    from pyspark.sql import functions as F

    span = F.greatest(F.lit(1).cast("long"), (vmax - vmin).cast("long"))
    return F.floor(
        (v - vmin).cast("long") * F.lit((1 << bits) - 1) / span
    ).cast("long")


def zorder_layout(
    df: DataFrame,
    col_x: str,
    col_y: str,
    bits: int = 16,
    n_files: int = 32,
) -> DataFrame:
    """Attach ``z_key`` (Morton code of the min/max-normalized pair)
    and range-repartition+sort by it — the write-side layout pass.
    Stats (min/max of each column) come from one 1-row aggregate
    broadcast below the key expression; the only shuffle is the range
    partitioner's."""
    from pyspark.sql import functions as F

    stats = df.agg(
        F.min(col_x).cast("long").alias("__xmin"),
        F.max(col_x).cast("long").alias("__xmax"),
        F.min(col_y).cast("long").alias("__ymin"),
        F.max(col_y).cast("long").alias("__ymax"),
    )
    keyed = (
        df.crossJoin(F.broadcast(stats))
        .withColumn(
            "z_key",
            zorder_key(
                normalize_to_bits(
                    F.col(col_x), F.col("__xmin"), F.col("__xmax"), bits
                ),
                normalize_to_bits(
                    F.col(col_y), F.col("__ymin"), F.col("__ymax"), bits
                ),
                bits,
            ),
        )
        .drop("__xmin", "__xmax", "__ymin", "__ymax")
    )
    return keyed.repartitionByRange(n_files, "z_key").sortWithinPartitions(
        "z_key"
    )
