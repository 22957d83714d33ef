"""Time-window rollups over event streams/tables.

The reference's only aggregations are operational metrics
(metrics/metrics.go:11-88, latency histograms bucketed per request);
an analytics engine over 100 TB of events needs the general form: a
tumbling-window rollup keyed by arbitrary dimensions — the batch
twin of the Structured Streaming windowed aggregation (the streaming
side is streaming/annotate_stream.latency_histogram; both share Spark's
``window()`` semantics, so a query moves between them verbatim).

Scale notes:
- ``window()`` is a pure projection (bucket start computed from the
  timestamp) — the only shuffle is the groupBy, map-side combinable,
  keyed by (bucket, dims). Cardinality = n_buckets × n_dim_values,
  orders of magnitude below the input.
- value sums are carried as ``floor(value·1000)`` BIGINT fixed-point
  so the reduction is associative-exact: a double sum's value depends
  on reduction order, which would make distributed results
  run-to-run unstable (and unverifiable against any oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_rollup(
    events: DataFrame,
    window_width: str = "1 hour",
    ts_col: str = "ts",
    dims: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
    watermark: str | None = None,
) -> DataFrame:
    """Tumbling-window count + fixed-point value sum per dimension.

    Returns (window_start, *dims, n_events, sum_v_milli) where
    ``sum_v_milli`` is the exact BIGINT sum of floor(value·1000).

    Works unchanged on a streaming DataFrame: pass ``watermark``
    (e.g. "10 minutes") and the same plan runs under Structured
    Streaming with append-mode finalized windows — rows later than
    the watermark are dropped, closed windows emit exactly once.
    One query text, two execution modes (batch backfill + live
    rollup), which is the point of building on the DataFrame API.
    """
    return _rollup(events, window_width, None, ts_col, dims, value_col, watermark)


def hopping_rollup(
    events: DataFrame,
    window_width: str = "1 hour",
    slide: str = "30 minutes",
    ts_col: str = "ts",
    dims: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
    watermark: str | None = None,
) -> DataFrame:
    """Hopping (sliding) windows: each event lands in width/slide
    overlapping windows — Spark's ``window(ts, width, slide)``
    expands them as a generator, so the shuffle grows by that factor
    but stays map-side combinable and uniformly keyed. Same schema
    and streaming behavior as ``tumbling_rollup``."""
    return _rollup(events, window_width, slide, ts_col, dims, value_col, watermark)


def _rollup(
    events: DataFrame,
    window_width: str,
    slide: str | None,
    ts_col: str,
    dims: tuple[str, ...],
    value_col: str,
    watermark: str | None,
) -> DataFrame:
    if watermark is not None:
        events = events.withWatermark(ts_col, watermark)
    if slide is None:
        w = F.window(F.col(ts_col), window_width)
    else:
        w = F.window(F.col(ts_col), window_width, slide)
    return (
        events.groupBy(w.alias("w"), *dims)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col(value_col) * 1000).cast("long"))
            .cast("long")
            .alias("sum_v_milli"),
        )
        .select(F.col("w.start").alias("window_start"), *dims,
                "n_events", "sum_v_milli")
    )


def merge_rollups(*parts: DataFrame) -> DataFrame:
    """Incremental materialized-rollup maintenance: merge rollup
    PARTIALS (a standing state table + a fresh delta partition)
    into the same result a full recompute would give — the nightly
    pattern that lets a 100 TB pipeline maintain its aggregate
    tables by scanning only the new partition.

    Works because every carried statistic is mergeable: counts add,
    fixed-point BIGINT sums add (associative-exact — the reason
    ``_rollup`` carries floor(value·1000) instead of a double sum).
    The merge shuffles only ROLLUP rows (buckets × dims), never the
    underlying events; with state and delta both partitioned by
    window_start, AQE plans it as a near-local union+reduce.
    """
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    keys = [
        c for c in merged.columns if c not in ("n_events", "sum_v_milli")
    ]
    return merged.groupBy(*keys).agg(
        F.sum("n_events").cast("long").alias("n_events"),
        F.sum("sum_v_milli").cast("long").alias("sum_v_milli"),
    )
