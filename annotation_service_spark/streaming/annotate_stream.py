"""Streaming operational metrics (A2).

Request-stream annotation (ST6) needs no wrapper: ``plans.annotate.
annotate`` takes a streaming request DataFrame as it is. Each HTTP
batch is annotated against slowly-changing dataset tables
(handler/handler.go:194-243); late event-time (old request dates) is
served by the as-of join over historical snapshots — the as-of join
IS the late-data story, so the annotate stream itself is stateless
per micro-batch, and Structured Streaming re-executes the batch plan
per micro-batch against static broadcast dataset tables. Dataset
refresh between micro-batches = swapping the static side (see
refresh.SnapshotStore). Watermarks appear only for the event-time
metric aggregates here (metrics/metrics.go:11-88 analogs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def latency_histogram(
    events: DataFrame,
    value_col: str = "value",
    ts_col: str = "ts",
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """A2 streaming: log-bucketed latency histogram over event time
    (metrics/metrics.go:19-33's 10µs–10s log buckets)."""
    v = F.col(value_col)
    bucket = F.when(v <= 0, F.lit(-1)).otherwise(
        F.floor(F.log10(v)).cast("int")
    )
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window), bucket.alias("log10_bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
