"""Request-stream annotation + streaming operational metrics (ST6, A2).

Reference: each HTTP batch is annotated against slowly-changing
dataset tables (handler/handler.go:194-243); late event-time (old
request dates) is served by the as-of join over historical snapshots
— the as-of join IS the late-data story, so the annotate stream
itself is stateless per micro-batch. Watermarks appear only for the
event-time metric aggregates (metrics/metrics.go:11-88 analogs).

Spark mapping: ``readStream`` → the SAME batch pipeline (the plan is
identical; Structured Streaming just re-executes it per micro-batch
against static broadcast dataset tables) → ``writeStream``. Dataset
refresh between micro-batches = swapping the static side (see
refresh.SnapshotStore).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.annotate import annotate


def annotate_stream(
    request_stream: DataFrame,
    geo_ranges: DataFrame,
    locations: DataFrame,
    asn_ranges: DataFrame,
    asnames: DataFrame,
    ip_col: str = "ip",
    date_col: str | None = None,
    registry: DataFrame | None = None,
) -> DataFrame:
    """ST6: the batch annotate plan applied to a streaming request
    DataFrame (stream-static joins + the broadcast binary-search
    range join, which is stream-safe: mapInPandas over a broadcast
    table keeps the stream stateless)."""
    return annotate(
        request_stream,
        geo_ranges,
        locations,
        asn_ranges,
        asnames,
        ip_col=ip_col,
        date_col=date_col,
        registry=registry,
    )


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
