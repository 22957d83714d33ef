"""Multi-batch streaming annotate + ST4 snapshot swap under load
(VERDICT r8 #2). The reference's serving pattern is request batches
arriving over time against a dataset directory that a refresh can swap
between batches (handler/handler.go:194-243 + manager/manager.go:38-57).
Here: a chunked file-drop stream drained as one-file micro-batches,
annotated per-batch against the CURRENT published snapshot, with a
versioned-manifest swap landing between micro-batches — results before
the swap carry the old snapshot's payload, results after carry the new,
and nothing tears."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from annotation_service_spark.functions import ip as ipf
from annotation_service_spark.operators import interval as iv
from annotation_service_spark.streaming.refresh import (
    SnapshotStore,
    VersionedTableManifest,
)


def _ranges_df(spark, brand: str):
    """One /24 per partkey-style network, payload tagged ``brand``."""
    return (
        spark.range(0, 8)
        .select(
            F.format_string("10.0.%d.0/24", F.col("id")).alias("cidr"),
            F.lit(brand).alias("brand"),
        )
        .select(ipf.cidr_to_range(F.col("cidr")).alias("r"), "brand")
        .select(
            F.col("r.ip_low").alias("ip_low"),
            F.col("r.ip_high").alias("ip_high"),
            "brand",
        )
    )


def _annotate(probes, ranges):
    joined = iv.range_join_broadcast(
        probes, ranges, probe_col="ip", payload=["brand"], parse_ips=True,
    )
    return joined.select(
        "req_id", "ip", F.coalesce("brand", F.lit("MISSING")).alias("brand")
    )


def test_multibatch_equals_batch(spark, tmp_path):
    """The gate's core claim, pinned in pytest at a controlled batch
    count: draining the same closed input as 4 one-file micro-batches
    equals the single batch plan row-for-row."""
    in_dir = str(tmp_path / "incoming")
    reqs = spark.range(0, 400).select(
        F.col("id").alias("req_id"),
        F.format_string("10.0.%d.%d", (F.col("id") / 64).cast("long"),
                        F.col("id") % 256).alias("ip"),
    )
    reqs.repartition(4).write.parquet(in_dir)
    ranges = _ranges_df(spark, "B1")

    stream = (
        spark.readStream.schema(reqs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )
    sink = str(tmp_path / "sink")
    q = (
        _annotate(stream, ranges)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n_batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
    assert n_batches >= 4

    got = sorted(
        spark.read.parquet(sink).collect(), key=lambda r: r.req_id
    )
    want = sorted(
        _annotate(spark.read.parquet(in_dir), ranges).collect(),
        key=lambda r: r.req_id,
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_snapshot_swap_between_micro_batches(spark, tmp_path):
    """ST4 under load: the annotate stream re-resolves the published
    snapshot PER MICRO-BATCH (the serving pattern — each request batch
    sees the manager's current directory), a refresh swaps the
    snapshot after the first batch commits, and every output row is
    consistently OLD (pre-swap batches) or NEW (post-swap batches) —
    never a torn mix within a batch, and both oracles hold."""
    table_dir = str(tmp_path / "ranges_table")
    manifest = VersionedTableManifest(table_dir)
    store = SnapshotStore()

    # snapshot v1 published
    d0 = os.path.join(table_dir, "batch=0")
    _ranges_df(spark, "OLD").withColumn(
        "dataset_date", F.lit("2024-01-01")
    ).write.partitionBy("dataset_date").parquet(d0)
    manifest.commit(0, [d0])
    store.swap("ranges", manifest.read(spark))

    # snapshot v2 staged but NOT yet published (the refresh in flight)
    d1 = os.path.join(table_dir, "batch=1")
    _ranges_df(spark, "NEW").withColumn(
        "dataset_date", F.lit("2024-02-01")
    ).write.partitionBy("dataset_date").parquet(d1)

    in_dir = str(tmp_path / "incoming")
    reqs = spark.range(0, 300).select(
        F.col("id").alias("req_id"),
        F.format_string("10.0.%d.%d", (F.col("id") / 64).cast("long"),
                        F.col("id") % 256).alias("ip"),
    )
    reqs.repartition(3).write.parquet(in_dir)

    out_dir = str(tmp_path / "annotated")
    swap_epochs: list[int] = []

    def process(batch_df, epoch_id):
        # re-resolve the CURRENT snapshot at batch start — the stream
        # analog of the reference taking the RWMutex read lock per
        # request batch
        ranges = store.get("ranges").drop("dataset_date")
        (
            _annotate(batch_df, ranges)
            .withColumn("epoch", F.lit(int(epoch_id)))
            .write.mode("append")
            .parquet(out_dir)
        )
        if int(epoch_id) == 0:
            # the refresh lands between micro-batches: replacing commit
            # + store swap (deterministic stand-in for a concurrent
            # refresh thread — same interleaving, no race in the test)
            manifest.commit(1, [d1], replace=True)
            store.swap("ranges", manifest.read(spark))
            swap_epochs.append(int(epoch_id))

    q = (
        spark.readStream.schema(reqs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert swap_epochs == [0]

    out = spark.read.parquet(out_dir)
    by_epoch = {
        r.epoch: set(b.brand for b in out.where(F.col("epoch") == r.epoch)
                     .select("brand").distinct().collect())
        for r in out.select("epoch").distinct().collect()
    }
    assert len(by_epoch) >= 3
    # batch 0 ran wholly on v1; every later batch wholly on v2
    assert by_epoch[0] == {"OLD"}
    for e, brands in by_epoch.items():
        if e > 0:
            assert brands == {"NEW"}, f"epoch {e} tore snapshots: {brands}"
    # both oracles: each epoch's rows equal the batch annotate against
    # the snapshot that epoch resolved
    old_ranges = manifest.read(spark, version=0).drop("dataset_date")
    new_ranges = manifest.read(spark, version=1).drop("dataset_date")
    for e in by_epoch:
        got = sorted(
            (r.req_id, r.ip, r.brand)
            for r in out.where(F.col("epoch") == e).collect()
        )
        epoch_reqs = spark.createDataFrame(
            [(r.req_id, r.ip) for r in out.where(F.col("epoch") == e)
             .select("req_id", "ip").collect()],
            "req_id long, ip string",
        )
        oracle = old_ranges if e == 0 else new_ranges
        want = sorted(
            (r.req_id, r.ip, r.brand)
            for r in _annotate(epoch_reqs, oracle).collect()
        )
        assert got == want


def test_live_arrival_processing_time_trigger(spark, tmp_path):
    """VERDICT r9 #5 — the reference's SERVING loop, not a drain: the
    annotate stream runs under a processingTime trigger while an async
    writer thread drops request files into the watched directory. New
    files must be discovered and annotated by the live query (no
    restart, no availableNow re-listing), across >= 3 non-empty
    triggers, with exact row parity against the batch plan over
    everything that arrived. Drops are made atomic the way a real
    ingest does it: write to a staging dir, then os.rename the part
    files in (the file source must never list a torn file)."""
    import glob
    import threading
    import time as _t

    in_dir = tmp_path / "incoming"
    in_dir.mkdir()
    ranges = _ranges_df(spark, "LIVE")

    def make_chunk(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("req_id"),
            F.format_string("10.0.%d.%d", (F.col("id") / 64).cast("long"),
                            F.col("id") % 256).alias("ip"),
        )

    def drop_chunk(i, lo, hi):
        stage = str(tmp_path / f"stage_{i}")
        make_chunk(lo, hi).coalesce(1).write.parquet(stage)
        for j, p in enumerate(glob.glob(os.path.join(stage, "part-*.parquet"))):
            os.rename(p, str(in_dir / f"chunk-{i}-{j}.parquet"))

    drop_chunk(0, 0, 100)  # one file exists before the query starts
    schema = make_chunk(0, 1).schema

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(in_dir))
    )
    sink = str(tmp_path / "sink")
    q = (
        _annotate(stream, ranges)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        # async arrivals WHILE the query is live
        def writer():
            for i in range(1, 4):
                _t.sleep(0.8)
                drop_chunk(i, i * 100, i * 100 + 100)

        wt = threading.Thread(target=writer)
        wt.start()
        wt.join(120)

        def sunk_rows():
            try:
                return spark.read.parquet(sink).count()
            except Exception:
                return 0

        deadline = _t.time() + 90
        while sunk_rows() < 400 and _t.time() < deadline:
            _t.sleep(0.3)
    finally:
        q.stop()
        q.awaitTermination(60)

    n_triggers = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
    assert n_triggers >= 3, f"live query ran only {n_triggers} data triggers"

    got = sorted(
        tuple(r) for r in spark.read.parquet(sink).collect()
    )
    want = sorted(
        tuple(r)
        for r in _annotate(spark.read.parquet(str(in_dir)), ranges).collect()
    )
    assert len(got) == 400
    assert got == want
