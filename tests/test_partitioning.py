"""spread_underparallel (annotation_service_spark/partitioning.py):
the guide-§2.5 repartition-after-unsplittable-read remedy. Pins the
trigger contract — fire only when the input plans far fewer
partitions than the cluster has cores, never change row content, and
no-op (rather than raise) on plans whose partitioning cannot be
probed (streaming)."""

from __future__ import annotations

from pyspark.sql import functions as F

from annotation_service_spark.partitioning import spread_underparallel


def test_spreads_single_partition_input(spark):
    df = spark.range(1000).coalesce(1).select(
        "id", (F.col("id") % 7).alias("k")
    )
    assert df.rdd.getNumPartitions() == 1
    out = spread_underparallel(df)
    target = spark.sparkContext.defaultParallelism
    assert out.rdd.getNumPartitions() == target
    # content-neutral
    assert sorted(r.id for r in out.collect()) == list(range(1000))


def test_leaves_already_parallel_input_alone(spark):
    target = spark.sparkContext.defaultParallelism
    df = spark.range(1000).repartition(target)
    out = spread_underparallel(df)
    # identical object back — no extra exchange added
    assert out is df


def test_streaming_input_noops(spark):
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "1").load()
    )
    out = spread_underparallel(stream)
    assert out is stream  # .rdd raises on streams; helper must no-op


def _jobs_started(spark, call):
    """(Spark jobs started while ``call()`` ran, its result)."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = set(sc.statusTracker().getJobIdsForGroup(None))
    out = call()
    bus.waitUntilEmpty()
    return len(set(sc.statusTracker().getJobIdsForGroup(None)) - before), out


def test_settled_inputs_are_decided_from_the_plan(spark):
    """An input whose plan already holds an Exchange (a groupBy, a
    spread of a spread), a cached input and a stream each come back
    as they are — and deciding so starts no Spark job: the helper
    reads the plan, it never executes it (under AQE an ``.rdd`` probe
    of the groupBy or the spread would run their shuffle map side)."""
    one = spark.range(1000).coalesce(1).select("id", (F.col("id") % 7).alias("k"))
    cached = spark.range(1000).coalesce(1).select("id").cache()
    inputs = {
        "groupBy": one.groupBy("k").count(),
        "spread of spread": spread_underparallel(one),
        "cached": cached,
        "stream": spark.readStream.format("rate").load(),
    }
    try:
        for name, df in inputs.items():
            jobs, out = _jobs_started(spark, lambda: spread_underparallel(df))
            assert jobs == 0, name
            assert out is df, name
    finally:
        cached.unpersist()


def test_union_and_coalesce_plan_their_partition_counts(spark):
    """The narrow chain's count comes from its leaves: a Union sums
    its branches, a Coalesce caps its child — so a wide Union is left
    alone and a coalesced one is spread."""
    target = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 100, 1, target).union(spark.range(0, 100, 1, target))
    assert spread_underparallel(wide) is wide
    narrow = wide.coalesce(1)
    out = spread_underparallel(narrow)
    assert out is not narrow
    assert out.rdd.getNumPartitions() == target
