"""spread_underparallel (annotation_service_spark/partitioning.py):
the guide-§2.5 repartition-after-unsplittable-read remedy. Pins the
trigger contract — fire only when the input plans far fewer
partitions than the cluster has cores, never change row content, and
no-op (rather than raise) on plans whose partitioning cannot be
probed (streaming). rebalance_for_python, the rule for the input of a
Python crossing, is pinned on ``range_join_broadcast``'s probe side:
a rebalance only for a batch plan of 2..defaultParallelism partitions."""

from __future__ import annotations

from pyspark.sql import functions as F

from annotation_service_spark.operators.interval import range_join_broadcast
from annotation_service_spark.partitioning import rebalance_for_python, spread_underparallel


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


def _ranges(spark):
    """A local relation: its size estimate is exact, so its build is
    memoized (an RDD-built frame has no estimate and rebuilds per call)."""
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame({"low": [0, 200], "high": [99, 299], "p": ["a", "b"]}),
        "low long, high long, p string",
    )


def _below_kernel(df) -> str:
    """The executed plan below ``df``'s MapInPandas."""
    p = df._jdf.queryExecution().executedPlan().toString()
    return p[p.index("MapInPandas"):]


def test_probe_with_more_splits_than_cores_keeps_its_partitioning(spark):
    """A probe stream with 2 x defaultParallelism splits already fills
    every core: the range join plans no Exchange below its kernel."""
    target = spark.sparkContext.defaultParallelism
    probes = spark.range(0, 1000, 1, 2 * target).select(F.col("id").alias("v"))
    out = range_join_broadcast(probes, _ranges(spark), "v", low="low", high="high", payload=["p"])
    assert "Exchange" not in _below_kernel(out)
    got = {r.v: r.p for r in out.collect()}
    assert (got[5], got[150], got[250]) == ("a", None, "b")


def test_underparallel_probe_is_rebalanced_from_the_plan(spark):
    """2..defaultParallelism partitions get one round-robin rebalance
    below the kernel, one partition none (it is one task already), and
    deciding either starts no Spark job. Rows are the same either way."""
    target = spark.sparkContext.defaultParallelism
    ranges = _ranges(spark)
    range_join_broadcast(spark.range(1).select(F.col("id").alias("v")), ranges, "v",
                         low="low", high="high", payload=["p"]).collect()  # build once
    for n in sorted({1, 2, target}):
        probes = spark.range(0, 300, 1, n).select(F.col("id").alias("v"))
        jobs, out = _jobs_started(spark, lambda: range_join_broadcast(
            probes, ranges, "v", low="low", high="high", payload=["p"]))
        assert jobs == 0, n
        below = _below_kernel(out)
        if 1 < n <= target:
            assert below.count("Exchange") == 1, (n, below)
            assert "RoundRobinPartitioning" in below and "REBALANCE_PARTITIONS_BY_NONE" in below
        else:
            assert "Exchange" not in below, below
        assert sorted(r.v for r in out.where(F.col("p") == "b").collect()) == list(range(200, 300))


def test_streaming_probe_gets_no_rebalance(spark):
    """A streaming probe keeps its source partitioning: no rebalance
    is planned into the range join over it."""
    stream = spark.readStream.format("rate").load().select(F.col("value").alias("v"))
    assert rebalance_for_python(stream) is stream
    out = range_join_broadcast(stream, _ranges(spark), "v", low="low", high="high", payload=["p"])
    assert out.isStreaming
    assert "Rebalance" not in out._jdf.queryExecution().analyzed().toString()
