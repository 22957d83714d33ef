"""Scan-parallelism repair for unsplittable inputs (guide §2.5).

A parquet row group is the minimum read split, so a table written as
one row group (or one gzip member, or any layout with fewer splits
than the cluster has cores) plans as a handful of scan tasks — and
every NARROW transform above the scan (regex tokenize + explode,
per-pair vector arithmetic, hash/vote expressions) is pinned to those
few cores until the first exchange. ``spread_underparallel`` applies
the guide's remedy — "fix at the source if you can; otherwise
repartition immediately after the read".

The trigger is read off the input's physical plan; the plan is never
executed (no ``.rdd``, no job):

- a streaming input, a cached input, or a plan that already holds an
  Exchange or an in-memory scan is returned as it is — its partition
  count is the exchange's or the cache's business, not the scan's;
- otherwise the narrow chain's partition count is planned from its
  leaves (file-scan splits, RDD/local/range slice counts), summed
  over a Union and capped by a Coalesce. Only a count at least
  ``_FACTOR`` times below ``defaultParallelism`` pays the one bounded
  round-robin exchange, so at production scale (thousands of splits)
  this is a no-op.

Call sites are deliberately the COMPUTE-BOUND operators, not the
generic reader: interleaved A/B (r14) measured blanket spreading as a
net zero — tokenize/explode and expression-scoring pipelines win
0.42-0.77x, while scan+filter+partial-agg shapes (dedup_exact,
event_rollup, tpch_q6) and mapInPandas-under-big-broadcast paths
(annotate's fused range join: +1 worker per partition, each
deserializing the broadcast ranges; the GEMM top-k: per-partition
candidate fan-out grows with partition count) LOSE more than the
exchange costs. The operator knows whether its per-row work is heavy;
the reader does not.

The fused range join's cost is per TASK, not per row, so it gets the
opposite rule, ``rebalance_for_python``, which lets AQE size its
Python input by bytes (usually to fewer tasks, never to more than the
bytes call for). Both rules read the same plan and run no job.
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame

from annotation_service_spark.caching import is_cached

_FACTOR = 4
_FILE_SCANS = ("FileSourceScanExec", "BatchScanExec")


def _children(plan) -> list:
    kids = plan.children()
    return [kids.apply(i) for i in range(kids.size())]


def _is_settled(plan) -> bool:
    """True when the plan holds an Exchange (or, after AQE ran, a
    query stage) or an in-memory scan anywhere."""
    name = plan.getClass().getSimpleName()
    if "Exchange" in name or "QueryStage" in name or name == "InMemoryTableScanExec":
        return True
    return any(_is_settled(c) for c in _children(plan))


def _planned_partitions(plan) -> int:
    """Partition count of an exchange-free physical plan, from its
    leaves: building a leaf's RDD lists its splits and runs nothing."""
    name = plan.getClass().getSimpleName()
    kids = _children(plan)
    if not kids:
        rdd = plan.inputRDD() if name in _FILE_SCANS else plan.execute()
        return rdd.getNumPartitions()
    counts = [_planned_partitions(c) for c in kids]
    if name == "CoalesceExec":
        return min(plan.numPartitions(), counts[0])
    if name == "UnionExec":
        return sum(counts)
    return max(counts)


def _unsettled_partitions(df: DataFrame) -> int | None:
    """The planned partition count of ``df``'s narrow chain, or None
    when the plan is not the scan's business (streaming, cached, an
    Exchange or in-memory scan inside) or fails to plan."""
    if df.isStreaming or is_cached(df):
        return None
    try:
        plan = df._jdf.queryExecution().executedPlan()
        if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            plan = plan.executedPlan()  # the initial plan until it runs
        if _is_settled(plan):
            return None
        return _planned_partitions(plan)
    except Py4JError:  # planning failure — never block the data path
        return None


def spread_underparallel(df: DataFrame) -> DataFrame:
    """Round-robin repartition ``df`` to the session's default
    parallelism iff its planned partition count is at least
    ``_FACTOR`` times below it (see the module docstring for the
    plan rule). Content-neutral (sort-before-repartition keeps the
    assignment deterministic under task retry); cost when it fires
    is one exchange of at most (splits x maxPartitionBytes)."""
    n = _unsettled_partitions(df)
    target = df.sparkSession.sparkContext.defaultParallelism
    if n is not None and n * _FACTOR <= target:
        return df.repartition(target)
    return df


def rebalance_for_python(df: DataFrame) -> DataFrame:
    """``df`` under one ``rebalance`` hint iff its plan is unsettled (as
    for ``spread_underparallel``) and plans more than one but at most
    ``defaultParallelism`` partitions; otherwise ``df`` as it is.

    For the input of a Python crossing (``mapInPandas``) whose kernel is
    cheap. Cost model, per crossing over n input partitions:

    - each Python task pays a fixed start cost c_task before its first
      batch (on a 4-core host with Python 3.11, 150-180 ms: PySpark's
      worker ``setup_spark_files`` calls ``importlib.invalidate_caches()``,
      which re-reads the zip directory of ``pyspark.zip`` and the
      spark-core jar on every task), against 3-15 ms of kernel work for
      a few hundred rows;
    - unbalanced, the crossing costs n x c_task of CPU; at n <= cores
      those tasks run in one wave, so that CPU is taken from whatever
      runs beside the request (other requests, refresh streams);
    - rebalanced, AQE coalesces the round-robin exchange by bytes
      (``parallelismFirst``: max(1 MiB, min(advisory size, bytes /
      cores)) per partition), so a request of a few hundred rows runs
      the kernel in ONE task, and m tasks remain only when the bytes
      fill m such partitions. The exchange costs the upstream stage one
      shuffle write of the probe bytes and the action one more job.

    So it pays when n > 1 and the input is small, and is skipped where
    it cannot: one partition is already one task; more partitions than
    cores are a probe stream whose scan splits already fill every core,
    and shuffling it would cost more than the task starts it saves. No
    job runs; sort-before-repartition keeps the round robin retry-stable.
    """
    n = _unsettled_partitions(df)
    if n is not None and 1 < n <= df.sparkSession.sparkContext.defaultParallelism:
        return df.hint("rebalance")
    return df
