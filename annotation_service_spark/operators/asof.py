"""As-of (dataset-selection) join and multi-source snapshot alignment.

The reference keeps a sorted directory of dataset snapshots and, per
request date, binary-searches for the last snapshot STRICTLY earlier
than the date, falling back to the FIRST snapshot when none is
earlier (directory/directory.go:221-240). Multi-source composites are
built by aligning k sorted snapshot lists on their union of dates
(MergeAnnotators, directory/directory.go:170-202).

Spark design: snapshots are a tiny dimension (hundreds of rows) —
convert to VALIDITY WINDOWS ``[valid_from, valid_to)`` once with a
date-sorted aggregate, then the as-of join is a broadcast range join the
probe stream flows through without shuffling. At 100 TB of probes
this stays a map-side operation; the alternative join-then-rank
formulation would shuffle the probe table and is deliberately
avoided.

A server asks the same question of the same registry on every
request, so ``asof_column`` answers it with no join at all: the
registry's dates are collected once per (owning table, registry
plan) and the selection rule becomes one native projection over
them.
"""

from __future__ import annotations

import threading
import weakref
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def validity_windows(
    snapshots: DataFrame,
    date_col: str = "dataset_date",
) -> DataFrame:
    """Snapshot registry → validity windows implementing the
    reference's selection rule (directory/directory.go:230-240):

    - a snapshot serves requests with ``date > dataset_date`` until
      the next snapshot's date (strictly-earlier rule);
    - the FIRST snapshot additionally serves all earlier dates
      (fallback, ``valid_from`` = NULL = unbounded past);
    - the last snapshot serves everything later (``valid_to`` = NULL).

    Window semantics: request matches iff
    ``(valid_from IS NULL OR date > valid_from) AND
      (valid_to IS NULL OR date <= valid_to)``
    with valid_from = dataset_date of this snapshot and valid_to =
    dataset_date of the next — i.e. interval (this, next].

    Built as one date-sorted array of rows and its
    ``posexplode``, where each element's successor gives ``valid_to``.
    A window over a constant key would do the same, but Catalyst folds
    the key away and Spark logs "No Partition Defined for Window" for
    every request that plans it. The array sorts whole rows, so
    snapshot columns must be orderable (no map columns).
    """
    cols = snapshots.columns
    rows = F.sort_array(
        F.collect_list(F.struct(F.col(date_col).alias("d"), F.struct(*cols).alias("r")))
    )
    arr = snapshots.agg(rows.alias("__w"))
    i, e = F.col("__i"), F.col("__e")
    return arr.select("__w", F.posexplode("__w").alias("__i", "__e")).select(
        *[e["r"][c].alias(c) for c in cols],
        F.when(i > 0, e["d"]).alias("valid_from"),
        F.get("__w", i + 1)["d"].alias("valid_to"),
    )


def asof_join(
    probes: DataFrame,
    snapshots: DataFrame,
    probe_date: str,
    snapshot_date: str = "dataset_date",
) -> DataFrame:
    """J2: attach to each probe row the snapshot serving its date
    (last strictly-earlier; first as fallback — exact reference
    semantics incl. directory_test.go:44-79 cases).

    The snapshot side is broadcast; the probe side is never shuffled.
    """
    v = validity_windows(snapshots, snapshot_date).select(
        F.col(snapshot_date).alias("__snap_date"),
        "valid_from",
        "valid_to",
    )
    on = (
        F.col("valid_from").isNull() | (F.col(probe_date) > F.col("valid_from"))
    ) & (F.col("valid_to").isNull() | (F.col(probe_date) <= F.col("valid_to")))
    out = probes.join(F.broadcast(v), on, "left")
    return out.select(
        *[probes[f.name] for f in probes.schema.fields],
        F.col("__snap_date").alias(snapshot_date),
    )


class _Registry:
    """One memoized registry: its identity and its as-of Column."""

    __slots__ = ("key", "plan", "lock", "column")

    def __init__(self, key: tuple, plan) -> None:
        self.key, self.plan = key, plan
        self.lock = threading.Lock()
        self.column = None


# owning table (by identity) -> its most recently used registries
_REGISTRIES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_REGISTRIES_LOCK = threading.Lock()
# registries kept per owner: a caller that builds a new registry plan
# per request (e.g. ``createDataFrame``) must not grow the memo
_REGISTRIES_PER_OWNER = 8


def _asof_expr(dates: list, probe: Column, dtype: T.DataType) -> Column:
    """The selection rule over ``dates`` (sorted, NULL-free) as one
    expression: the last date strictly earlier than ``probe``, else the
    first; with two or more dates a NULL ``probe`` selects nothing."""
    if not dates:
        return F.lit(None).cast(dtype)
    first = F.lit(dates[0]).cast(dtype)
    if len(dates) == 1:
        return first
    arr = F.array(*[F.lit(d) for d in dates]).cast(T.ArrayType(dtype))
    last_earlier = F.array_max(F.filter(arr, lambda d: d < probe))
    return F.when(probe.isNotNull(), F.coalesce(last_earlier, first))


def asof_column(
    snapshots: DataFrame,
    probe_date: str,
    owner: DataFrame,
    snapshot_date: str = "dataset_date",
) -> Column:
    """J2 as a projection: the ``snapshot_date`` that ``asof_join``
    attaches to each probe row, as one native ``Column`` over
    ``probe_date`` — same rule, same comparisons (a timestamp probe
    compares with the date's midnight), no join and no broadcast.

    The registry's dates are collected on the first call and the
    Column is built once; later calls return it without running Spark
    work. A registry is identified by its analyzed plan (candidates by
    ``semanticHash``, confirmed by ``sameResult``), so a server that
    rebuilds ``table.select(date).distinct()`` per request still hits.
    The memo lives as long as ``owner`` (the published table the
    registry lists), so a refresh that publishes a new table re-reads
    its registry. NULL snapshot dates are ignored."""
    plan = snapshots._jdf.queryExecution().analyzed()
    key = (probe_date, snapshot_date, plan.semanticHash())
    with _REGISTRIES_LOCK:
        entries = _REGISTRIES.setdefault(owner, [])
        entry = next((e for e in entries if e.key == key and e.plan.sameResult(plan)), None)
        if entry is None:
            entry = _Registry(key, plan)
        else:
            entries.remove(entry)
        entries.append(entry)
        del entries[:-_REGISTRIES_PER_OWNER]
    with entry.lock:
        if entry.column is None:
            sd = F.col(snapshot_date)
            dates = [r[0] for r in snapshots.where(sd.isNotNull()).select(sd).orderBy(sd).collect()]
            dtype = snapshots.schema[snapshot_date].dataType
            entry.column = _asof_expr(dates, F.col(probe_date), dtype)
    return entry.column


def merge_sources(
    registries: dict[str, DataFrame],
    date_col: str = "dataset_date",
) -> DataFrame:
    """J8 (MergeAnnotators, directory/directory.go:170-202): align k
    per-source snapshot lists into one composite registry — one row
    per distinct date carrying, per source, the newest snapshot ≤
    that date. Sources missing any snapshot ≤ d contribute NULL
    (the reference only emits composites once every list has an
    element ≤ d; filter NULLs downstream to match).

    Union all (source, date) rows and pivot one row per date; then, as
    in ``validity_windows``, one date-sorted array of those rows and
    its ``posexplode``: each element takes, per source, the last
    non-NULL date among the elements up to it. Output column per
    source: ``{source}_date``.

    SIZE CONTRACT: inputs are snapshot REGISTRIES — file listings in
    the hundreds of rows (the reference's whole directory is ~200
    entries). The whole registry is one array in one row, and each
    element scans the prefix before it. Do NOT reuse this operator
    for fact-scale inputs.
    """
    parts = []
    for name, df in registries.items():
        parts.append(
            df.select(
                F.lit(name).alias("__src"),
                F.col(date_col).alias("__d"),
                F.struct(F.col(date_col).alias("date")).alias("__pl"),
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)

    dates = u.select("__d").distinct()
    pivoted = dates
    for name in registries:
        src_rows = u.where(F.col("__src") == name).select(
            "__d", F.col("__pl").alias(f"__pl_{name}")
        )
        pivoted = pivoted.join(src_rows, "__d", "left")
    pl = [f"__pl_{name}" for name in registries]
    rows = F.sort_array(F.collect_list(F.struct("__d", *pl)))
    out = pivoted.agg(rows.alias("__w")).select(
        "__w", F.posexplode("__w").alias("__i", "__e")
    )
    upto = F.slice("__w", F.lit(1), F.col("__i") + 1)
    for c in pl:
        hits = F.filter(upto, lambda e: e[c].isNotNull())
        out = out.withColumn(c, F.get(hits, F.size(hits) - 1)[c])
    sel = [F.col("__e.__d").alias(date_col)]
    for name in registries:
        sel.append(F.col(f"__pl_{name}.date").alias(f"{name}_date"))
    return out.select(*sel)


def asof_join_union(
    probes: DataFrame,
    versions: DataFrame,
    probe_ts: str,
    version_ts: str,
    payload: Sequence[str],
    partition_by: Sequence[str],
) -> DataFrame:
    """Big-dimension as-of join (SCD2 attachment) via union + window:
    each probe row picks up the payload of the latest version with
    ``version_ts <= probe_ts`` within its partition keys. Probes with no earlier version keep
    NULL payload.

    This is the scale path complementing ``asof_join``: that form
    broadcasts the (small) snapshot registry; here the dimension can
    be arbitrarily large (e.g. one version per user per day). Union
    both sides, ONE shuffle keyed by the partition columns, sort by
    time within, and ``last(payload, ignorenulls)`` carries the
    current version forward — the classic merge-join formulation of
    as-of, no broadcast, no range join, skew bounded by the busiest
    partition key.
    """
    part = list(partition_by)
    pay = list(payload)
    probe_cols = [f.name for f in probes.schema.fields]
    p_side = probes.select(
        *part,
        F.col(probe_ts).alias("__ts"),
        F.lit(1).alias("__tag"),
        F.lit(True).alias("__is_probe"),
        *[c for c in probe_cols if c not in part and c != probe_ts],
        *[
            F.lit(None).cast(versions.schema[c].dataType).alias(f"__v_{c}")
            for c in pay
        ],
    )
    v_side = versions.select(
        *part,
        F.col(version_ts).alias("__ts"),
        # at equal timestamps versions sort first, so a probe AT a
        # version's ts sees it
        F.lit(0).alias("__tag"),
        F.lit(False).alias("__is_probe"),
        *[
            F.lit(None).cast(probes.schema[c].dataType).alias(c)
            for c in probe_cols
            if c not in part and c != probe_ts
        ],
        *[F.col(c).alias(f"__v_{c}") for c in pay],
    )
    u = p_side.unionByName(v_side)
    w = (
        Window.partitionBy(*part)
        .orderBy("__ts", "__tag")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = u.select(
        "*",
        *[
            F.last(f"__v_{c}", ignorenulls=True).over(w).alias(f"__f_{c}")
            for c in pay
        ],
    )
    return filled.where(F.col("__is_probe")).select(
        *part,
        F.col("__ts").alias(probe_ts),
        *[c for c in probe_cols if c not in part and c != probe_ts],
        *[F.col(f"__f_{c}").alias(c) for c in pay],
    )
