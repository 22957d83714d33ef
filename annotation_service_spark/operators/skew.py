"""Skew mitigation: salted equi-join / two-phase aggregation.

AQE's skew-join splitting (enabled in session.py) handles most skew
at runtime by splitting oversized SortMergeJoin partitions. Salting
is the explicit, planner-independent tool for the cases AQE can't
touch: a broadcast-ineligible dimension joined on a key where a
handful of values dominate (the classic hot-key shuffle straggler),
or engines/paths where AQE is off.

``salted_join`` spreads each hot key over ``n_salts`` reducers: the
big side derives a DETERMINISTIC salt from its row content
(xxhash64 — no rand(), so retries/speculative tasks and oracle
replays see identical output), the small side replicates ``n_salts``
times (explode of a literal sequence, JVM-side), and the join runs on
(key, salt). Shuffle cost: big side unchanged, small side × n_salts —
the standard trade.

``two_phase_agg`` is the aggregation twin: pre-aggregate on
(key, salt), then finish on key. Spark's hash aggregate already does
map-side partial aggregation, so this matters only for aggregates
with large per-key state (e.g. collect_set on a hot key) — provided
the combine is algebraic.

Salt derivation: xxhash64 of the row content PLUS a per-row
``monotonically_increasing_id()``, so fully identical duplicate rows
(repeated log lines — a common real skew shape) still spread across
salts instead of collapsing onto one. The id term is nondeterministic
across retries, but the OUTPUT is salt-invariant by construction (the
join replicates the small side for every salt value; the aggregation
combine is algebraic), so task retries / speculative execution cannot
change results — Spark recomputes nondeterministic map stages whole
on fetch failure.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _row_salt(cols: Sequence[str], n_salts: int) -> Column:
    """Per-row salt in [0, n_salts): content hash + a per-row unique
    id, so identical duplicate rows don't all land on one salt."""
    src: list[Column] = [F.col(c) for c in cols]
    return F.pmod(
        F.xxhash64(*src) + F.monotonically_increasing_id(), F.lit(n_salts)
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: Sequence[str],
    n_salts: int = 8,
) -> DataFrame:
    """Skew-safe inner equi-join of a big (skewed) side with a
    non-broadcastable small side on columns ``on``.

    Output columns = big's columns + small's non-key columns (the
    usual equi-join projection)."""
    on = list(on)
    b = big.withColumn("__salt", _row_salt(big.columns, n_salts))
    s = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).withColumn("__salt", F.col("__salt").cast("long"))
    joined = b.join(s, on + ["__salt"])
    small_payload = [c for c in small.columns if c not in on]
    return joined.select(*big.columns, *small_payload)


def two_phase_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple],
    n_salts: int = 8,
) -> DataFrame:
    """Two-phase (salted) aggregation for algebraic aggregates with
    heavy per-key state. ``aggs`` maps output name → (partial_fn,
    final_fn, col), e.g. {"n": (F.count, F.sum, "x")} or
    {"mx": (F.max, F.max, "x")}; partial runs on (keys, salt), final
    on keys.

    ``col=None`` means "count rows" (SQL ``COUNT(*)``): the partial
    runs on a literal, so NULLs in data columns are counted. With a
    named column, ``F.count`` keeps SQL ``COUNT(col)`` non-null
    semantics — choose per aggregate."""
    keys = list(keys)
    salted = df.withColumn("__salt", _row_salt(df.columns, n_salts))
    partial = salted.groupBy(*keys, "__salt").agg(
        *[
            pf(F.lit(1) if c is None else c).alias(f"__p_{name}")
            for name, (pf, _ff, c) in aggs.items()
        ]
    )
    return partial.groupBy(*keys).agg(
        *[ff(f"__p_{name}").alias(name) for name, (_pf, ff, _c) in aggs.items()]
    )
