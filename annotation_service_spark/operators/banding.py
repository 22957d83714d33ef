"""The banded candidate join shared by every LSH and fingerprint family.

MinHash (set and weighted), SimHash, image pHash, audio fingerprints
and random-hyperplane embedding LSH all reduce near-neighbour search
to one relational step: explode each item into (id, band, key) rows,
equi-join on (band, key), and keep the id pairs that collided in at
least one band. ``band_join`` is that step; the families differ only
in how they compute their band keys. Everything here is JVM built-in
expressions — no Python crosses the join.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def fingerprint_bands(fp: Column, bits: int, bands: int) -> Column:
    """Array of (band, key) structs cut from a long fingerprint by
    shift+mask: band b is the b-th most significant bits//bands-bit
    slice. Arithmetic shiftright's sign fill lands above the band
    mask, so keys are correct for any bit pattern with bit 63 clear."""
    width = bits // bands
    mask = (1 << width) - 1
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(fp, (bands - 1 - b) * width)
                .bitwiseAND(F.lit(mask))
                .alias("key"),
            )
            for b in range(bands)
        ]
    )


def _probe_keys(key: Column, bits_per_band: int, probe_bits: int) -> Column:
    """Multi-probe key set: the exact band key plus every key within
    hamming ≤ probe_bits of it. Only probe_bits ∈ {0, 1} are
    implemented (hamming-1 probing is the standard recall/cost point:
    it multiplies query-side band rows by 1+bits_per_band while the
    random-collision rate stays ∝ 2^-bits_per_band)."""
    if probe_bits == 0:
        return F.array(key)
    if probe_bits != 1:
        raise ValueError("probe_bits must be 0 or 1")
    return F.array(key, *[key.bitwiseXOR(F.lit(1 << j)) for j in range(bits_per_band)])


def band_join(
    banded: DataFrame,
    carry: Sequence[str] = (),
    probe: tuple[int, int] | None = None,
    other: DataFrame | None = None,
    where: Column | None = None,
    out: Sequence[Column | str] | None = None,
) -> DataFrame:
    """Deduped candidate pairs from banded rows (id, *carry, band, key).

    The left side is ``banded``; the right side is ``other`` (same
    schema) or, by default, ``banded`` again. Each side's id and
    carried columns come out suffixed: id_a, {c}_a / id_b, {c}_b.
    ``probe=(bits_per_band, probe_bits)`` replaces every key of the
    probing side by its ``_probe_keys`` neighbourhood, so rows also
    collide when their band keys differ in ≤ probe_bits bits. The
    probing side is ``other`` when given (queries probing into
    ``banded``), else the left copy of ``banded``. Both keep the
    smaller side on the right, which the planner builds into the
    broadcast when both sides fit under the threshold (with the
    queries on the left, the hyperplane-LSH gates broadcast the
    corpus band table instead).

    A self-join reports each unordered pair once (id_a < id_b); a
    join against ``other`` keeps every (left, right) collision.
    ``where`` filters collision rows before the dedupe, and ``out``
    is the projection that is deduped (default: id_a, id_b, then the
    carried columns of each side) — a caller deduping on fewer
    columns passes them here, so a pair that collides in several
    bands is never carried wider than its consumer needs."""

    def side(df: DataFrame, s: str, probing: bool) -> DataFrame:
        key = (
            F.explode(_probe_keys(F.col("key"), *probe)).alias("key")
            if probing and probe is not None
            else "key"
        )
        return df.select(
            F.col("id").alias(f"id_{s}"),
            *[F.col(c).alias(f"{c}_{s}") for c in carry],
            "band",
            key,
        )

    if other is None:
        left, right = side(banded, "a", True), side(banded, "b", False)
        ordered = F.col("id_a") < F.col("id_b")
        where = ordered if where is None else ordered & where
    else:
        left, right = side(banded, "a", False), side(other, "b", True)
    pairs = left.join(right, ["band", "key"])
    if where is not None:
        pairs = pairs.where(where)
    if out is None:
        out = ["id_a", "id_b", *[f"{c}_{s}" for s in "ab" for c in carry]]
    return pairs.select(*out).distinct()
