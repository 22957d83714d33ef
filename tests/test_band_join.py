"""``band_join`` against a brute-force enumeration of the row pairs that
share a (band, key) — or, with probing, a band and a key within the
probe's hamming radius — on small hand-built banded tables."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from annotation_service_spark.operators.banding import band_join

SCHEMA = "id long, w long, band int, key long"

# (id, w, band, key) with 3-bit keys. 1 and 2 collide in both bands
# (one pair, not two); 3 is one bit from them in band 0 and collides
# with 4 in band 1; 6 has two rows in one bucket (never a pair with
# itself); 5 meets nobody exactly.
BANDED = [
    (1, 10, 0, 5), (1, 10, 1, 2),
    (2, 20, 0, 5), (2, 20, 1, 2),
    (3, 30, 0, 4), (3, 30, 1, 7),
    (4, 40, 0, 0), (4, 40, 1, 7),
    (5, 50, 0, 3), (5, 50, 1, 1),
    (6, 60, 0, 6), (6, 60, 1, 6), (6, 60, 1, 6),
]
# right side of the two-table form: ids overlap the left side's, so a
# (3, 3) pair is a legal collision there
OTHER = [
    (3, 31, 0, 4), (7, 70, 0, 5), (7, 70, 1, 2), (8, 80, 1, 7), (9, 90, 1, 0),
]

# "where" pairs the Spark predicate (built lazily: a Column needs a live
# session) with its Python twin for the enumeration
CASES = {
    "self": {},
    "probe": {"probe": (3, 1)},
    "carry": {"carry": ("w",)},
    "carry_probe": {"carry": ("w",), "probe": (3, 1)},
    "self_probe_where_out": {
        "carry": ("w",),
        "probe": (3, 1),
        "where": (
            lambda: F.col("w_b") - F.col("w_a") >= 20,
            lambda r: r["w_b"] - r["w_a"] >= 20,
        ),
        "out": [("id_b", "id")],
    },
    "two_table": {"carry": ("w",), "other": True},
    "two_table_probe_where_out": {
        "probe": (3, 1),
        "other": True,
        "where": (
            lambda: F.col("id_a") != F.col("id_b"),
            lambda r: r["id_a"] != r["id_b"],
        ),
        "out": [("id_a", "qid"), ("id_b", "nid")],
    },
}


def brute_force(case: dict) -> list[tuple]:
    carry = case.get("carry", ())
    probe_bits = case["probe"][1] if "probe" in case else 0
    right = OTHER if case.get("other") else BANDED
    where = case["where"][1] if "where" in case else (lambda r: True)
    out = case.get("out") or [
        (c, c) for c in ["id_a", "id_b"] + [f"{c}_{s}" for s in "ab" for c in carry]
    ]
    found = set()
    for a in BANDED:
        for b in right:
            if a[2] != b[2] or bin(a[3] ^ b[3]).count("1") > probe_bits:
                continue
            if not case.get("other") and not a[0] < b[0]:
                continue
            row = {"id_a": a[0], "id_b": b[0], "w_a": a[1], "w_b": b[1]}
            if where(row):
                found.add(tuple(row[c] for c, _ in out))
    return sorted(found)


@pytest.mark.parametrize("name", list(CASES))
def test_band_join_matches_brute_force(spark, name):
    case = CASES[name]
    banded = spark.createDataFrame(BANDED, SCHEMA)
    kwargs = {k: case[k] for k in ("carry", "probe") if k in case}
    if case.get("other"):
        kwargs["other"] = spark.createDataFrame(OTHER, SCHEMA)
    if "where" in case:
        kwargs["where"] = case["where"][0]()
    if "out" in case:
        kwargs["out"] = [F.col(c).alias(n) for c, n in case["out"]]
    got = band_join(banded, **kwargs)
    expected = brute_force(case)
    assert expected, "every case must produce pairs to compare"
    if "out" in case:
        assert got.columns == [n for _, n in case["out"]]
    else:
        carry = case.get("carry", ())
        assert got.columns == ["id_a", "id_b"] + [
            f"{c}_{s}" for s in "ab" for c in carry
        ]
    # sorted list, not set: a duplicate output row fails the comparison
    assert sorted(tuple(r) for r in got.collect()) == expected
