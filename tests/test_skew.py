"""Skew-mitigation operators: salted join, two-phase aggregation."""

from __future__ import annotations

from pyspark.sql import functions as F

from annotation_service_spark.operators import skew as sk


def _skewed(spark):
    # 5 hot keys over 3000 rows; small side NOT broadcastable in spirit
    big = spark.range(3000).select(
        F.col("id").alias("row_id"), (F.col("id") % 5).alias("k")
    )
    small = spark.createDataFrame(
        [(i, f"dim{i}") for i in range(7)], "k long, name string"
    )
    return big, small


def test_salted_join_matches_plain_join(spark):
    big, small = _skewed(spark)
    a = sorted((r.row_id, r.name) for r in sk.salted_join(big, small, ["k"], n_salts=4).collect())
    b = sorted((r.row_id, r.name) for r in big.join(small, "k").select("row_id", "name").collect())
    assert a == b


def test_salted_join_is_deterministic_and_salted(spark):
    big, small = _skewed(spark)
    out = sk.salted_join(big, small, ["k"], n_salts=4)
    r1 = sorted((r.row_id, r.name) for r in out.collect())
    r2 = sorted((r.row_id, r.name) for r in out.collect())
    assert r1 == r2  # xxhash64 salt: stable across executions/retries
    # the join actually runs on (k, __salt)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "__salt" in plan


def test_two_phase_agg_matches_direct(spark):
    big, _ = _skewed(spark)
    df = big.withColumn("v", (F.col("row_id") * 7 % 113).cast("long"))
    out = sk.two_phase_agg(
        df,
        ["k"],
        {
            "n": (F.count, F.sum, "v"),
            "total": (F.sum, F.sum, "v"),
            "mx": (F.max, F.max, "v"),
        },
        n_salts=4,
    )
    direct = df.groupBy("k").agg(
        F.count("v").alias("n"), F.sum("v").alias("total"), F.max("v").alias("mx")
    )
    a = sorted(tuple(r) for r in out.collect())
    b = sorted(tuple(r) for r in direct.collect())
    assert a == b


def test_two_phase_agg_null_semantics(spark):
    """COUNT(*) vs COUNT(col) parity with NULL-bearing data: col=None
    counts rows (DuckDB COUNT(*)); a named column keeps non-null
    semantics (DuckDB COUNT(v))."""
    df = spark.createDataFrame(
        [(0, 10), (0, None), (0, 3), (1, None), (1, None)], "k long, v long"
    )
    out = sk.two_phase_agg(
        df,
        ["k"],
        {
            "n_rows": (F.count, F.sum, None),
            "n_v": (F.count, F.sum, "v"),
            "total": (F.sum, F.sum, "v"),
        },
        n_salts=4,
    )
    got = {r.k: (r.n_rows, r.n_v, r.total) for r in out.collect()}
    assert got == {0: (3, 2, 13), 1: (2, 0, None)}


def test_salt_spreads_identical_duplicate_rows(spark):
    """Fully identical rows (repeated log lines — the worst-case skew
    shape) must still spread across salts, not collapse onto one."""
    df = spark.createDataFrame([("hot", 1)] * 4000, "k string, v long")
    n = (
        df.withColumn("__salt", sk._row_salt(df.columns, 8))
        .select("__salt")
        .distinct()
        .count()
    )
    assert n == 8
    # and the salted aggregation still combines to the right answer
    out = sk.two_phase_agg(
        df, ["k"], {"n": (F.count, F.sum, None), "s": (F.sum, F.sum, "v")}
    ).collect()
    assert [(r.k, r.n, r.s) for r in out] == [("hot", 4000, 4000)]


def test_bucketed_range_join_zipf_probe_skew(spark):
    """J1's bucketed shuffle strategy under the production probe shape
    (bench block ``j1_skewed_probes``): 90% of probes are DUPLICATED
    values concentrated in ~1/64 of the key space, i.e. one shuffle
    bucket family absorbs almost all probes. Results must equal the
    broadcast strategy's (value parity between the two physical J1
    forms is the invariant the strategy switch relies on), and the
    hot-bucket probes must resolve to the correct ranges."""
    from annotation_service_spark.operators import interval as iv

    dom = 64 * 100
    ranges = spark.range(0, 64).select(
        (F.col("id") * 100).alias("low"),
        (F.col("id") * 100 + 49).alias("high"),
        F.concat(F.lit("r"), F.col("id")).alias("tag"),
    )
    ids = spark.range(0, 20_000)
    v = (
        F.when((F.col("id") % 10) < 9, (F.col("id") * 7919) % 50)
        .otherwise((F.col("id") * 104729) % dom)
        .cast("long")
    )
    probes = ids.select(F.col("id").alias("probe_id"), v.alias("v"))

    bucketed = iv.range_join_bucketed(
        probes, ranges, probe_col="v", low="low", high="high",
        payload=["tag"], bucket_width=128, how="left",
    )
    got = {(r.probe_id, r.tag) for r in bucketed.collect()}
    # reference: plain correlated lookup via a broadcast BETWEEN join
    want = {
        (r.probe_id, r.tag)
        for r in probes.join(
            F.broadcast(ranges),
            (F.col("v") >= F.col("low")) & (F.col("v") <= F.col("high")),
            "left",
        ).collect()
    }
    assert got == want
    # the skewed 90% (v < 100) all landed in-range and resolved to r0
    hot = [t for p, t in got if p % 10 < 9]
    assert set(hot) == {"r0"} and len(hot) == 18_000
