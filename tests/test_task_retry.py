"""Results do not depend on task retry. On master ``local[4,2]`` every
task that reads an input table fails its first attempt (one marker file
per failure), and ``sentence_dedup`` (a plan-decided spread site),
``dedup_minhash_lsh`` (``band_join`` plus scoped caches) and a warm as-of
``annotate`` request on a ``SnapshotStore`` of parquet-published tables
(the ``range_join_broadcast`` memo and the one-crossing Arrow kernel)
must return the rows of a failure-free run in the same session. The
request also fails the first attempt of every task after the
round-robin rebalance below its kernel, so tasks on both sides of that
exchange retry. (A retried map task assigns its rows round-robin as
before: Spark sorts them first, ``spark.sql.execution.sortBeforeRepartition``,
on by default. Here the request's rows also arrive in a fixed order,
so the run does not depend on that sort.) The subprocess is this module:
``python -m tests.test_task_retry FIXTURES OUT``.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import pathlib
import subprocess
import sys

from tests.test_sources import fixture_dir  # noqa: F401 (fixture reuse)

REPO = pathlib.Path(__file__).resolve().parent.parent
SF = "/root/testdata/sf0.001"
IPS = ["1.0.0.5", "1.0.1.9", "1.0.2.1", "1.0.3.3", "1.0.5.1", "1.0.8.8",
       "2001:200::1", "2002:100:5::1", "bogus", " 1.0.0.7"]


def test_results_survive_task_retries(tmp_path, fixture_dir):  # noqa: F811
    proc = subprocess.run(
        [sys.executable, "-m", "tests.test_task_retry", str(fixture_dir), str(tmp_path)],
        cwd=REPO, capture_output=True, text=True, timeout=1200,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    report = json.loads((tmp_path / "report.json").read_text())
    assert sorted(report) == ["annotate_warm", "dedup_minhash_lsh", "sentence_dedup"]
    for path, (rows, failed_attempts, equal) in report.items():
        assert rows > 0 and failed_attempts > 0 and equal, (path, rows, failed_attempts, equal)


def _flaky(df, markers: pathlib.Path):
    """``df`` behind a mapInPandas whose tasks all fail their first attempt."""
    from pyspark import TaskContext

    markers.mkdir(exist_ok=True)

    def fail_first_attempt(batches):
        ctx = TaskContext.get()
        if ctx.attemptNumber() == 0:
            (markers / f"task-{ctx.taskAttemptId()}").touch()
            raise RuntimeError("injected first-attempt failure")
        yield from batches

    return df.mapInPandas(fail_first_attempt, df.schema)


def _annotate_request(spark, fixtures: str, out: pathlib.Path):
    """``request(wrap)``: an as-of annotate request over two published
    snapshots, with ``wrap`` applied to its rows and its registry."""
    from pyspark.sql import functions as F

    from annotation_service_spark.plans import annotate as plan
    from annotation_service_spark.sources import dims, geolite2, routeviews
    from annotation_service_spark.streaming.refresh import SnapshotStore

    locs = geolite2.geolite2_locations(spark, f"{fixtures}/locations.csv")
    names = dims.asnames(spark, f"{fixtures}/asnames.csv")
    blocks = geolite2.geolite2_blocks(spark, f"{fixtures}/blocks.csv")
    pfx2as = routeviews.routeviews_pfx2as(spark, f"{fixtures}/pfx2as.tsv")
    store = SnapshotStore()
    for table, df in (
        ("geo", geolite2.build_geo_ranges(blocks, locs)),
        ("asn", routeviews.build_asn_ranges(pfx2as)),
    ):
        dated = [df.withColumn("dataset_date", F.lit(dt.date(y, 1, 1))) for y in (2017, 2018)]
        dated[0].unionByName(dated[1]).write.parquet(str(out / table))
        store.swap(table, spark.read.parquet(str(out / table)))
    rows = [(ip, dt.date(y, m, 1)) for ip in IPS for y, m in ((2016, 6), (2017, 6), (2018, 6))]

    def request(wrap=lambda df: df):
        geo = store.get("geo")
        return plan.annotate(
            wrap(spark.createDataFrame(rows, "ip string, req_date date")),
            geo, locs, store.get("asn"), names,
            date_col="req_date", registry=wrap(geo.select("dataset_date").distinct()),
        )

    return request


def main(fixtures: str, out: pathlib.Path) -> None:
    import __spark_entry__ as em
    from annotation_service_spark.caching import release_caches
    from annotation_service_spark.session import get_session

    spark = get_session("task_retry", 4, {"spark.master": "local[4,2]"})
    load, report = em._t, {}

    def compare(path, plain_run, flaky_run):
        plain = sorted(map(repr, plain_run().collect()))
        release_caches()
        flaky = sorted(map(repr, flaky_run().collect()))
        release_caches()
        report[path] = [len(plain), len(os.listdir(out / path)), plain == flaky]

    for gate in ("sentence_dedup", "dedup_minhash_lsh"):
        fn = getattr(em, f"q_{gate}")

        def flaky_gate():
            em._t = lambda s, sf, table: _flaky(load(s, sf, table), out / gate)
            try:
                return fn(spark, SF)
            finally:
                em._t = load

        compare(gate, lambda: fn(spark, SF), flaky_gate)
    request = _annotate_request(spark, fixtures, out)
    request().collect()  # warm-up: builds both published tables once
    markers = out / "annotate_warm"
    compare("annotate_warm", request,
            lambda: _flaky(request(lambda df: _flaky(df, markers)), markers))
    (out / "report.json").write_text(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1], pathlib.Path(sys.argv[2]))
