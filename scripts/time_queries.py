"""Targeted per-query timing for optimization A/B runs (guide §1.4):
times each named query end-to-end with the noop sink, cold (cache
cleared before every iteration) and one warm run, plus a warm
tpch_q1 canary so ambient-load inflation is visible. ``plan_jobs``
is the most Spark jobs any cold iteration started while building the
query's DataFrame, before its write — work done during planning.
Every table is loaded once before timing, so a table's first schema
read is not counted as a gate's planning work.
Prints one JSON line. Run from the repo root to be measured.

Usage: python scripts/time_queries.py <iters> <query> [...]
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.getcwd())

import __spark_entry__ as em
from annotation_service_spark.caching import release_caches
from annotation_service_spark.session import get_session
from annotation_service_spark.sources.testdata import TABLES, load_table


def main() -> None:
    iters = int(sys.argv[1])
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_session("time_queries")
    qs = em.queries()

    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()

    def jobs() -> set[int]:
        bus.waitUntilEmpty()
        return set(sc.statusTracker().getJobIdsForGroup(None))

    def run(name: str) -> tuple[float, int]:
        """(seconds, Spark jobs started while the DataFrame was built);
        counting the jobs is kept out of the timed span."""
        sc.setJobDescription(name)
        before = jobs()
        t0 = time.perf_counter()
        df = qs[name](spark, sf_dir)
        built = time.perf_counter() - t0
        planned = len(jobs() - before)
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return round(built + time.perf_counter() - t0, 3), planned

    for table in TABLES:  # first schema reads, outside every gate
        load_table(spark, sf_dir, table)
    run("tpch_q1")  # JVM warmup
    canary = sorted(run("tpch_q1")[0] for _ in range(3))[1]
    out: dict[str, object] = {"canary_q1": canary}
    for name in names:
        cold, plan_jobs = [], 0
        for _ in range(iters):
            spark.catalog.clearCache()
            release_caches()
            secs, planned = run(name)
            cold.append(secs)
            plan_jobs = max(plan_jobs, planned)
            gc.collect()
        warm = run(name)[0]
        out[name] = {"cold": cold, "warm": warm, "plan_jobs": plan_jobs}
    out["canary_q1_end"] = sorted(run("tpch_q1")[0] for _ in range(3))[1]
    print(json.dumps(out))


if __name__ == "__main__":
    main()
