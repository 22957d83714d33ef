"""Plan dump for "no gate's plan changes" checks: builds each
queries() gate in its own ``caching.scope()`` without running any
action and prints one JSON object mapping each gate to the Spark jobs
started while it was built and its normalized pre-action
``executedPlan``. Every table is loaded once first and the
vector-dimension memo is emptied, as in tests/test_planning.py, so
the job counts are the ones ``EAGER_GATES`` is checked against.

Normalized: expression ids (``#12``, ``#12L``), ``plan_id=`` and the
counter suffix of PySpark lambda variables (``x_31``) are stripped, so
two trees' dumps diff only where a plan really differs. Note that
``profile_approx``, ``profile_table`` and ``tpch_q21`` number their
``Expand`` grouping ids differently from one process to the next.

Usage: python scripts/gate_plans.py [sf_dir] [gate ...] > plans.json
(sf_dir defaults to $SPARK_GRAFT_SF_DIR; run from the repo root.)
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.getcwd())

import __spark_entry__ as em
from annotation_service_spark import caching
from annotation_service_spark.operators import similarity
from annotation_service_spark.session import get_session
from annotation_service_spark.sources.testdata import TABLES, load_table

_NOISE = [
    (re.compile(r"#\d+L?"), ""),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"\b(lambda [a-z]+)_\d+"), r"\1"),
]


def normalize(plan: str) -> str:
    for pat, repl in _NOISE:
        plan = pat.sub(repl, plan)
    return plan


def main(argv: list[str]) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if argv and os.path.isdir(argv[0]):
        sf_dir, argv = argv[0], argv[1:]
    if sf_dir is None:
        sys.exit(__doc__)
    spark = get_session("gate_plans")
    sc = spark.sparkContext._jsc.sc()

    def newest_job() -> int:
        sc.listenerBus().waitUntilEmpty()
        jobs = sc.statusStore().jobsList(None)  # newest first
        return int(jobs.head().jobId()) if jobs.nonEmpty() else -1

    for table in TABLES:
        load_table(spark, sf_dir, table)
    similarity._DIM_MEMO.clear()
    out = {}
    for name, build in em.queries().items():
        if argv and name not in argv:
            continue
        with caching.scope():
            before = newest_job()
            df = build(spark, sf_dir)
            jobs = newest_job() - before
            plan = df._jdf.queryExecution().executedPlan().toString()
        out[name] = {"build_jobs": jobs, "plan": normalize(plan)}
    print(json.dumps(out, indent=1, sort_keys=True))


if __name__ == "__main__":
    main(sys.argv[1:])
