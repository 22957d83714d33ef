"""Planning runs no Spark job: building a gate's DataFrame starts none,
except for the gates named in ``EAGER_GATES`` (iterative drivers,
build-once memos, bounded collects, stream starts and the ones kept by
measurement), each of which starts at least one. Join strategies and
sizes are AQE's to decide at run time, not a probe's before it.
"""

from __future__ import annotations

import __spark_entry__ as em
from annotation_service_spark import caching
from annotation_service_spark.operators import similarity
from annotation_service_spark.sources.testdata import TABLES, load_table
from tests.test_plan_guards import SF


def _newest_job(spark) -> int:
    """Id of the newest Spark job in any job group (a stream's batches
    run in their own), -1 before the first."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)  # newest first
    return int(jobs.head().jobId()) if jobs.nonEmpty() else -1


def test_only_eager_gates_run_jobs_while_planned(spark):
    """Every gate in ``queries()`` is built at sf0.001 with no action.
    Each table is loaded once first, so its schema is known, and the
    process-wide vector-dimension memo is emptied, so the build-once
    gates are counted as in a fresh process."""
    for table in TABLES:
        load_table(spark, SF, table)
    similarity._DIM_MEMO.clear()
    jobs = {}
    for name, build in em.queries().items():
        with caching.scope():
            before = _newest_job(spark)
            build(spark, SF)
            jobs[name] = _newest_job(spark) - before
    eager = {name for name, n in jobs.items() if n}
    assert not eager - em.EAGER_GATES, {n: jobs[n] for n in eager - em.EAGER_GATES}
    assert not em.EAGER_GATES - eager, sorted(em.EAGER_GATES - eager)
