"""Capture .explain('formatted') for named queries into per-query
files (<out_dir>/<query>_<tag>.txt), e.g. before/after plans for an
optimization's evidence.

Usage: python scripts/capture_query_plans.py <out_dir> <tag> <query> [...]
(run from the repo root whose __spark_entry__ should be captured)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.getcwd())

import __spark_entry__ as em
from annotation_service_spark.session import get_session


def main() -> None:
    out_dir, tag = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    os.makedirs(out_dir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_session("capture_plans")
    qs = em.queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(plan)
        print(f"{name}: {len(plan)} chars")


if __name__ == "__main__":
    main()
