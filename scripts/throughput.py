"""Probe-side throughput measurement for the annotate hot path.

The 100 TB question is probe throughput: rows/sec through parse →
6to4 → broadcast binary-search range join. This script multiplies the
sf0.1 event probes (explode ×N) to measure steady-state throughput on
local[32] — the per-core number transfers to a cluster because the
path has no shuffle (scales linearly with cores).

Usage: python scripts/throughput.py [multiplier]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import __spark_entry__ as em
from annotation_service_spark.functions import ip as ipf
from annotation_service_spark.operators import interval as iv
from annotation_service_spark.session import get_session


def main() -> None:
    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_session("throughput")

    part = em._t(spark, sf_dir, "part")
    max_pk = part.agg(F.max("p_partkey")).collect()[0][0]
    m_val = (max_pk + 1) * 10 // 9
    nets = part.select(
        F.format_string(
            "10.%d.%d.0/24",
            (F.col("p_partkey") / 256).cast("long"),
            F.col("p_partkey") % 256,
        ).alias("cidr"),
        F.col("p_brand"),
    )
    ranges = nets.select(ipf.cidr_to_range(F.col("cidr")).alias("r"), "p_brand").select(
        F.col("r.ip_low").alias("ip_low"),
        F.col("r.ip_high").alias("ip_high"),
        "p_brand",
    )

    probes = (
        em._annotate_probes(spark, sf_dir, m_val)
        .withColumn("__m", F.explode(F.array(*[F.lit(i) for i in range(mult)])))
        .repartition(64)
        .cache()
    )
    n = probes.count()  # materialize input so timing excludes the read

    # one untimed pass pays codegen/JIT; steady-state is what a
    # long-running cluster job sees (first-pass was ~3x slower). It also
    # builds the broadcast: range_join_broadcast memoizes it on the
    # ``ranges`` object, so the timed runs reuse that build and measure
    # the probe side alone.
    def run() -> float:
        t0 = time.perf_counter()
        out = iv.range_join_broadcast(
            probes, ranges, probe_col="ip", payload=["p_brand"], parse_ips=True
        )
        out.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    run()
    dt = min(run(), run())

    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    print(
        json.dumps(
            {
                "metric": "annotate_probe_throughput",
                "probes": n,
                "sec": round(dt, 2),
                "rows_per_sec": int(n / dt),
                "rows_per_sec_per_core": int(n / dt / cores),
            }
        )
    )


if __name__ == "__main__":
    main()
