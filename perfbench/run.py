"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Inputs are generated from ``--seed``
into ``.perfbench_data/`` (once per seed and sizes), the program under
``annotation_service_spark/`` is driven through its public functions,
outputs are checked, and the last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the per-layer
ones from a traced run. Workloads and metrics are described in
``perfbench/NOTES.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(ROOT, ".perfbench_data")

# the configuration every run measures (the session reads these)
CPUS = "4"
DRIVER_MEM = "4g"

WORKLOADS = ("serve_refresh", "curation_docs")


def _configure_env(work: str) -> None:
    """Environment for this process and the JVM/Python workers it
    starts: fixed cores and heap, and every temp file inside the
    checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = CPUS
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "annotation_service_spark")):
        print("perfbench: no annotation_service_spark/ next to perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    work = os.path.join(DATA, "work", f"{args.workload}-{os.getpid()}")
    _configure_env(work)

    import common
    import gen

    if args.workload == "serve_refresh":
        import serve as workload
    else:
        import curation as workload

    inputs = gen.ensure_inputs(os.path.join(DATA, "inputs"), args.workload,
                               args.seed, workload.SIZES)
    common.log(f"inputs ready: {inputs}")
    import pyspark

    host = {"nproc": os.cpu_count(), "spark_graft_cpus": CPUS,
            "driver_mem": DRIVER_MEM, "pyspark": pyspark.__version__,
            "python": platform.python_version(), "workload": args.workload,
            "seed": args.seed, "sizes": workload.SIZES}
    print("perfbench host " + json.dumps(host, sort_keys=True), flush=True)
    try:
        result = workload.run(args.seed, args.seconds, bool(args.trace), inputs, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        common.log("stopped")
    print(json.dumps(result, sort_keys=True), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
