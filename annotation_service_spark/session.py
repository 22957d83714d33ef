"""SparkSession factory tuned for this engine.

Local-mode settings mirror what a 1000-executor cluster deployment
would set per-executor: AQE on (runtime re-plan, skew-join splitting,
partition coalescing), UTC session timezone (oracle comparability),
Arrow enabled (every Pandas UDF crossing is Arrow-batched).
"""

from __future__ import annotations

import os
import pathlib
import tempfile
import zipfile

from pyspark.sql import SparkSession

# SPARK_GRAFT_CPUS is the local master's thread spec: "N", or "N,F" for
# N threads with F task attempts; the partition default takes N
DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32").split(",")[0])


def ensure_shipped(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via addPyFile.

    On a real cluster (and in local mode when the driver's cwd is not
    the repo root) the Arrow-UDF closures deserialize on workers that
    have no sys.path entry for the package — self-shipping a zip makes
    the engine deployable anywhere without --py-files plumbing.
    """
    sc = spark.sparkContext
    if getattr(sc, "_asvc_shipped", False):
        return
    pkg_dir = pathlib.Path(__file__).resolve().parent
    zpath = os.path.join(
        tempfile.gettempdir(), f"asvc_pkg_{os.getpid()}.zip"
    )
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as zf:
            for p in sorted(pkg_dir.rglob("*.py")):
                zf.write(p, p.relative_to(pkg_dir.parent))
    sc.addPyFile(zpath)
    sc._asvc_shipped = True


def _driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM`` when set, else 16g capped at half of
    physical memory.

    16g, not "all the RAM": G1 young regions and concurrent cycles
    scale with heap capacity, so an oversized heap ages into
    multi-second stalls (measured: same bench 39s at 48g, 31s at 16g
    with lower variance). Half of physical memory on smaller hosts: a
    heap the host cannot back gets the JVM killed, not slowed. Raise
    via SPARK_GRAFT_DRIVER_MEM for genuinely large broadcasts."""
    explicit = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if explicit:
        return explicit
    half_mib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2 >> 20
    return f"{min(16 << 10, half_mib)}m"


def get_session(
    app_name: str = "annotation_service_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    At cluster scale the same confs apply; only ``master`` and memory
    sizing change. ``spark.sql.shuffle.partitions`` should be ~2-3x
    total cores on a real cluster; AQE coalesces down from there.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # preferSortMergeJoin stays at the default (true). r13 measured
        # the guide-§9 alternative (preferSortMergeJoin=false +
        # adaptive.maxShuffledHashJoinLocalMapThreshold=64m) with
        # interleaved A/B over the SMJ-heaviest gates: steady-state
        # NEUTRAL (dedup_eval_report ~7-10s both modes in isolation;
        # first-batch "wins" were ambient-gradient artifacts and
        # dedup_incremental_minhash leaned 1.2x WORSE under SHJ —
        # its wide signature-carrying rows hash-build slower than they
        # merge). A global planner change needs a consistent win to
        # carry the OOM risk; this one does not have it.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
        # Split the broadcast budget between the two planners (r10,
        # from the tpch_q3 sf1 slope investigation): the STATIC
        # threshold decides from compressed-file-size estimates that
        # undercount the in-memory hash relation 3-5x, so at 64MB it
        # broadcast a 10x-scale fact table whose serial driver-side
        # relation build became the whole query's critical path
        # (q3 at sf1: 4.3s all-broadcast vs 1.15s with the split —
        # and 0.8s vs 1.2s even at sf0.1). 8MB static keeps genuinely
        # tiny dims pre-broadcast; the 64MB budget moves to the AQE
        # runtime conversion, which measures ACTUAL shuffle bytes
        # before deciding. Explicit F.broadcast() hints (all the
        # known-small dims) are unaffected by either threshold.
        .config("spark.sql.autoBroadcastJoinThreshold", str(8 * 1024 * 1024))
        .config(
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            str(64 * 1024 * 1024),
        )
        # ContextCleaner only reclaims dead broadcasts/shuffles after a
        # driver GC; long sessions (bench, streaming) otherwise
        # accumulate them until ad-hoc full GCs stall queries.
        .config("spark.cleaner.periodicGC.interval", "10min")
        # ...but System.gc() on G1 defaults to a stop-the-world full
        # compaction — on a large heap that pause lands mid-query
        # (measured: 3-30s stalls every ~2min at bench time). This
        # flag turns the periodic explicit GC into a *concurrent* G1
        # cycle: broadcasts/shuffles still get reclaimed, queries keep
        # running. Same flag on executors for cluster deployments
        # (local mode shares the driver JVM).
        .config(
            "spark.driver.extraJavaOptions", "-XX:+ExplicitGCInvokesConcurrent"
        )
        .config(
            "spark.executor.extraJavaOptions",
            "-XX:+ExplicitGCInvokesConcurrent",
        )
        # status-store retention: each retained SQL execution keeps
        # its full (AQE-replanned) plan graph + metrics on the driver
        # heap; the defaults (1000 executions) make a long bench or
        # serving session age — later queries inherit GC pressure
        # earlier ones created. Bounded retention keeps the session's
        # 100th query as fast as its 1st.
        .config("spark.sql.ui.retainedExecutions", "50")
        .config("spark.ui.retainedJobs", "200")
        .config("spark.ui.retainedStages", "200")
        .config("spark.ui.retainedTasks", "5000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensure_shipped(spark)
    return spark
