"""curation_docs: the LLM-data curation side.

A seeded documents corpus (the shape of the sf0.1 test corpus) goes
through the two heaviest curation gates of ``__spark_entry__``:
``q_pipeline_full`` (repetition filter, decontamination, capped Jaccard
near-dup pairs, connected components, per-(lang, source) stats), then
``q_dedup_minhash_lsh``. Each stage's result (100 and a few hundred
rows) is collected. One operation is one pass over both stages. A first
pass runs untimed while DuckDB computes each stage's oracle, so the
timed passes see the session's steady state (its caches filled, Python
workers up); every pass's results are checked against the oracle after
the timed phase.
"""

from __future__ import annotations

import importlib.util
import math
import os
import sys
import threading
import time

import common

SIZES = {"docs": 1500, "embeddings": 256}
SETUPS = 3
STAGES = ("pipeline_full", "dedup_minhash_lsh")


def load_entry():
    """Import ``__spark_entry__.py`` from the checkout root."""
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "__spark_entry__.py")
    spec = importlib.util.spec_from_file_location("__spark_entry__", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    sys.modules["__spark_entry__"] = mod
    return mod


def stage_query(em, name: str):
    return {"pipeline_full": em.q_pipeline_full,
            "dedup_minhash_lsh": em.q_dedup_minhash_lsh}[name]


def run_pass(spark, em, inputs: str, tracer=None, rid: str | None = None):
    """Both stages, each collected. Returns (seconds per stage,
    {stage: (columns, rows)})."""
    times, results = [], {}
    for name in STAGES:
        t0 = time.perf_counter()
        if tracer is None:
            df = stage_query(em, name)(spark, inputs)
            rows = df.collect()
        else:
            with tracer.span(f"stage.{name}", rid):
                df = stage_query(em, name)(spark, inputs)
                with tracer.span("plans.response_action", rid):
                    rows = df.collect()
        times.append(time.perf_counter() - t0)
        results[name] = (df.columns, [list(r) for r in rows])
    return times, results


# ---------------------------------------------------------------------------
# Correctness: each stage against its DuckDB oracle
# ---------------------------------------------------------------------------


def _norm_cell(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.10g}"
    return str(v)


def _norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(r[i]) for i in idx) for r in rows)


def _oracle_rows(inputs: str, oracles: dict[str, str], out: dict) -> None:
    """Each stage's DuckDB oracle over the corpus parquet (thread body)."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        con.sql(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{os.path.join(inputs, 'documents.parquet')}'")
        for name in STAGES:
            rel = con.sql(oracles[name])
            out[name] = ([d[0] for d in rel.description], rel.fetchall())
    except Exception as exc:  # reported as a failed check by the caller
        out["error"] = repr(exc)
    finally:
        con.close()


def oracle_thread(em, inputs: str) -> tuple[threading.Thread, dict]:
    """Start computing every stage's oracle rows on a thread."""
    oracle: dict = {}
    t = threading.Thread(target=_oracle_rows, args=(inputs, em.oracle_sql(), oracle),
                         name="oracle")
    t.start()
    return t, oracle


def compare(results: dict, oracle: dict) -> dict[str, str]:
    """Stage → mismatch message, for stages that differ from their
    oracle (columns, row count, order-insensitive values)."""
    bad = {}
    for name in STAGES:
        scols, srows = results[name]
        if name not in oracle:
            bad[name] = f"oracle failed: {oracle.get('error')}"
            continue
        ocols, orows = oracle[name]
        if sorted(scols) != sorted(ocols):
            bad[name] = f"columns {sorted(scols)} != {sorted(ocols)}"
        elif len(srows) != len(orows):
            bad[name] = f"rows {len(srows)} != {len(orows)}"
        elif _norm_rows(scols, srows) != _norm_rows(ocols, orows):
            bad[name] = "values differ"
    return bad


# ---------------------------------------------------------------------------
# Traced run: per-layer metrics
# ---------------------------------------------------------------------------

TRACED_FUNCTIONS = ("dedup.shingle_table", "dedup.cap_shingles", "dedup.ngram_jaccard_pairs",
                    "clustering.connected_components", "text.repetition_metrics_table",
                    "decontam.contamination_check", "partitioning.spread_underparallel")


def curation_layers(spark, inputs: str, tracer, engine, passes: list[list[float]],
                    pairs: int, live_caches: int, session_s: float,
                    window: tuple[float, float], e2e: dict, failed_share: float,
                    peak_rss_mb: float) -> dict:
    import tracing
    from annotation_service_spark.operators import dedup
    from annotation_service_spark.sources.testdata import load_table

    engine.stop()
    att = tracing.Attribution(tracer, engine, *window)
    v: dict[str, float] = {"session.get_session_s": session_s}
    for name in TRACED_FUNCTIONS:
        v[f"{name}.call_s"] = tracer.total_s(name)
        v[f"{name}.eager_executions"] = att.eager_count(name)
    for i, name in enumerate(STAGES):
        v[f"stage.{name}_s"] = common.median([p[i] for p in passes])
    v["plans.response_action_s"] = tracer.total_s("plans.response_action")
    v["caching.live_caches"] = live_caches
    v.update(att.engine())
    v["spark.driver_remainder_s"] = att.remainder_s(tuple(f"stage.{n}" for n in STAGES))
    v["ops_failed_share"] = failed_share
    v["memory.peak_rss_mb"] = peak_rss_mb
    for k, (val, _) in e2e.items():
        v[f"traced.{k}"] = val
    # outside the measured window: LSH candidates before verification
    cand = dedup.minhash_candidates(load_table(spark, inputs, "documents"),
                                    ngram=3, num_hashes=16, bands=8).count()
    v["dedup.pairs_out"] = pairs
    v["dedup.lsh_candidates"] = cand
    v["dedup.lsh_useful_share"] = pairs / cand if cand else 0.0
    return tracing.layer_report(v)


# ---------------------------------------------------------------------------
# The run
# ---------------------------------------------------------------------------


def run(seed: int, seconds: float, traced: bool, inputs: str, work: str) -> dict:
    # data-dependent oracle literals of other gates are derived from
    # files in this directory when oracle_sql() is built
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = inputs
    spark, session_s = common.start_session()
    em = load_entry()
    from annotation_service_spark import caching
    from annotation_service_spark.sources.testdata import load_table

    tracer = engine = rss = None
    if traced:
        rss = common.RssSampler(common.jvm_pid()).start()
        import tracing

        tracer = tracing.Tracer(spark)
        tracer.install(tracing.curation_targets())
        tracing.install_pyspark_probes(tracer)
        engine = tracing.EngineMetrics(spark).start()
    try:
        setups = []
        for _ in range(SETUPS):
            caching.release_caches()
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            n_docs = load_table(spark, inputs, "documents").count()
            setups.append(time.perf_counter() - t0)
        setup_s = session_s + common.median(setups)
        common.log(f"setup done: session {session_s:.2f}s, loads {setups}")

        # untimed first pass, beside the DuckDB oracles
        t, oracle = oracle_thread(em, inputs)
        try:
            _, first = run_pass(spark, em, inputs)
        finally:
            t.join()
        common.log("first pass done")
        if tracer is not None:
            tracer.clear()
        passes: list[list[float]] = []
        outputs: list[dict] = [first]
        window_lo = time.time()
        start = time.perf_counter()
        deadline = start + seconds
        while time.perf_counter() < deadline:
            times, results = run_pass(spark, em, inputs, tracer, f"pass{len(passes)}")
            passes.append(times)
            outputs.append(results)
        elapsed = time.perf_counter() - start
        window_hi = time.time()
        live_caches = caching.live_cache_count()
        if tracer is not None:
            tracer.recording = False
            peak_rss_mb = rss.stop()
        common.log(f"timed phase done: {len(passes)} passes "
                   f"{[[round(x, 2) for x in p] for p in passes]}")

        # correctness: every pass (the untimed one too), stage by stage
        attempted = len(outputs) * len(STAGES)
        failed = 0
        for i, results in enumerate(outputs):
            for name, msg in compare(results, oracle).items():
                failed += 1
                common.log(f"mismatch pass {i} {name}: {msg}")

        pass_ms = [sum(p) * 1e3 for p in passes]
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_p50_ms": (common.median(pass_ms), "ms"),
            "throughput_per_s": (n_docs * len(passes) / elapsed, "1/s"),
        }
        if traced:
            metrics = curation_layers(spark, inputs, tracer, engine, passes,
                                      len(first["dedup_minhash_lsh"][1]), live_caches, session_s, (window_lo, window_hi),
                                      metrics, failed / attempted, peak_rss_mb)
    finally:
        if rss is not None:
            rss.stop()
        common.stop_session(spark)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
    }
