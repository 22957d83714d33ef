"""Tracing for the traced run: spans around the program's public
functions, and Spark SQL operator metrics read from the status store.

Spans are recorded by wrappers installed in the benchmark process only.
Each span sets the thread's ``spark.job.description`` to its own id, so
every SQL execution the span triggers carries that id and is attributed
to exactly one span (the innermost); outer spans sum their subtree.
Spans stay in memory and are summarised when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import re
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

DESC_KEY = "spark.job.description"
TAG = "pb|"


@dataclass
class Span:
    sid: int
    name: str
    start: float
    parent: int | None
    rid: str | None
    end: float = 0.0
    # the thread's job description before the outermost span opened
    prev_desc: str | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``span`` is a context manager; ``wrap``
    turns a function into one that records a span per call."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: dict[int, Span] = {}
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.recording = True
        # (innermost span name, key) -> summed value, see ``add``
        self.counters: dict[tuple[str, str], float] = defaultdict(float)

    # -- spans -----------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> Span | None:
        st = self._stack()
        return st[-1] if st else None

    def span(self, name: str, rid: str | None = None):
        return _SpanCtx(self, name, rid)

    def _open(self, name: str, rid: str | None) -> Span:
        parent = self.current()
        sp = Span(next(self._ids), name, time.time(),
                  parent.sid if parent else None,
                  rid if rid is not None else (parent.rid if parent else None))
        if parent is None:
            sp.prev_desc = self.sc.getLocalProperty(DESC_KEY)
        self._stack().append(sp)
        self.sc.setLocalProperty(DESC_KEY, f"{TAG}{sp.sid}")
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.time()
        st = self._stack()
        st.pop()
        self.sc.setLocalProperty(DESC_KEY, f"{TAG}{st[-1].sid}" if st else sp.prev_desc)
        if self.recording:
            with self._lock:
                self.spans[sp.sid] = sp

    def clear(self) -> None:
        with self._lock:
            self.spans.clear()
            self.counters.clear()

    def add(self, key: str, value: float) -> None:
        """Add ``value`` to ``key`` under the innermost open span."""
        sp = self.current()
        if sp is not None and self.recording:
            with self._lock:
                self.counters[(sp.name, key)] += value

    # -- wrappers --------------------------------------------------------
    def wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        wrapper.__perfbench_orig__ = fn
        return wrapper

    def install(self, targets: list[tuple[object, str, str]]) -> None:
        """Wrap each ``(owner, attr, span_name)``: the attribute on its
        owner, and every other binding of the same function object in
        the program's loaded modules (callers that imported it by
        name)."""
        for owner, attr, name in targets:
            orig = getattr(owner, attr)
            w = self.wrap(name, orig)
            setattr(owner, attr, w)
            for mod in list(sys.modules.values()):
                mname = getattr(mod, "__name__", "") or ""
                if not (mname.startswith("annotation_service_spark")
                        or mname.startswith("__spark_entry__")):
                    continue
                for k, v in list(vars(mod).items()):
                    if v is orig:
                        setattr(mod, k, w)

    # -- summaries -------------------------------------------------------
    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans.values() if s.name == name]

    def total_s(self, name: str) -> float:
        return sum(s.seconds for s in self.named(name))

    def subtree(self, root: Span) -> set[int]:
        """Ids of ``root`` and every span below it."""
        kids = defaultdict(list)
        for s in self.spans.values():
            if s.parent is not None:
                kids[s.parent].append(s.sid)
        out, stack = set(), [root.sid]
        while stack:
            sid = stack.pop()
            out.add(sid)
            stack.extend(kids[sid])
        return out


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, rid: str | None):
        self.tracer, self.name, self.rid = tracer, name, rid

    def __enter__(self) -> Span:
        self.sp = self.tracer._open(self.name, self.rid)
        return self.sp

    def __exit__(self, *exc) -> None:
        self.tracer._close(self.sp)


# ---------------------------------------------------------------------------
# Spark SQL operator metrics from the status store
# ---------------------------------------------------------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(text: str) -> float:
    """A status-store metric string as a number (bytes, seconds or a
    count). Multi-task values read ``total (min, med, max ...)\\n<total>
    (...)``; the total is the first figure of the second line."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    head = text.split(" (", 1)[0].strip()
    m = re.fullmatch(r"([-\d.,]+)\s*([A-Za-z]*)", head)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME:
        return num * _TIME[unit]
    return num


@dataclass
class Execution:
    eid: int
    desc: str
    start: float
    end: float
    # (node name, metric name) -> summed value
    metrics: dict

    @property
    def span_id(self) -> int | None:
        if self.desc.startswith(TAG):
            try:
                return int(self.desc[len(TAG):].split()[0])
            except ValueError:
                return None
        return None


class EngineMetrics:
    """Reads every completed SQL execution once, promptly (the session
    retains only the last 50), with its per-node metrics. A poll asks
    the status store only for the newest executions and for the ones
    still running at the previous poll."""

    def __init__(self, spark):
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        self.execs: dict[int, Execution] = {}
        self._running: set[int] = set()
        self._newest = -1
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _newer(self) -> list:
        """Status-store entries with ids above the newest one seen."""
        n = self.store.executionsCount()
        window = 8
        while True:
            batch = list(self.conv.asJava(self.store.executionsList(max(0, n - window), window)))
            if not batch or window >= n or int(batch[0].executionId()) <= self._newest + 1:
                return [e for e in batch if int(e.executionId()) > self._newest]
            window *= 2

    def _read(self, e) -> None:
        eid = int(e.executionId())
        comp = e.completionTime()
        if not comp.isDefined():
            self._running.add(eid)
            return
        self._running.discard(eid)
        vals = self.conv.asJava(self.store.executionMetrics(eid))
        agg: dict = defaultdict(float)
        for node in self.conv.asJava(self.store.planGraph(eid).allNodes()):
            nname = node.name().strip()
            for m in self.conv.asJava(node.metrics()):
                v = vals.get(m.accumulatorId())
                if v is not None:
                    agg[(nname, m.name())] += parse_metric(v)
        self.execs[eid] = Execution(eid, e.description() or "", e.submissionTime() / 1000.0,
                                    comp.get().getTime() / 1000.0, dict(agg))

    def poll(self) -> None:
        with self._lock:
            for eid in list(self._running):
                opt = self.store.execution(eid)
                if opt.isDefined():
                    self._read(opt.get())
                else:  # evicted while running
                    self._running.discard(eid)
            for e in self._newer():
                self._newest = max(self._newest, int(e.executionId()))
                self._read(e)

    def start(self, interval_s: float = 0.5) -> EngineMetrics:
        def run():
            reported = False
            while not self._stop.wait(interval_s):
                try:
                    self.poll()
                except Exception as exc:  # keep polling; report the first failure
                    if not reported:
                        print(f"perfbench: status-store poll failed: {exc!r}", file=sys.stderr)
                        reported = True
        self._thread = threading.Thread(target=run, name="status-store", daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=30)
        self.poll()

    def missed(self) -> int:
        """Executions evicted from the status store before a poll read
        them (ids between the first and last read that were never read)."""
        if not self.execs:
            return 0
        return max(self.execs) - min(self.execs) + 1 - len(self.execs)


def node_sum(execs, node_pred, metric: str) -> float:
    return sum(v for e in execs for (n, m), v in e.metrics.items()
               if m == metric and node_pred(n))


def engine_summary(execs: list[Execution]) -> dict[str, float]:
    """The engine-level per-layer metrics over a set of executions."""
    def is_(name):
        return lambda n: n == name
    anyn = lambda n: True  # noqa: E731
    scan = lambda n: n.startswith("Scan")  # noqa: E731
    return {
        "spark.scan_s": node_sum(execs, scan, "scan time") + node_sum(execs, scan, "metadata time"),
        "spark.shuffle_write_bytes": node_sum(execs, anyn, "shuffle bytes written"),
        "spark.shuffle_fetch_wait_s": node_sum(execs, anyn, "fetch wait time"),
        "spark.broadcast_collect_s": node_sum(execs, is_("BroadcastExchange"), "time to collect"),
        "spark.broadcast_bytes": node_sum(execs, is_("BroadcastExchange"), "data size"),
        "spark.spill_bytes": node_sum(execs, anyn, "spill size"),
        "spark.python_run_s": node_sum(execs, anyn, "time to run Python workers"),
        "spark.python_init_s": node_sum(execs, anyn, "time to initialize Python workers"),
        "spark.mapinpandas.python_run_s": node_sum(execs, is_("MapInPandas"), "time to run Python workers"),
        "spark.mapinpandas.python_init_s": node_sum(execs, is_("MapInPandas"), "time to initialize Python workers"),
        "spark.mapinpandas.bytes_to_python": node_sum(execs, is_("MapInPandas"), "data sent to Python workers"),
        "spark.mapinpandas.bytes_from_python": node_sum(execs, is_("MapInPandas"), "data returned from Python workers"),
        "spark.flatmapgroupsinpandas.python_run_s": node_sum(
            execs, is_("FlatMapGroupsInPandas"), "time to run Python workers"),
        "spark.arrowevalpython.python_run_s": node_sum(
            execs, is_("ArrowEvalPython"), "time to run Python workers"),
    }


def covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# What the traced run wraps, and what it reports
# ---------------------------------------------------------------------------


def annotate_targets() -> list[tuple[object, str, str]]:
    from annotation_service_spark.operators import asof, interval
    from annotation_service_spark.plans import annotate
    from annotation_service_spark.sources import dims, geolite2, routeviews
    from annotation_service_spark.streaming import refresh

    return [
        (geolite2, "geolite2_blocks", "sources.geolite2_blocks"),
        (geolite2, "geolite2_locations", "sources.geolite2_locations"),
        (routeviews, "routeviews_pfx2as", "sources.routeviews_pfx2as"),
        (dims, "asnames", "sources.asnames"),
        (geolite2, "build_geo_ranges", "interval.build_geo_ranges"),
        (routeviews, "build_asn_ranges", "interval.build_asn_ranges"),
        (interval, "range_join_broadcast", "interval.range_join_broadcast"),
        (asof, "asof_join", "asof.asof_join"),
        (annotate, "annotate", "plans.annotate"),
        (refresh.VersionedTableManifest, "commit", "refresh.manifest_commit"),
    ]


def curation_targets() -> list[tuple[object, str, str]]:
    from annotation_service_spark import partitioning
    from annotation_service_spark.functions import text
    from annotation_service_spark.operators import clustering, decontam, dedup

    return [
        (dedup, "shingle_table", "dedup.shingle_table"),
        (dedup, "cap_shingles", "dedup.cap_shingles"),
        (dedup, "ngram_jaccard_pairs", "dedup.ngram_jaccard_pairs"),
        (clustering, "connected_components", "clustering.connected_components"),
        (text, "repetition_metrics_table", "text.repetition_metrics_table"),
        (decontam, "contamination_check", "decontam.contamination_check"),
        (partitioning, "spread_underparallel", "partitioning.spread_underparallel"),
    ]


def install_pyspark_probes(tracer: Tracer) -> None:
    """Counters at the engine boundary, in this process only: rows
    each ``toPandas`` returns and bytes each ``SparkContext.broadcast``
    pickles (charged to the innermost open span), and a span around
    each parquet write named after the table it writes."""
    import os

    from pyspark import SparkContext
    from pyspark.sql import DataFrameWriter

    # the concrete (classic) DataFrame class defines toPandas
    DataFrame = type(tracer.spark.range(0))
    to_pandas = DataFrame.toPandas
    broadcast = SparkContext.broadcast
    parquet = DataFrameWriter.parquet

    def counted_to_pandas(self, *a, **kw):
        pdf = to_pandas(self, *a, **kw)
        tracer.add("to_pandas_rows", len(pdf))
        return pdf

    def counted_broadcast(self, value):
        b = broadcast(self, value)
        path = getattr(b, "_path", None)
        if path and os.path.exists(path):
            tracer.add("broadcast_bytes", os.path.getsize(path))
        return b

    def spanned_parquet(self, path, *a, **kw):
        table = os.path.basename(os.path.dirname(os.path.normpath(path)))
        with tracer.span(f"refresh.write.{table.removeprefix('table-')}"):
            return parquet(self, path, *a, **kw)

    DataFrame.toPandas = counted_to_pandas
    SparkContext.broadcast = counted_broadcast
    DataFrameWriter.parquet = spanned_parquet


# Every per-layer metric, in report order, with its unit. A workload
# reports 0 for a layer it does not exercise (see perfbench/NOTES.md).
PER_LAYER: list[tuple[str, str]] = [
    ("session.get_session_s", "s"),
    ("sources.geolite2_blocks.call_s", "s"),
    ("sources.geolite2_locations.call_s", "s"),
    ("sources.routeviews_pfx2as.call_s", "s"),
    ("sources.asnames.call_s", "s"),
    ("sources.rows_read", "count"),
    ("sources.rows_rejected", "count"),
    ("interval.build_geo_ranges.call_s", "s"),
    ("interval.build_geo_ranges.materialize_s", "s"),
    ("interval.build_asn_ranges.materialize_s", "s"),
    ("interval.flatten.rows_in", "count"),
    ("interval.flatten.ranges_out", "count"),
    ("interval.range_join_broadcast.call_s", "s"),
    ("interval.range_join_broadcast.eager_executions", "count"),
    ("interval.range_join_broadcast.build_rows", "count"),
    ("interval.range_join_broadcast.build_bytes", "B"),
    ("asof.asof_join.call_s", "s"),
    ("plans.annotate.call_s", "s"),
    ("plans.response_action_s", "s"),
    ("annotate.invalid_ip", "count"),
    ("annotate.six_to_four", "count"),
    ("annotate.geo_missing", "count"),
    ("annotate.asn_missing", "count"),
    ("annotate.both_missing", "count"),
    ("serve.requests", "count"),
    ("serve.request_p75_ms", "ms"),
    ("serve.request_max_ms", "ms"),
    ("serve.repeated_ip_requests", "count"),
    ("serve.repeated_ip_failed", "count"),
    ("refresh.publish_s", "s"),
    ("refresh.trigger_s", "s"),
    ("refresh.add_batch_s", "s"),
    ("refresh.manifest_commit_s", "s"),
    ("refresh.store_version", "count"),
    ("refresh.overlap_request_p50_ms", "ms"),
    ("caching.live_caches", "count"),
    ("partitioning.spread_underparallel.call_s", "s"),
    ("partitioning.spread_underparallel.eager_executions", "count"),
    ("dedup.shingle_table.call_s", "s"),
    ("dedup.shingle_table.eager_executions", "count"),
    ("dedup.cap_shingles.call_s", "s"),
    ("dedup.cap_shingles.eager_executions", "count"),
    ("dedup.ngram_jaccard_pairs.call_s", "s"),
    ("dedup.ngram_jaccard_pairs.eager_executions", "count"),
    ("clustering.connected_components.call_s", "s"),
    ("clustering.connected_components.eager_executions", "count"),
    ("text.repetition_metrics_table.call_s", "s"),
    ("text.repetition_metrics_table.eager_executions", "count"),
    ("decontam.contamination_check.call_s", "s"),
    ("decontam.contamination_check.eager_executions", "count"),
    ("stage.pipeline_full_s", "s"),
    ("stage.dedup_minhash_lsh_s", "s"),
    ("dedup.pairs_out", "count"),
    ("dedup.lsh_candidates", "count"),
    ("dedup.lsh_useful_share", "ratio"),
    ("spark.executions", "count"),
    ("spark.eager_executions", "count"),
    ("spark.scan_s", "s"),
    ("spark.shuffle_write_bytes", "B"),
    ("spark.shuffle_fetch_wait_s", "s"),
    ("spark.broadcast_collect_s", "s"),
    ("spark.broadcast_bytes", "B"),
    ("spark.spill_bytes", "B"),
    ("spark.python_run_s", "s"),
    ("spark.python_init_s", "s"),
    ("spark.mapinpandas.python_run_s", "s"),
    ("spark.mapinpandas.python_init_s", "s"),
    ("spark.mapinpandas.bytes_to_python", "B"),
    ("spark.mapinpandas.bytes_from_python", "B"),
    ("spark.flatmapgroupsinpandas.python_run_s", "s"),
    ("spark.arrowevalpython.python_run_s", "s"),
    ("spark.driver_remainder_s", "s"),
    ("trace.missed_executions", "count"),
    ("ops_failed_share", "ratio"),
    ("memory.peak_rss_mb", "MB"),
    ("traced.setup_s", "s"),
    ("traced.op_p50_ms", "ms"),
    ("traced.throughput_per_s", "1/s"),
]

ACTION_SPANS = ("plans.response_action", "refresh.write.geo", "refresh.write.asn")


class Attribution:
    """Executions mapped onto the recorded spans."""

    def __init__(self, tracer: Tracer, engine: EngineMetrics, lo: float, hi: float):
        self.tracer = tracer
        self.missed = engine.missed()
        spans = tracer.spans
        # executions our spans triggered, plus untagged ones (the
        # streams' own source reads) inside the measured window
        self.execs = [e for e in engine.execs.values()
                      if (e.span_id in spans) or (e.span_id is None and lo <= e.start <= hi)]
        self.by_span: dict[int, list[Execution]] = defaultdict(list)
        for e in self.execs:
            if e.span_id in spans:
                self.by_span[e.span_id].append(e)
        under_action: set[int] = set()
        for sp in spans.values():
            if sp.name in ACTION_SPANS:
                under_action |= tracer.subtree(sp)
        self.eager = [e for e in self.execs
                      if e.span_id in spans and e.span_id not in under_action]

    def in_subtree(self, sp: Span) -> list[Execution]:
        return [e for sid in self.tracer.subtree(sp) for e in self.by_span.get(sid, ())]

    def eager_count(self, name: str) -> int:
        eager = {e.eid for e in self.eager}
        return sum(1 for sp in self.tracer.named(name) for e in self.in_subtree(sp)
                   if e.eid in eager)

    def remainder_s(self, op_names: tuple[str, ...]) -> float:
        """Wall time of the ops not covered by any of their executions."""
        total = 0.0
        for name in op_names:
            for sp in self.tracer.named(name):
                ivs = [(e.start, e.end) for e in self.in_subtree(sp)]
                total += sp.seconds - covered_s(ivs, sp.start, sp.end)
        return total

    def engine(self) -> dict[str, float]:
        out = engine_summary(self.execs)
        out["spark.executions"] = len(self.execs)
        out["trace.missed_executions"] = self.missed
        out["spark.eager_executions"] = len(self.eager)
        return out


def layer_report(values: dict[str, float]) -> dict[str, tuple[float, str]]:
    """Every PER_LAYER metric, 0 where the workload has no value."""
    return {name: (float(values.get(name, 0.0)), unit) for name, unit in PER_LAYER}
