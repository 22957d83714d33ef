"""serve_refresh: the v2 serving loop with dataset refresh beside it.

Two closed-loop clients each send ``Request{Date, IPs[]}`` batches of
100–400 IPs drawn with Zipf skew from a seeded pool, wait for the
reply, and send the next. Each request reads the current tables from
``streaming.refresh.SnapshotStore``, calls ``plans.annotate.annotate``
with the request date and a registry of the published snapshot dates,
and collects ``to_v2_response_document``.

Two ``start_event_refresh`` streams (GeoLite2 blocks and RouteViews
pfx2as) run on a processing-time trigger. Setup announces the initial
snapshots and waits until both are published (the reference's /ready
gate); during the timed phase the benchmark announces further dated
snapshots while requests continue.
"""

from __future__ import annotations

import datetime as dt
import functools
import json
import os
import threading
import time
from collections import Counter

import numpy as np

import common
import gen

SIZES = {"geo16": 600, "snapshots": 5, "pool": 4000}
INITIAL_SNAPSHOTS = 2
CLIENTS = 2
BATCH_MIN, BATCH_MAX = 100, 400
ZIPF_S = 1.1
SETUPS = 3
TRIGGER = "500 milliseconds"
READY_TIMEOUT_S = 120.0
# traced run only, after the timed phase: requests whose batch repeats
# one IP (the v2 API allows it)
REPEATED_IP_REQUESTS = 2

MSG_SCHEMA = "path string"


class Serving:
    """One published serving state: dims, the snapshot store and the
    two refresh streams feeding it."""

    def __init__(self, spark, inputs: str, work: str):
        from pyspark.sql import functions as F
        from annotation_service_spark.sources import dims, geolite2, registry, routeviews
        from annotation_service_spark.streaming import refresh

        self.spark = spark
        self.inputs = inputs
        self.store = refresh.SnapshotStore()
        self.locations = geolite2.geolite2_locations(spark, os.path.join(inputs, "locations.csv")).cache()
        self.asnames = dims.asnames(spark, os.path.join(inputs, "asnames.csv")).cache()
        self.locations.count()
        self.asnames.count()
        locs = self.locations

        def build_geo(paths):
            parts = [geolite2.geolite2_blocks(spark, p).withColumn(
                "dataset_date", registry.dataset_date_from_path(F.lit(p), "geolite2"))
                for p in paths]
            return geolite2.build_geo_ranges(functools.reduce(_union, parts), locs,
                                             partition_by=("dataset_date",))

        def build_asn(paths):
            parts = [routeviews.routeviews_pfx2as(spark, p).withColumn(
                "dataset_date", registry.dataset_date_from_path(F.lit(p), "asn_v4"))
                for p in paths]
            return routeviews.build_asn_ranges(functools.reduce(_union, parts),
                                               partition_by=("dataset_date",))

        self.events = {}
        self.queries = {}
        for table, build in (("geo", build_geo), ("asn", build_asn)):
            events = os.path.join(work, f"events-{table}")
            os.makedirs(events, exist_ok=True)
            self.events[table] = events
            stream = spark.readStream.format("json").schema(MSG_SCHEMA).load(events)
            self.queries[table] = refresh.start_event_refresh(
                stream, build, self.store, table,
                os.path.join(work, f"ckpt-{table}"), os.path.join(work, f"table-{table}"),
                available_now=False, trigger_interval=TRIGGER)
        self.published: list[int] = []
        self._lock = threading.Lock()
        self._msg = 0

    def announce(self, snapshots: list[int]) -> None:
        """Write one message per table naming the snapshots' files."""
        for table in ("geo", "asn"):
            paths = [_snapshot_paths(self.inputs, k)[table] for k in snapshots]
            self._msg += 1
            tmp = os.path.join(self.events[table], f".m{self._msg}.tmp")
            with open(tmp, "w") as fh:
                fh.write("\n".join(json.dumps({"path": p}) for p in paths) + "\n")
            os.replace(tmp, os.path.join(self.events[table], f"m{self._msg}.json"))

    def wait_version(self, version: int, timeout_s: float) -> bool:
        end = time.perf_counter() + timeout_s
        while self.store.version < version:
            for q in self.queries.values():
                if q.exception() is not None:
                    raise RuntimeError(f"refresh stream failed: {q.exception()}")
            if time.perf_counter() > end:
                return False
            time.sleep(0.005)
        return True

    def publish(self, snapshots: list[int], timeout_s: float = READY_TIMEOUT_S) -> float | None:
        """Announce ``snapshots`` and wait until both tables swapped;
        returns the seconds taken, or None on timeout."""
        v0 = self.store.version
        t0 = time.perf_counter()
        self.announce(snapshots)
        if not self.wait_version(v0 + 2, timeout_s):
            return None
        dt_s = time.perf_counter() - t0
        with self._lock:
            self.published.extend(snapshots)
        return dt_s

    def published_now(self) -> list[int]:
        with self._lock:
            return list(self.published)

    def stop(self) -> None:
        for q in self.queries.values():
            q.stop()
        self.locations.unpersist()
        self.asnames.unpersist()


def _union(a, b):
    return a.unionByName(b)


def _snapshot_paths(inputs: str, k: int) -> dict[str, str]:
    d = gen.snapshot_date(k).strftime("%Y%m%d")
    return {"geo": os.path.join(inputs, "geo", f"{d}T000000Z-GeoLite2-City-Blocks.csv"),
            "asn": os.path.join(inputs, "asn", f"routeviews-rv2-{d}-1200.pfx2as")}


def request_date(k: int) -> dt.date:
    """A date the as-of rule maps to snapshot ``k`` (last snapshot
    strictly earlier than the date)."""
    return gen.snapshot_date(k) + dt.timedelta(days=1)


def serve_one(spark, st: Serving, ips: list[str], date: dt.date, tracer=None, rid=None) -> str:
    """One v2 request: annotate the batch against the current tables
    and collect the response document."""
    from annotation_service_spark.plans import annotate as plan

    def body():
        geo = st.store.get("geo")
        asn = st.store.get("asn")
        registry = geo.select("dataset_date").distinct()
        req = spark.createDataFrame([(ip, date) for ip in ips], "ip string, req_date date")
        out = plan.annotate(req, geo, st.locations, asn, st.asnames,
                            date_col="req_date", registry=registry)
        doc = plan.to_v2_response_document(out)
        if tracer is None:
            return doc.collect()
        with tracer.span("plans.response_action", rid):
            return doc.collect()

    if tracer is None:
        rows = body()
    else:
        with tracer.span("op.request", rid):
            rows = body()
    if len(rows) != 1:
        raise RuntimeError(f"expected one response document, got {len(rows)}")
    return rows[0].response_json


# ---------------------------------------------------------------------------
# Request generation and checking
# ---------------------------------------------------------------------------


class Pool:
    """Seeded request pool: distinct IP texts with Zipf weights, and
    the ground truth for each."""

    def __init__(self, u: gen.Universe, seed: int, n: int):
        ips = gen.make_ips(u, seed, n, stream=1)
        ips = ips.drop_duplicates("ip").reset_index(drop=True)
        self.ips = ips
        self.u = u
        self.geo, self.asn = gen.truth_rows(u, ips)
        w = 1.0 / np.arange(1, len(ips) + 1) ** ZIPF_S
        self.weights = w / w.sum()

    def batch(self, rng: np.random.Generator) -> np.ndarray:
        n = int(rng.integers(BATCH_MIN, BATCH_MAX + 1))
        return rng.choice(len(self.ips), n, replace=False, p=self.weights)

    def check(self, idx: np.ndarray, k: int, response_json: str) -> list[str]:
        """Mismatches between one response document and the truth."""
        doc = json.loads(response_json)
        errs = []
        if doc.get("AnnotatorDate") != gen.snapshot_date(k).isoformat():
            errs.append(f"AnnotatorDate {doc.get('AnnotatorDate')} != {gen.snapshot_date(k)}")
        ann = doc.get("Annotations") or {}
        want_keys = {self.ips.ip[i] for i in idx}
        if set(ann) != want_keys:
            errs.append(f"IP keys differ: {len(set(ann) ^ want_keys)} not shared")
            return errs
        for i in idx:
            got = ann[self.ips.ip[i]]
            errs.extend(compare(gen.expected(self.u, self.ips, self.geo, self.asn, int(i), k),
                                got, self.ips.ip[i]))
        return errs


def compare(exp: dict, got: dict, ip: str) -> list[str]:
    g, n = got.get("geo", {}), got.get("network", {})
    errs = []
    if g.get("missing") is not exp["geo_missing"]:
        errs.append(f"{ip}: geo.missing {g.get('missing')}")
    elif not exp["geo_missing"]:
        for k in ("country_code", "continent_code", "city", "region", "metro_code",
                  "postal_code", "latitude", "longitude"):
            if g.get(k) != exp[k]:
                errs.append(f"{ip}: geo.{k} {g.get(k)!r} != {exp[k]!r}")
    if n.get("missing") is not exp["asn_missing"]:
        errs.append(f"{ip}: network.missing {n.get('missing')}")
    elif not exp["asn_missing"]:
        systems = [s.get("asns") for s in n.get("systems") or []]
        for k, v in (("as_number", n.get("as_number")), ("as_name", n.get("as_name")),
                     ("cidr", n.get("cidr")), ("systems", systems)):
            if v != exp[k]:
                errs.append(f"{ip}: network.{k} {v!r} != {exp[k]!r}")
    return errs


def closed_loop_rate(timed: list[dict]) -> float:
    """Completed requests per second, summed over clients, each client
    counted over its own busy time (a closed loop has no idle time, so
    this is the rate without the quantisation of counting whole
    requests in a fixed window)."""
    busy: dict[str, float] = {}
    done: dict[str, int] = {}
    for r in timed:
        c = r["rid"].split("-")[0]
        busy[c] = busy.get(c, 0.0) + (r["end"] - r["start"])
        done[c] = done.get(c, 0) + ("error" not in r)
    return sum(done[c] / busy[c] for c in busy)


# ---------------------------------------------------------------------------
# Traced run: per-layer metrics
# ---------------------------------------------------------------------------


def _stream_batches(st: Serving, lo: float, hi: float) -> list[dict]:
    """Non-empty refresh micro-batches that started inside [lo, hi]."""
    out = []
    for q in st.queries.values():
        for p in q.recentProgress:
            ts = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            if p.numInputRows > 0 and lo <= ts <= hi:
                out.append({"start": ts, "durations": dict(p.durationMs)})
    return out


def _loaded_rows(spark, inputs: str, snapshots: list[int]) -> dict[str, float]:
    """Rows read from the loaded files, and rows the loaders kept (each
    loader called once over all its files)."""
    from annotation_service_spark.sources import dims, geolite2, routeviews

    geo = [_snapshot_paths(inputs, k)["geo"] for k in snapshots]
    asn = [_snapshot_paths(inputs, k)["asn"] for k in snapshots]
    groups = [(geolite2.geolite2_blocks, geo, 1, True),
              (routeviews.routeviews_pfx2as, asn, 0, True),
              (geolite2.geolite2_locations, [os.path.join(inputs, "locations.csv")], 1, False),
              (dims.asnames, [os.path.join(inputs, "asnames.csv")], 1, False)]
    read = kept = flat_in = 0
    for loader, paths, header, flattened in groups:
        for path in paths:
            with open(path) as fh:
                read += sum(1 for _ in fh) - header
        n = loader(spark, paths).count()
        kept += n
        flat_in += n if flattened else 0
    return {"sources.rows_read": read, "sources.rows_rejected": read - kept,
            "interval.flatten.rows_in": flat_in}


def serve_layers(spark, tracer, engine, st: Serving, pool: Pool, timed: list[dict],
                 publishes: list, session_s: float, window: tuple[float, float],
                 e2e: dict, failed_share: float, peak_rss_mb: float, seed: int) -> dict:
    import tracing
    from annotation_service_spark.functions.ip import py_ip_to_bytes16

    engine.stop()
    att = tracing.Attribution(tracer, engine, *window)
    v: dict[str, float] = {"session.get_session_s": session_s}
    for name in ("geolite2_blocks", "geolite2_locations", "routeviews_pfx2as", "asnames"):
        v[f"sources.{name}.call_s"] = tracer.total_s(f"sources.{name}")
    v["interval.build_geo_ranges.call_s"] = tracer.total_s("interval.build_geo_ranges")
    v["interval.build_geo_ranges.materialize_s"] = tracer.total_s("refresh.write.geo")
    v["interval.build_asn_ranges.materialize_s"] = tracer.total_s("refresh.write.asn")
    v["interval.flatten.ranges_out"] = sum(
        e.metrics.get(("FlatMapGroupsInPandas", "number of output rows"), 0.0) for e in att.execs)
    rj = "interval.range_join_broadcast"
    v[f"{rj}.call_s"] = tracer.total_s(rj)
    v[f"{rj}.eager_executions"] = att.eager_count(rj)
    v[f"{rj}.build_rows"] = tracer.counters.get((rj, "to_pandas_rows"), 0.0)
    v[f"{rj}.build_bytes"] = tracer.counters.get((rj, "broadcast_bytes"), 0.0)
    v["asof.asof_join.call_s"] = tracer.total_s("asof.asof_join")
    v["plans.annotate.call_s"] = tracer.total_s("plans.annotate")
    v["plans.response_action_s"] = tracer.total_s("plans.response_action")

    # the reference's A1 counters, counted from the responses
    ok = [r for r in timed if "error" not in r]
    a1: Counter = Counter()
    for r in ok:
        for ip, a in json.loads(r["json"])["Annotations"].items():
            b = py_ip_to_bytes16(ip)
            g, n = a["geo"]["missing"], a["network"]["missing"]
            a1.update(invalid_ip=b is None, six_to_four=b is not None and b[:2] == b"\x20\x02",
                      geo_missing=g, asn_missing=n, both_missing=g and n)
    v.update({f"annotate.{k}": c for k, c in a1.items()})
    lat_ms = [(r["end"] - r["start"]) * 1e3 for r in ok]
    v["serve.requests"] = len(timed)
    v["serve.request_p75_ms"] = common.percentile(lat_ms, 0.75)
    v["serve.request_max_ms"] = max(lat_ms)

    pub = [p for p in publishes if p is not None]
    v["refresh.publish_s"] = common.median(pub) if pub else 0.0
    batches = _stream_batches(st, *window)
    v["refresh.trigger_s"] = sum(b["durations"].get("triggerExecution", 0) for b in batches) / 1e3
    v["refresh.add_batch_s"] = sum(b["durations"].get("addBatch", 0) for b in batches) / 1e3
    v["refresh.manifest_commit_s"] = tracer.total_s("refresh.manifest_commit")
    v["refresh.store_version"] = st.store.version
    overlap = [(r["end"] - r["start"]) * 1e3 for r in ok
               if any(r["wall_start"] <= b["start"] + b["durations"].get("triggerExecution", 0) / 1e3
                      and b["start"] <= r["wall_end"] for b in batches)]
    v["refresh.overlap_request_p50_ms"] = common.median(overlap) if overlap else 0.0

    v.update(att.engine())
    v["spark.driver_remainder_s"] = att.remainder_s(("op.request",))
    v["ops_failed_share"] = failed_share
    v["memory.peak_rss_mb"] = peak_rss_mb
    for k, (val, _) in e2e.items():
        v[f"traced.{k}"] = val

    # outside every measured window: counts that need extra jobs, and
    # the repeated-IP requests
    v.update(_loaded_rows(spark, st.inputs, st.published_now()))
    rng = np.random.default_rng([seed, 11])
    v["serve.repeated_ip_requests"] = REPEATED_IP_REQUESTS
    for _ in range(REPEATED_IP_REQUESTS):
        idx = pool.batch(rng)
        ips = [pool.ips.ip[i] for i in idx] + [pool.ips.ip[idx[0]]]
        try:
            serve_one(spark, st, ips, request_date(INITIAL_SNAPSHOTS - 1))
        except Exception as exc:
            v["serve.repeated_ip_failed"] = v.get("serve.repeated_ip_failed", 0) + 1
            common.log(f"repeated-IP request failed: {str(exc).splitlines()[0][:200]}")
    return tracing.layer_report(v)


# ---------------------------------------------------------------------------
# The run
# ---------------------------------------------------------------------------


def run(seed: int, seconds: float, traced: bool, inputs: str, work: str) -> dict:
    u = gen.make_universe(seed, SIZES["geo16"])
    pool = Pool(u, seed, SIZES["pool"])
    refresh_snaps = list(range(INITIAL_SNAPSHOTS, SIZES["snapshots"]))

    spark, session_s = common.start_session()
    tracer = engine = rss = None
    if traced:
        rss = common.RssSampler(common.jvm_pid()).start()
        import tracing

        tracer = tracing.Tracer(spark)
        tracer.install(tracing.annotate_targets())
        tracing.install_pyspark_probes(tracer)
        engine = tracing.EngineMetrics(spark).start()
    try:
        # --- setup, several times; the last one stays up ------------------
        setups = []
        st = None
        for rep in range(SETUPS):
            if st is not None:
                st.stop()
                spark.catalog.clearCache()
            if tracer is not None:
                tracer.clear()
            window_lo = time.time()
            t0 = time.perf_counter()
            st = Serving(spark, inputs, os.path.join(work, f"rep{rep}"))
            if st.publish(list(range(INITIAL_SNAPSHOTS))) is None:
                raise RuntimeError("initial snapshots were not published in time")
            setups.append(time.perf_counter() - t0)
        setup_s = session_s + common.median(setups)
        common.log(f"setup done: session {session_s:.2f}s, loads {setups}")

        # one untimed request first: the first request of a session pays
        # one-off costs (JIT, Python worker imports); it is checked too
        rng = np.random.default_rng([seed, 9])
        idx = pool.batch(rng)
        k = INITIAL_SNAPSHOTS - 1
        if tracer is not None:
            tracer.recording = False
        warmup = {"rid": "warmup", "idx": idx, "k": k,
                  "json": serve_one(spark, st, [pool.ips.ip[i] for i in idx], request_date(k))}
        if tracer is not None:
            tracer.recording = True
        common.log("warm-up request done")

        # --- timed phase ---------------------------------------------------
        timed: list[dict] = []
        res_lock = threading.Lock()
        start = time.perf_counter()
        deadline = start + seconds

        def client(cid: int) -> None:
            rng = np.random.default_rng([seed, 10, cid])
            n = 0
            while time.perf_counter() < deadline:
                idx = pool.batch(rng)
                pub = st.published_now()
                k = pub[int(rng.random() * len(pub))]
                rid = f"c{cid}-{n}"
                rec = {"rid": rid, "idx": idx, "k": k, "start": time.perf_counter(),
                       "wall_start": time.time()}
                try:
                    rec["json"] = serve_one(spark, st, [pool.ips.ip[i] for i in idx],
                                            request_date(k), tracer, rid)
                except Exception as exc:  # a failed request is recorded, not fatal
                    rec["error"] = repr(exc)[:300]
                rec["end"] = time.perf_counter()
                rec["wall_end"] = time.time()
                with res_lock:
                    timed.append(rec)
                n += 1

        publishes: list[float | None] = []

        def refresher() -> None:
            for i, k in enumerate(refresh_snaps):
                due = start + (i + 0.25) * seconds / len(refresh_snaps)
                time.sleep(max(0.0, due - time.perf_counter()))
                if time.perf_counter() >= deadline:
                    break
                publishes.append(st.publish([k]))

        threads = [threading.Thread(target=client, args=(c,), name=f"client{c}")
                   for c in range(CLIENTS)]
        threads.append(threading.Thread(target=refresher, name="refresher"))
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        window_hi = time.time()
        if tracer is not None:
            tracer.recording = False
            peak_rss_mb = rss.stop()
        common.log(f"timed phase done: {len(timed)} requests "
                   f"{[round(r['end'] - r['start'], 2) for r in timed]}, publishes {publishes}")

        # --- correctness, outside the timed phase -------------------------
        failed = sum(p is None for p in publishes)
        for r in [warmup] + timed:
            errs = [r["error"]] if "error" in r else pool.check(r["idx"], r["k"], r["json"])
            if errs:
                failed += 1
                for e in errs[:3]:
                    common.log(f"mismatch {r['rid']}: {e}")
        attempted = 1 + len(timed) + len(publishes)

        lat_ms = [(r["end"] - r["start"]) * 1e3 for r in timed if "error" not in r]
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_p50_ms": (common.median(lat_ms), "ms"),
            "throughput_per_s": (closed_loop_rate(timed), "1/s"),
        }
        if traced:
            metrics = serve_layers(spark, tracer, engine, st, pool, timed, publishes,
                                   session_s, (window_lo, window_hi), metrics,
                                   failed / attempted, peak_rss_mb, seed)
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
