"""Custom stateful streaming operator: cross-batch sessionization.

The batch engine sessionizes with windows (gate query ``sessionize``);
on an unbounded request stream the same semantics need PER-KEY STATE
that survives micro-batches — ``applyInPandasWithState``: state holds
the open session per user; a new event either extends it or closes it
(emitting the finished session downstream). This is the
recommended shape for custom stateful operators the reference's
streaming surface would need (its refresh/metrics loops are
per-process state the same way).

Scale notes: state is keyed by user — uniformly distributed, one
HDFS/RocksDB state row per active user; each micro-batch touches only
keys present in the batch. Output is append-mode (sessions emit
exactly once, when closed).
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .refresh import VersionedTableManifest, _batch_dir, _start_sink

SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("end_us", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)


def _us(ts) -> int:
    if isinstance(ts, pd.Timestamp):
        return ts.value // 1000
    return int(ts.timestamp() * 1_000_000)


def stateful_sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Streaming sessionizer: emits a (user, start, end, n_events) row
    each time a session CLOSES (next event arrives > gap later). The
    open session rides in GroupState across micro-batches; same gap
    semantics as the batch ``sessionize`` gate query."""
    gap_us = gap_seconds * 1_000_000

    def fn(key, pdf_iter, state: GroupState):
        (user_id,) = key
        if state.exists:
            start_us, end_us, n = state.get
        else:
            start_us = end_us = n = None

        closed: list[tuple[int, int, int, int]] = []
        ts_values: list[int] = []
        for pdf in pdf_iter:
            ts_values.extend(_us(t) for t in pdf[ts_col])
        ts_values.sort()
        for t in ts_values:
            if start_us is None:
                start_us, end_us, n = t, t, 1
            elif t - end_us > gap_us:
                closed.append((user_id, start_us, end_us, n))
                start_us, end_us, n = t, t, 1
            else:
                end_us, n = t, n + 1
        if start_us is not None:
            state.update((start_us, end_us, n))
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [c[0] for c in closed],
                    "session_start": [
                        dt.datetime.utcfromtimestamp(c[1] / 1e6) for c in closed
                    ],
                    "session_end": [
                        dt.datetime.utcfromtimestamp(c[2] / 1e6) for c in closed
                    ],
                    "n_events": [c[3] for c in closed],
                }
            )

    return (
        events.groupBy(user_col)
        .applyInPandasWithState(
            fn,
            SESSION_SCHEMA,
            STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


def streaming_dedup(
    docs_stream: DataFrame,
    content_col: str = "text",
    ts_col: str = "ts",
    delay: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup for an unbounded document feed (the
    training-pipeline twin of ``operators.dedup.dedup_exact``): rows
    whose content hash was already seen within the watermark horizon
    are dropped; state expires with the watermark so it stays bounded.

    Built on ``dropDuplicatesWithinWatermark`` keyed by the md5
    content hash — the state store holds one row per DISTINCT
    in-horizon document, keyed uniformly by hash (skew-free at any
    scale); late duplicates beyond ``delay`` are the documented
    trade-off of bounding state on an unbounded stream.
    """
    from pyspark.sql import functions as F

    hashed = docs_stream.withColumn(
        "content_hash", F.md5(F.col(content_col))
    ).withWatermark(ts_col, delay)
    return hashed.dropDuplicatesWithinWatermark(["content_hash"])


def streaming_curation(
    docs_stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    min_quality: float = 0.55,
    dedup_delay: str = "1 hour",
) -> DataFrame:
    """Streaming twin of the batch curation pipeline: per-document
    quality gate + PII redaction + exact in-horizon dedup, applied to
    an unbounded document feed.

    The per-doc stages (quality score, PII scrub) are stateless
    column expressions — they compose with Structured Streaming with
    no state at all; only the dedup stage holds state (one row per
    distinct in-horizon content hash, watermark-bounded, see
    ``streaming_dedup``). Corpus-level stages that need ALL pairs
    (near-dup clustering, decontamination vs a benchmark) stay in the
    batch layer by design — their state is unbounded on a stream; the
    standard deployment runs this stream filter as the ingest gate
    and the batch pipeline as the periodic compaction pass.

    Returns (id, ts, redacted text, quality, n_emails+n_phones+n_ips
    as n_pii) for documents that pass the quality bar, deduped.
    """
    from pyspark.sql import functions as F

    from ..functions.text import quality_score, redact_pii

    scrubbed = docs_stream.select(
        F.col(id_col).alias("id"),
        F.col(ts_col).alias("ts"),
        redact_pii(F.col(text_col)).alias("p"),
        quality_score(F.col(text_col)).alias("quality"),
    ).select(
        "id",
        "ts",
        F.col("p.redacted").alias("text"),
        "quality",
        (
            F.col("p.n_emails") + F.col("p.n_phones") + F.col("p.n_ips")
        ).alias("n_pii"),
    )
    kept = scrubbed.where(F.col("quality") >= F.lit(min_quality))
    hashed = kept.withColumn("content_hash", F.md5(F.col("text"))).withWatermark(
        "ts", dedup_delay
    )
    return hashed.dropDuplicatesWithinWatermark(["content_hash"]).drop(
        "content_hash"
    )


FUNNEL_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("completed_at", T.TimestampType()),
    ]
)

FUNNEL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("step_i", T.LongType()),
        T.StructField("t_us", T.LongType()),
        T.StructField("done", T.LongType()),
    ]
)


def streaming_funnel(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Streaming ordered funnel: per-user GroupState tracks the
    furthest step reached and its time; a user emits ONE row (append
    mode) at the event completing the last step. The greedy
    earliest-advance scan is exactly the batch ``funnel_reach``
    "earliest qualifying progression", so with in-order arrival the
    streaming completion set equals the batch one (asserted in
    tests). Cross-batch out-of-order arrival can only DELAY an
    advance, never produce a completion batch mode wouldn't —
    the standard at-least-ordered caveat for streaming funnels.

    State: one tiny row (step index + timestamp) per user — uniform
    key, bounded by active users, no timeout needed (set one to shed
    abandoned funnels in production).
    """

    def fn(key, pdf_iter, state: GroupState):
        (user_id,) = key
        if state.exists:
            step_i, t_us, done = state.get
        else:
            step_i, t_us, done = 0, -1, 0

        evs: list[tuple[int, str]] = []
        for pdf in pdf_iter:
            evs.extend(
                (_us(t), et) for t, et in zip(pdf[ts_col], pdf[type_col])
            )
        evs.sort()
        completed_at = None
        if not done:
            for t, et in evs:
                if et == steps[step_i] and t > t_us:
                    step_i += 1
                    t_us = t
                    if step_i == len(steps):
                        completed_at = t
                        done = 1
                        break
        state.update((step_i, t_us, done))
        if completed_at is not None:
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "completed_at": [
                        dt.datetime.utcfromtimestamp(completed_at / 1e6)
                    ],
                }
            )

    return events.groupBy(user_col).applyInPandasWithState(
        fn,
        FUNNEL_OUT_SCHEMA,
        FUNNEL_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def _commit_state(
    manifest: VersionedTableManifest, state: DataFrame, epoch_id: int
) -> None:
    """Write the epoch's state version, make it the manifest's whole
    snapshot and age out the versions ``retain`` no longer keeps."""
    out = _batch_dir(manifest.output_dir, epoch_id)
    state.write.mode("overwrite").parquet(out)
    manifest.commit(epoch_id, [out], replace=True)
    manifest.retain()


def start_rollup_maintenance(
    events_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    window_width: str = "6 hours",
    dims: tuple[str, ...] = ("event_type",),
    available_now: bool = True,
):
    """Continuous materialized-rollup maintenance — the streaming
    driver of ``operators/rollup.py::merge_rollups``: each
    micro-batch is reduced to its rollup partial (buckets × dims
    rows) and merged into the standing state table, so the aggregate
    is always fresh without ever rescanning history. The batch gate
    ``incremental_rollup`` proves merge == full recompute; this
    wrapper adds the delivery contract.

    Idempotency under at-least-once foreachBatch: each merged state is
    written to its own epoch directory and committed through a
    ``VersionedTableManifest`` on ``state_dir`` as the whole snapshot
    (``replace=True``), whose version is the last APPLIED epoch — a
    replayed epoch (crash after data write, before/after the commit)
    is detected by ``epoch_id <= current_version()`` and skipped, so
    a delta can never be double-merged. Readers resolve CURRENT → a
    complete immutable state directory, so they never observe a
    half-written merge; ``retain`` deletes the state directories of
    versions it no longer keeps, so disk use stays bounded.
    """
    from ..operators.rollup import merge_rollups, tumbling_rollup

    spark = events_stream.sparkSession
    manifest = VersionedTableManifest(state_dir)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        cur = manifest.current_version()
        if batch_df.isEmpty() or (cur is not None and epoch_id <= cur):
            return  # nothing to merge, or a replay of an applied epoch
        delta = tumbling_rollup(batch_df, window_width, dims=dims)
        if cur is not None:
            delta = merge_rollups(manifest.read(spark, cur), delta)
        _commit_state(manifest, delta, epoch_id)

    return _start_sink(events_stream, process, checkpoint_dir, available_now)


def start_near_dedup_maintenance(
    docs_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    available_now: bool = True,
):
    """Continuous NEAR-dup ingestion — the streaming driver of
    ``operators/dedup.py::incremental_minhash_dedup``: each
    micro-batch is screened against the standing MinHash signature
    state (num_hashes longs per accepted doc — bounded, never
    shingles), near-dup resubmissions and in-batch twins are
    dropped, and the survivors' signatures are appended to produce
    the next state version. The batch gate
    ``dedup_incremental_minhash`` carries the hash-green correctness
    evidence for the screen itself; this wrapper adds the delivery
    contract.

    Same commit discipline as ``start_rollup_maintenance``: each
    state version is its own epoch directory committed through the
    ``state_dir`` manifest, replayed epochs (``epoch_id <=
    current_version()``) are skipped — an at-least-once foreachBatch
    can never admit a batch twice or double-append signatures — and
    ``retain`` deletes the superseded copies.
    """
    from .. import caching
    from ..operators.dedup import incremental_minhash_dedup

    spark = docs_stream.sparkSession
    manifest = VersionedTableManifest(state_dir)
    mh_cols = [f"mh{i}" for i in range(num_hashes)]

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        cur = manifest.current_version()
        if batch_df.isEmpty() or (cur is not None and epoch_id <= cur):
            return  # nothing to screen, or a replay of an applied epoch
        if cur is None:
            seen = spark.createDataFrame(
                [], f"{id_col} long, " + ", ".join(f"{c} long" for c in mh_cols)
            )
        else:
            seen = manifest.read(spark, cur)
        # the batch's signature caches are new plans every epoch: the
        # scope releases them once the state version is written
        with caching.scope():
            survivors = incremental_minhash_dedup(
                batch_df,
                seen,
                id_col=id_col,
                text_col=text_col,
                num_hashes=num_hashes,
                bands=bands,
                threshold=threshold,
            ).withColumnRenamed("id", id_col)
            _commit_state(manifest, seen.unionByName(survivors), epoch_id)

    return _start_sink(docs_stream, process, checkpoint_dir, available_now)


BUDGET_OUT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("source", T.StringType()),
        T.StructField("w", T.LongType()),
        T.StructField("cum_before", T.LongType()),
    ]
)

BUDGET_STATE_SCHEMA = T.StructType([T.StructField("spent", T.LongType())])


def streaming_token_budget(
    docs_stream: DataFrame,
    budgets,
    id_col: str = "doc_id",
    source_col: str = "source",
    weight_col: str = "n_chars",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming twin of ``curation.token_budget_sample``: an ingest
    gate that admits documents per source until the source's token
    budget is crossed, across micro-batches. The per-source spend
    rides in ONE long of GroupState (bounded by the mixture spec's
    source cardinality — no watermark needed, the state never grows).

    Semantics mirror the batch form with arrival order as the
    priority: a doc is kept iff the source's cumulative weight BEFORE
    it is < budget (boundary doc kept, budgets are floors crossed at
    most once); the spend accumulates every arrived doc's weight, so
    once crossed a source stays closed. Within a micro-batch, rows
    order by (ts, id) — deterministic under any shuffle placement.
    ``budgets``: int (every source) or dict (absent sources admit
    nothing). Output (id, source, w, cum_before), like the batch
    form.

    Deployment note (same split as streaming_curation): this stream
    gate fills a LIVE mixture in arrival order; the batch
    token_budget_sample re-draws the mixture in seeded-priority order
    at compaction time, which is the unbiased form — use the stream
    gate for admission control, the batch form for the final cut.
    """

    def budget_of(source) -> int:
        if isinstance(budgets, dict):
            return int(budgets.get(source, 0))
        return int(budgets)

    def fn(key, pdf_iter, state: GroupState):
        (source,) = key
        budget = budget_of(source)
        spent = state.get[0] if state.exists else 0
        rows = []
        for pdf in pdf_iter:
            for _, r in pdf.iterrows():
                rows.append((int(r[id_col]), int(r[weight_col]), r[ts_col]))
        rows.sort(key=lambda t: (t[2], t[0]))
        kept = []
        for did, w, _ts in rows:
            if spent < budget:
                kept.append((did, source, w, spent))
            spent += w
        state.update((spent,))
        if kept:
            yield pd.DataFrame(
                {
                    "id": [k[0] for k in kept],
                    "source": [k[1] for k in kept],
                    "w": [k[2] for k in kept],
                    "cum_before": [k[3] for k in kept],
                }
            )

    return (
        docs_stream.groupBy(source_col)
        .applyInPandasWithState(
            fn,
            BUDGET_OUT_SCHEMA,
            BUDGET_STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


HOTLINE_OUT_SCHEMA = T.StructType([T.StructField("norm", T.StringType())])

HOTLINE_STATE_SCHEMA = T.StructType(
    [T.StructField("cnt", T.LongType()), T.StructField("emitted", T.LongType())]
)


def streaming_hot_lines(
    lines_stream: DataFrame,
    norm_col: str = "norm",
    threshold: int = 30,
    ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming hot-line (boilerplate) detection — the stream twin of
    ``curation.remove_boilerplate_lines``'s hot-line stage: a
    normalized line is emitted ONCE, in the micro-batch where its
    cumulative occurrence count first exceeds ``threshold``. State is
    two longs per DISTINCT line (count + emitted flag), keyed
    uniformly by content — a boilerplate line occurring 10^9 times is
    one state row, never a fan-out. The emitted SET is a pure
    function of the input (batch boundaries only move WHEN a line is
    reported, not whether), which is what makes the gate
    deterministic under any file chunking.

    Note the stream stage counts OCCURRENCES where the batch operator
    counts DISTINCT documents (a per-line doc set would be unbounded
    state); identical when documents don't repeat a line internally,
    and the documented trade-off otherwise — run the batch form at
    compaction time for the document-exact cut, use this gate to
    start suppressing template chrome mid-ingest.

    State bound: without a TTL, state is two longs per DISTINCT line
    ever seen — fine for a fixed corpus replay, unbounded over an
    unbounded crawl. Pass ``ttl_ms`` to evict COLD state on a
    processing-time timeout (re-armed on every arrival, so it is an
    inactivity timeout): an UNEMITTED line idle for ttl_ms loses its
    partial count (it must now exceed the threshold within a TTL
    window of activity to be detected — the detection becomes
    windowed, never double-emitting); an EMITTED line keeps a
    tombstone so the exactly-once emission contract survives eviction
    (tombstone cardinality == the emitted set — the operator's own
    output, small by construction)."""

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_ms
        else GroupStateTimeout.NoTimeout
    )

    def fn(key, pdf_iter, state: GroupState):
        (norm,) = key
        if ttl_ms and state.hasTimedOut:
            cnt, emitted = state.get if state.exists else (0, 0)
            if emitted:
                # keep the tombstone (exactly-once), re-arm the clock
                state.update((int(cnt), 1))
                state.setTimeoutDuration(ttl_ms)
            else:
                state.remove()
            return
        cnt, emitted = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            cnt += len(pdf)
        out_rows = []
        if cnt > threshold and not emitted:
            emitted = 1
            out_rows.append(norm)
        state.update((int(cnt), int(emitted)))
        if ttl_ms:
            state.setTimeoutDuration(ttl_ms)
        if out_rows:
            yield pd.DataFrame({"norm": out_rows})

    return lines_stream.groupBy(norm_col).applyInPandasWithState(
        fn,
        HOTLINE_OUT_SCHEMA,
        HOTLINE_STATE_SCHEMA,
        "append",
        timeout,
    )
