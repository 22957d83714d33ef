"""applyInPandasWithState cross-batch sessionization tests."""

from __future__ import annotations

import datetime as dt

import pytest

from annotation_service_spark.streaming import stateful
from annotation_service_spark.streaming.refresh import VersionedTableManifest


def _run_batch(spark, src_dir, ckpt, qname):
    # foreachBatch sink: unlike format("memory"), it supports
    # restarting from an existing checkpoint (cross-batch state)
    collected: list = []
    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(str(src_dir))
    out = stateful.stateful_sessionize(stream, gap_seconds=1800)
    q = (
        out.writeStream.foreachBatch(
            lambda df, _eid: collected.extend(df.collect())
        )
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(ckpt))
        .start()
    )
    q.awaitTermination(120)
    return collected


def test_sessions_close_across_batches(spark, tmp_path):
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    src = tmp_path / "events"
    ckpt = tmp_path / "ckpt"

    # batch 1: two events 10 min apart (one open session), another user
    b1 = spark.createDataFrame(
        [
            (1, base),
            (1, base + dt.timedelta(minutes=10)),
            (2, base + dt.timedelta(minutes=5)),
        ],
        "user_id long, ts timestamp",
    )
    b1.write.mode("append").parquet(str(src))
    rows = _run_batch(spark, src, ckpt, "sess_out")
    assert rows == []  # nothing closed yet — sessions still open in state

    # batch 2: user 1 returns 2h later → closes their first session;
    # user 2 stays silent (session remains open)
    b2 = spark.createDataFrame(
        [(1, base + dt.timedelta(hours=2))], "user_id long, ts timestamp"
    )
    b2.write.mode("append").parquet(str(src))
    rows = _run_batch(spark, src, ckpt, "sess_out2")
    assert len(rows) == 1
    r = rows[0]
    assert r.user_id == 1
    assert r.session_start == base
    assert r.session_end == base + dt.timedelta(minutes=10)
    assert r.n_events == 2

    # batch 3: user 1 again within the gap → extends, nothing closes
    b3 = spark.createDataFrame(
        [(1, base + dt.timedelta(hours=2, minutes=10))],
        "user_id long, ts timestamp",
    )
    b3.write.mode("append").parquet(str(src))
    rows = _run_batch(spark, src, ckpt, "sess_out3")
    assert rows == []


def test_storage_roundtrip(spark, tmp_path):
    import datetime as dtm

    from annotation_service_spark.sources import storage

    df = spark.createDataFrame(
        [
            (dtm.date(2020, 1, 1), 10, 19, "a"),
            (dtm.date(2020, 1, 1), 0, 9, "b"),
            (dtm.date(2020, 2, 1), 5, 14, "c"),
        ],
        "dataset_date date, ip_low long, ip_high long, payload string",
    )
    storage.write_interval_table(df, str(tmp_path / "t"), low="ip_low")
    back = spark.read.parquet(str(tmp_path / "t"))
    assert back.count() == 3
    # partition pruning works on dataset_date
    pruned = back.where("dataset_date = DATE '2020-01-01'")
    assert pruned.count() == 2
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or "dataset_date" in plan


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Two tables bucketed on the same key equi-join with ZERO
    Exchange operators — the persisted bucket layout replaces the
    shuffle (the 100 TB fact-⨝-fact strategy)."""
    from annotation_service_spark.sources import storage

    left = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS a")
    right = spark.range(0, 1000).selectExpr("id AS k", "id * 3 AS b")
    storage.write_bucketed_table(
        left, "bkt_left", ["k"], num_buckets=8, sort_cols=["k"],
        path=str(tmp_path / "l"),
    )
    storage.write_bucketed_table(
        right, "bkt_right", ["k"], num_buckets=8, sort_cols=["k"],
        path=str(tmp_path / "r"),
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")


def test_streaming_dedup_drops_in_horizon_duplicates(spark, tmp_path):
    """Streaming exact dedup: duplicate content within the watermark
    horizon is dropped across micro-batches; state keyed by content
    hash."""
    import json

    from annotation_service_spark.streaming.stateful import streaming_dedup

    src = tmp_path / "docs"
    src.mkdir()
    rows1 = [
        {"doc_id": 1, "text": "alpha beta", "ts": "2024-01-01T10:00:00"},
        {"doc_id": 2, "text": "gamma", "ts": "2024-01-01T10:01:00"},
        {"doc_id": 3, "text": "alpha beta", "ts": "2024-01-01T10:02:00"},
    ]
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in rows1))
    rows2 = [
        {"doc_id": 4, "text": "gamma", "ts": "2024-01-01T10:10:00"},
        {"doc_id": 5, "text": "delta", "ts": "2024-01-01T10:11:00"},
    ]
    (src / "b2.json").write_text("\n".join(json.dumps(r) for r in rows2))

    schema = "doc_id long, text string, ts timestamp"
    stream = (
        spark.readStream.format("json")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)  # force multiple micro-batches
        .load(str(src))
    )
    out = streaming_dedup(stream, delay="2 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.doc_id for r in spark.sql("select * from dedup_out").collect()}
    # one survivor per distinct content: 'alpha beta' once, 'gamma'
    # once, 'delta' once
    texts = {r.text for r in spark.sql("select * from dedup_out").collect()}
    assert texts == {"alpha beta", "gamma", "delta"}
    assert len(got) == 3


def test_range_sorted_write_total_order(spark, tmp_path):
    """write_range_sorted yields a TOTAL order across files: every
    file is internally sorted and file ranges do not overlap — the
    min/max-stat pruning layout for hypertable-style data."""
    import glob

    from annotation_service_spark.sources import storage

    df = spark.range(0, 10000).selectExpr(
        "pmod(id * 2654435761, 10007) AS k", "id AS v"
    )
    storage.write_range_sorted(df, str(tmp_path / "rs"), by=["k"], num_files=8)
    files = sorted(glob.glob(str(tmp_path / "rs" / "*.parquet")))
    assert len(files) > 1
    import pyarrow.parquet as pq

    spans = []
    for f in files:
        ks = pq.read_table(f, columns=["k"]).column("k").to_pylist()
        assert ks == sorted(ks)  # sorted inside the file
        spans.append((min(ks), max(ks)))
    spans.sort()
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2  # file ranges are disjoint (total order)
    back = spark.read.parquet(str(tmp_path / "rs"))
    assert back.count() == 10000


def test_streaming_curation_filters_and_redacts(spark, tmp_path):
    """Streaming curation gate: quality filter + PII redaction +
    in-horizon dedup compose on an unbounded feed; corpus-level
    stages stay batch-side by design."""
    import json

    from annotation_service_spark.streaming.stateful import streaming_curation

    good = (
        "the quick brown fox jumps over the lazy dog and then the dog "
        "sleeps near the warm fire while the fox runs into the green "
        "forest to find some food for the long cold winter season ahead"
    )
    src = tmp_path / "cdocs"
    src.mkdir()
    rows1 = [
        {"doc_id": 1, "text": good + " contact me at bob@example.com",
         "ts": "2024-01-01T10:00:00"},
        {"doc_id": 2, "text": "x", "ts": "2024-01-01T10:01:00"},  # low quality
    ]
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in rows1))
    rows2 = [
        # exact duplicate of doc 1 AFTER redaction (same email) -> dropped
        {"doc_id": 3, "text": good + " contact me at bob@example.com",
         "ts": "2024-01-01T10:05:00"},
    ]
    (src / "b2.json").write_text("\n".join(json.dumps(r) for r in rows2))

    schema = "doc_id long, text string, ts timestamp"
    stream = (
        spark.readStream.format("json")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(str(src))
    )
    out = streaming_curation(stream, min_quality=0.4, dedup_delay="2 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("curation_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from curation_out").collect()
    assert len(rows) == 1  # doc 2 below bar; doc 3 is an in-horizon dup
    r = rows[0]
    assert r.id == 1
    assert "<EMAIL>" in r.text and "bob@example.com" not in r.text
    assert r.n_pii == 1
    assert r.quality >= 0.4


def test_streaming_rollup_maintenance_matches_batch(spark, tmp_path):
    """Streaming rollup maintenance (foreachBatch + merge_rollups)
    over multiple micro-batches ends at exactly the batch recompute,
    and a restart from the same checkpoint does not double-merge."""
    import json as _json

    from pyspark.sql import functions as F

    from annotation_service_spark.operators.rollup import tumbling_rollup

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    src = tmp_path / "ev"
    src.mkdir()
    rows = []
    for i in range(40):
        rows.append(
            {
                "event_id": i,
                "ts": (base + dt.timedelta(minutes=17 * i)).isoformat(),
                "event_type": "click" if i % 3 else "view",
                "value": round(0.5 + i * 0.25, 2),
            }
        )
    # three files -> three micro-batches (maxFilesPerTrigger=1)
    for fi in range(3):
        with open(src / f"f{fi}.json", "w") as fh:
            for r in rows[fi::3]:
                fh.write(_json.dumps(r) + "\n")

    schema = "event_id long, ts timestamp, event_type string, value double"
    state = tmp_path / "state"
    ckpt = tmp_path / "ck"

    def run():
        stream = (
            spark.readStream.format("json")
            .schema(schema)
            .option("maxFilesPerTrigger", 1)
            .load(str(src))
        )
        q = stateful.start_rollup_maintenance(
            stream, str(state), str(ckpt), window_width="1 hour"
        )
        q.awaitTermination(120)

    run()
    got_df = VersionedTableManifest(str(state)).read(spark)
    key = lambda df: {  # noqa: E731
        (r.window_start, r.event_type): (r.n_events, r.sum_v_milli)
        for r in df.collect()
    }
    got = key(got_df)
    full = key(
        tumbling_rollup(
            spark.createDataFrame(
                [
                    (
                        r["event_id"],
                        dt.datetime.fromisoformat(r["ts"]),
                        r["event_type"],
                        r["value"],
                    )
                    for r in rows
                ],
                schema,
            ),
            "1 hour",
        )
    )
    assert got == full
    # restart on the drained checkpoint: no new epochs, state unchanged
    run()
    assert key(VersionedTableManifest(str(state)).read(spark)) == full


def test_streaming_near_dedup_maintenance(spark, tmp_path):
    """Streaming near-dup ingestion (foreachBatch +
    incremental_minhash_dedup): batch 2's lightly-edited resubmission
    of a batch-1 doc is rejected by the SIGNATURE state (no exact
    hash could catch it), fresh docs accumulate, and a restart on the
    drained checkpoint leaves the state unchanged (no double-append)."""
    import json as _json
    import random

    rng = random.Random(33)
    vocab = [f"w{i:04d}" for i in range(5000)]

    def doc():
        return " ".join(rng.choice(vocab) for _ in range(40))

    base = {i: doc() for i in range(1, 21)}

    def edited(text):
        ws = text.split()
        ws[20] = "zzzz"
        return " ".join(ws)

    src = tmp_path / "docs"
    src.mkdir()
    # batch 1: docs 1-10; batch 2: docs 11-20 + edited resubmissions
    # of 1-5 (ids 101-105) + an in-batch twin of 11 (id 211)
    with open(src / "b1.json", "w") as fh:
        for i in range(1, 11):
            fh.write(_json.dumps({"doc_id": i, "text": base[i]}) + "\n")
    with open(src / "b2.json", "w") as fh:
        for i in range(11, 21):
            fh.write(_json.dumps({"doc_id": i, "text": base[i]}) + "\n")
        for i in range(1, 6):
            fh.write(
                _json.dumps({"doc_id": 100 + i, "text": edited(base[i])})
                + "\n"
            )
        fh.write(_json.dumps({"doc_id": 211, "text": edited(base[11])}) + "\n")

    state = tmp_path / "state"
    ckpt = tmp_path / "ck"

    def run():
        stream = (
            spark.readStream.format("json")
            .schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .load(str(src))
        )
        q = stateful.start_near_dedup_maintenance(
            stream, str(state), str(ckpt)
        )
        q.awaitTermination(120)

    run()
    got = VersionedTableManifest(str(state)).read(spark)
    ids = {r.doc_id for r in got.select("doc_id").collect()}
    assert set(range(1, 21)) <= ids          # all originals accepted
    assert 211 not in ids                    # in-batch twin dominated
    resub = {i for i in ids if 100 < i <= 105}
    assert len(resub) <= 1, resub            # edited resubs screened out
    n_before = got.count()
    # restart on the drained checkpoint: no re-processing, no growth
    run()
    got2 = VersionedTableManifest(str(state)).read(spark)
    assert got2.count() == n_before


@pytest.mark.parametrize("sink", ["rollup", "near_dedup"])
def test_maintenance_sinks_keep_bounded_state(spark, tmp_path, sink):
    """Six data-carrying epochs through a state-maintenance sink leave
    no more state directories in state_dir than ``retain`` keeps, and
    a restart on the drained checkpoint leaves the state unchanged."""
    import inspect
    import json as _json
    import os
    import random

    src, state, ckpt = tmp_path / "src", tmp_path / "state", tmp_path / "ck"
    src.mkdir()
    base = dt.datetime(2024, 1, 1)
    for epoch in range(6):
        with open(src / f"f{epoch}.json", "w") as fh:
            for i in range(epoch * 10, epoch * 10 + 10):
                rng = random.Random(i)
                text = " ".join(f"w{rng.randrange(5000)}" for _ in range(30))
                fh.write(_json.dumps({
                    "doc_id": i, "text": text, "event_type": "view",
                    "ts": (base + dt.timedelta(minutes=41 * i)).isoformat(),
                    "value": 1.25,
                }) + "\n")
    schema = "doc_id long, text string, event_type string, ts timestamp, value double"

    def run():
        stream = (
            spark.readStream.format("json").schema(schema)
            .option("maxFilesPerTrigger", 1).load(str(src))
        )
        if sink == "rollup":
            q = stateful.start_rollup_maintenance(
                stream, str(state), str(ckpt), window_width="1 hour"
            )
        else:
            q = stateful.start_near_dedup_maintenance(stream, str(state), str(ckpt))
        q.awaitTermination(180)

    def snapshot():
        m = VersionedTableManifest(str(state))
        return m.current_version(), sorted(map(tuple, m.read(spark).collect()))

    run()
    keep = inspect.signature(VersionedTableManifest.retain).parameters["keep"].default
    state_dirs = [n for n in os.listdir(state) if not n.startswith("_")]
    assert 0 < len(state_dirs) <= keep, state_dirs
    version, rows = snapshot()
    assert version == 5
    if sink == "near_dedup":
        assert [r[0] for r in rows] == list(range(60))
    run()
    assert snapshot() == (version, rows)


def test_streaming_token_budget_across_batches(spark, tmp_path):
    """Per-source budget admission across micro-batches: state
    carries the spend, the boundary doc is kept (floors crossed at
    most once), a source absent from the spec admits nothing, and
    the kept set is exactly the (ts, id)-order prefix."""
    import json

    from annotation_service_spark.streaming.stateful import (
        streaming_token_budget,
    )

    src = tmp_path / "bdocs"
    src.mkdir()
    # source a: budget 100 -> keeps 40, 50, and the boundary 30
    # (cum_before 90 < 100), then closes; source c absent -> nothing
    rows1 = [
        {"doc_id": 1, "source": "a", "n_chars": 40, "ts": "2024-01-01T10:00:00"},
        {"doc_id": 2, "source": "a", "n_chars": 50, "ts": "2024-01-01T10:01:00"},
        {"doc_id": 10, "source": "c", "n_chars": 5, "ts": "2024-01-01T10:00:30"},
    ]
    rows2 = [
        {"doc_id": 3, "source": "a", "n_chars": 30, "ts": "2024-01-01T10:02:00"},
        {"doc_id": 4, "source": "a", "n_chars": 10, "ts": "2024-01-01T10:03:00"},
        {"doc_id": 11, "source": "b", "n_chars": 60, "ts": "2024-01-01T10:02:30"},
    ]
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in rows1))
    (src / "b2.json").write_text("\n".join(json.dumps(r) for r in rows2))
    schema = "doc_id long, source string, n_chars long, ts timestamp"
    stream = (
        spark.readStream.format("json")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(str(src))
    )
    out = streaming_token_budget(stream, {"a": 100, "b": 50})
    q = (
        out.writeStream.format("memory")
        .queryName("budget_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.id, r.source, r.w, r.cum_before)
        for r in spark.sql("select * from budget_out").collect()
    }
    assert got == {
        (1, "a", 40, 0),
        (2, "a", 50, 40),
        (3, "a", 30, 90),   # boundary doc kept, crosses 100
        (11, "b", 60, 0),   # boundary doc on a fresh source
    }


def test_streaming_hot_lines_crossing_once_across_batches(spark, tmp_path):
    """Hot-line detection across micro-batches: a line is emitted in
    the batch where its cumulative count first exceeds the threshold,
    exactly once (state carries count + emitted flag), lines that
    never cross stay silent, and a line crossing within a single
    batch also reports."""
    import json

    from annotation_service_spark.streaming.stateful import (
        streaming_hot_lines,
    )

    src = tmp_path / "lines"
    src.mkdir()
    # 'banner': 2 then 2 more -> crosses 3 in batch 2, never again
    # 'footer': 4 in batch 1 -> crosses within one batch
    # 'rare':   1 + 1 -> never crosses
    b1 = ["banner"] * 2 + ["footer"] * 4 + ["rare"]
    b2 = ["banner"] * 2 + ["banner"] + ["rare"]
    (src / "b1.json").write_text(
        "\n".join(json.dumps({"norm": n}) for n in b1)
    )
    (src / "b2.json").write_text(
        "\n".join(json.dumps({"norm": n}) for n in b2)
    )
    stream = (
        spark.readStream.format("json")
        .schema("norm string")
        .option("maxFilesPerTrigger", 1)
        .load(str(src))
    )
    out = streaming_hot_lines(stream, threshold=3)
    q = (
        out.writeStream.format("memory")
        .queryName("hot_lines_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = [r.norm for r in spark.sql("select * from hot_lines_out").collect()]
    assert sorted(rows) == ["banner", "footer"]  # each EXACTLY once


def test_streaming_hot_lines_ttl_evicts_cold_keeps_tombstone(spark, tmp_path):
    """VERDICT r12 item 3 — bounded state over an unbounded crawl:
    with ``ttl_ms`` set, an UNEMITTED line idle past the TTL loses its
    partial count (eviction — its detection becomes windowed), while
    an EMITTED line keeps a tombstone so it can NEVER re-emit.
    Timeline (ttl 700 ms, live processingTime trigger):

      b1: cold x2 (below threshold 3), hot x4 (emits)
      ... > ttl idle: cold's state evicts, hot's tombstone survives
      b2: probe x4 (emits; forces the timeout batch)
      b3: cold x2 again (2+2=4 would cross WITHOUT eviction -> must
          stay silent), hot x4 again (tombstone -> must stay silent)

    Emitted set: exactly {hot, probe}, each once."""
    import json
    import time as _t

    from annotation_service_spark.streaming.stateful import (
        streaming_hot_lines,
    )

    src = tmp_path / "lines_ttl"
    src.mkdir()
    (src / "b1.json").write_text(
        "\n".join(json.dumps({"norm": n}) for n in ["cold"] * 2 + ["hot"] * 4)
    )
    stream = (
        spark.readStream.format("json")
        .schema("norm string")
        .option("maxFilesPerTrigger", 1)
        .load(str(src))
    )
    out = streaming_hot_lines(stream, threshold=3, ttl_ms=700)
    q = (
        out.writeStream.format("memory")
        .queryName("hot_lines_ttl_out")
        .outputMode("append")
        .trigger(processingTime="200 milliseconds")
        .start()
    )

    def total_input() -> int:
        return sum(p["numInputRows"] for p in q.recentProgress)

    def wait_rows(n: int) -> None:
        deadline = _t.time() + 90
        while total_input() < n and _t.time() < deadline:
            _t.sleep(0.2)
        assert total_input() >= n, f"stream stalled at {total_input()}/{n}"

    try:
        wait_rows(6)
        _t.sleep(2.5)  # >> ttl: cold + hot both idle past the timeout
        (src / "b2.json").write_text(
            "\n".join(json.dumps({"norm": "probe"}) for _ in range(4))
        )
        wait_rows(10)
        (src / "b3.json").write_text(
            "\n".join(
                json.dumps({"norm": n}) for n in ["cold"] * 2 + ["hot"] * 4
            )
        )
        wait_rows(16)
        _t.sleep(1.0)  # let the final batch's (non-)emissions land
    finally:
        q.stop()
        q.awaitTermination(60)
    rows = [
        r.norm for r in spark.sql("select * from hot_lines_ttl_out").collect()
    ]
    assert sorted(rows) == ["hot", "probe"], rows
