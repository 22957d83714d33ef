"""Dataset refresh as Structured Streaming (ST1-ST4).

Reference behavior: a ~24h randomized timer plus Pub/Sub file-arrival
events trigger an incremental reload — only files not in the cache
load, then the directory is atomically swapped under a RWMutex
(main.go:95-96, handler/pubsub.go:20-42, geoloader/geoloader.go:
122-152, manager/manager.go:38-57).

Spark-first mapping:
- ST1/ST2 (discovery + triggering): a streaming FILE SOURCE. New
  dataset files landing under the watched path ARE the events; the
  checkpoint gives exactly-once, file-level incrementality (ST3's
  cache map for free). A Pub/Sub topic would slot in as another
  readStream source with the same sink.
- ST3 (incremental load): each micro-batch holds ONLY the new files;
  ``foreachBatch`` builds their interval tables and appends them as
  new ``dataset_date`` partitions. The event sink's loaded-path set
  (the reference's cache map) lives in the same version manifest
  that lists the data directories, so one commit records both.
- ST4 (atomic swap): every sink commits through one
  ``VersionedTableManifest`` — one JSON manifest per version naming
  the data directories and the loaded source paths, behind an atomic
  CURRENT pointer — then ``SnapshotStore`` re-resolves. Readers hold
  the previous cached DataFrame until ``swap`` republishes — the
  copy-on-write snapshot semantics of the reference's directory
  swap. The state-maintenance sinks (``stateful.py``) replace their
  state through the same manifest. Every sink ``retain``s the newest
  manifests after each commit.
- ST5 (readiness): ``SnapshotStore.ready`` — queries against an
  empty store raise, mirroring errNoAnnotator → HTTP 503. A sink
  restarted on a committed table swaps it in when it starts.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import tempfile
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


class SnapshotStore:
    """Copy-on-write published view of the current dataset tables
    (the Spark analog of manager.SetDirectory's RWMutex swap —
    readers keep whatever DataFrame they already resolved; new
    queries see the new snapshot after ``swap``)."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._tables: dict[str, DataFrame] = {}
        self._version = 0

    @property
    def ready(self) -> bool:
        return bool(self._tables)

    @property
    def version(self) -> int:
        return self._version

    def get(self, name: str) -> DataFrame:
        with self._lock:
            if name not in self._tables:
                raise RuntimeError(
                    "no dataset loaded yet (reference: errNoAnnotator / 503)"
                )
            return self._tables[name]

    def swap(self, name: str, df: DataFrame) -> None:
        with self._lock:
            self._tables[name] = df
            self._version += 1


class VersionedTableManifest:
    """Delta-style snapshot isolation for the published parquet table
    (ST4 hardened — VERDICT r8 #6). The reference swaps a directory
    under a RWMutex so in-flight readers finish on the old directory
    (manager/manager.go:38-57); Spark readers list files lazily, so a
    bare ``read.parquet(output_dir)`` can re-list MID-QUERY and see a
    later refresh's half-written files. This class removes that race
    with the transactional-table recipe (the Delta/Iceberg core, built
    from primitives available everywhere):

    - DATA is immutable once committed: each refresh writes a NEW
      ``batch=<epoch>`` directory; a directory is only ever
      (over)written BEFORE its commit — i.e. during the at-least-once
      foreachBatch retry of a crashed epoch — when no manifest, and
      therefore no reader, can reference it.
    - A COMMIT is one JSON manifest (``_versions/v<epoch>.json``)
      listing every batch directory in the snapshot and every source
      path loaded into it, then an atomic rename of the CURRENT
      pointer. Write-ahead ordering: data, then manifest, then
      pointer. It is the only commit record a stream sink writes.
    - READERS resolve CURRENT once, at open: the returned DataFrame
      scans exactly the manifest's immutable directory list, so a scan
      that straddles a refresh still yields ONE consistent version.
    - RETENTION (``retain``) keeps the newest ``keep`` manifests and
      deletes batch directories no retained manifest references — the
      reader contract is "a snapshot stays scannable while its
      manifest is retained", the same contract as Delta's VACUUM
      horizon.
    - MULTI-WRITER FENCING (r10): ``commit`` and ``retain`` serialize
      through an atomic lock file (``_versions/LOCK``, O_CREAT|O_EXCL
      — rename-atomic storage is already this class's substrate
      assumption), and ``commit`` re-reads CURRENT *inside* the lock
      (epoch-CAS). Two refresh jobs with independent epoch counters
      can no longer lose updates: a writer whose epoch was overtaken
      by the other job gets a freshly allocated version number layered
      on the other's dirs, while a true same-epoch foreachBatch replay
      (its dirs already in CURRENT) is still skipped idempotently. A
      crashed writer's lock is broken after ``stale_after`` seconds
      via a rename (only one contender's rename succeeds, so the
      break itself cannot race).
    """

    def __init__(
        self,
        output_dir: str,
        lock_timeout: float = 30.0,
        lock_stale_after: float = 300.0,
    ) -> None:
        self.output_dir = output_dir
        self.versions_dir = os.path.join(output_dir, "_versions")
        self._cur = os.path.join(self.versions_dir, "CURRENT")
        self._lockpath = os.path.join(self.versions_dir, "LOCK")
        self.lock_timeout = lock_timeout
        self.lock_stale_after = lock_stale_after

    # -- writer fencing ---------------------------------------------------
    def _acquire_lock(self) -> None:
        """Take the inter-process writer lock. O_CREAT|O_EXCL is atomic
        on the rename-atomic filesystems this class targets. A lock
        older than ``stale_after`` (crashed writer) is broken by
        renaming it aside — os.replace succeeds for exactly one
        contender; the loser's ENOENT just sends it back to retry."""
        os.makedirs(self.versions_dir, exist_ok=True)
        deadline = time.monotonic() + self.lock_timeout
        while True:
            try:
                fd = os.open(
                    self._lockpath, os.O_CREAT | os.O_EXCL | os.O_WRONLY
                )
                with os.fdopen(fd, "w") as fh:
                    fh.write(f"pid={os.getpid()} t={time.time()}\n")
                return
            except FileExistsError:
                try:
                    age = time.time() - os.path.getmtime(self._lockpath)
                    if age > self.lock_stale_after:
                        os.replace(
                            self._lockpath,
                            self._lockpath + f".broken.{os.getpid()}",
                        )
                        continue  # retry the exclusive create
                except FileNotFoundError:
                    continue  # holder released between check and stat
                if time.monotonic() >= deadline:
                    raise TimeoutError(
                        f"manifest writer lock {self._lockpath} held for "
                        f">{self.lock_timeout}s; a concurrent refresh job "
                        "is committing (or crashed less than "
                        f"{self.lock_stale_after}s ago)"
                    )
                time.sleep(0.05)

    def _release_lock(self) -> None:
        try:
            os.unlink(self._lockpath)
        except FileNotFoundError:
            pass  # broken as stale by a contender; nothing to release

    # -- commit side ----------------------------------------------------
    def commit(
        self,
        epoch_id: int,
        new_dirs: list[str],
        replace: bool = False,
        paths: list[str] = (),
    ) -> int:
        """Publish snapshot = previous snapshot + ``new_dirs`` (or
        exactly ``new_dirs`` when ``replace=True`` — the reference's
        full-directory swap; superseded directories stay on disk until
        ``retain`` ages their manifests out, which is precisely what
        keeps in-flight readers consistent). ``paths`` (the source
        files the new directories were built from) accumulate the same
        way, so the manifest that makes the data visible also marks
        its files loaded.

        Idempotent under at-least-once replay AND safe under
        concurrent writers (both inside the writer lock):
        - replay of an epoch whose dirs are already visible in CURRENT
          is skipped (returns the current version);
        - an epoch overtaken by ANOTHER writer's larger epoch number
          (independent streaming queries number epochs independently)
          is NOT dropped — it commits under a freshly allocated
          version ``cur+1`` layered on the other writer's dirs, so
          neither writer's directories are lost."""
        epoch_id = int(epoch_id)
        self._acquire_lock()
        try:
            cur = self.current_version()  # CAS: re-read inside the lock
            if cur is not None and epoch_id <= cur:
                committed = self.resolve(cur)
                already = all(d in committed for d in new_dirs)
                if already and (not replace or set(committed) == set(new_dirs)):
                    return cur  # true replay: this batch is already visible
                version = cur + 1  # overtaken by a concurrent writer
            else:
                version = epoch_id
            prev = {} if replace or cur is None else self._load(cur)
            dirs = list(prev.get("dirs", []))
            dirs += [d for d in new_dirs if d not in dirs]
            loaded = list(prev.get("paths", []))
            loaded += [p for p in paths if p not in loaded]
            manifest = os.path.join(self.versions_dir, f"v{version}.json")
            fd, tmp = tempfile.mkstemp(dir=self.versions_dir, suffix=".tmp")
            with os.fdopen(fd, "w") as fh:
                json.dump({"epoch": version, "dirs": dirs, "paths": loaded}, fh)
            os.replace(tmp, manifest)  # manifest durable before the pointer
            fd, tmp = tempfile.mkstemp(dir=self.versions_dir, suffix=".tmp")
            with os.fdopen(fd, "w") as fh:
                fh.write(str(version))
            os.replace(tmp, self._cur)
            return version
        finally:
            self._release_lock()

    # -- read side --------------------------------------------------------
    def current_version(self) -> int | None:
        try:
            with open(self._cur) as fh:
                return int(fh.read().strip())
        except FileNotFoundError:
            return None

    def versions(self) -> list[int]:
        if not os.path.isdir(self.versions_dir):
            return []
        return sorted(
            int(n[1:-5])
            for n in os.listdir(self.versions_dir)
            if n.startswith("v") and n.endswith(".json")
        )

    def _load(self, version: int | None = None) -> dict:
        if version is None:
            version = self.current_version()
            if version is None:
                raise RuntimeError("no committed snapshot version yet")
        with open(os.path.join(self.versions_dir, f"v{version}.json")) as fh:
            return json.load(fh)

    def resolve(self, version: int | None = None) -> list[str]:
        """The immutable directory list of ``version`` (default CURRENT)."""
        return self._load(version)["dirs"]

    def loaded_paths(self) -> set[str]:
        """The source paths CURRENT's snapshot was built from (empty
        before the first commit)."""
        cur = self.current_version()
        return set() if cur is None else set(self._load(cur).get("paths", []))

    def read(
        self, spark: SparkSession, version: int | None = None
    ) -> DataFrame:
        """A DataFrame pinned to one snapshot version. ``basePath``
        keeps partition discovery identical to scanning the root; the
        synthetic ``batch`` partition column is internal and dropped."""
        dirs = self.resolve(version)
        return (
            spark.read.option("basePath", self.output_dir)
            .parquet(*dirs)
            .drop("batch")
        )

    # -- retention ----------------------------------------------------
    def retain(self, keep: int = 3) -> list[str]:
        """Keep the newest ``keep`` manifests; delete older manifests
        and any batch directory no retained manifest references.
        Returns the deleted directories (for tests/observability).
        Runs inside the writer lock: without it, a commit landing
        between this method's hold-list resolution and its rmtree
        could publish a manifest referencing a directory being
        deleted (the classic VACUUM/commit race)."""
        import shutil

        self._acquire_lock()
        try:
            vs = self.versions()
            if len(vs) <= keep:
                return []
            drop, hold = vs[:-keep], vs[-keep:]
            referenced: set[str] = set()
            for v in hold:
                referenced.update(self.resolve(v))
            deleted: list[str] = []
            for v in drop:
                for d in self.resolve(v):
                    if d not in referenced and os.path.isdir(d):
                        shutil.rmtree(d)
                        deleted.append(d)
                os.remove(os.path.join(self.versions_dir, f"v{v}.json"))
            return deleted
        finally:
            self._release_lock()


def watch_new_files(
    spark: SparkSession,
    path_glob: str,
    schema: T.StructType,
    fmt: str = "csv",
    **options,
) -> DataFrame:
    """ST1/ST2/ST3: streaming scan that discovers and reads ONLY new
    files (checkpoint-tracked), tagged with their path for P7 date
    extraction."""
    reader = (
        spark.readStream.format(fmt)
        .schema(schema)
        .option("maxFilesPerTrigger", 16)
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path_glob).withColumn(
        "_src_path", F.input_file_name()
    )


# Pub/Sub message ids are server-assigned numerics, but the bridge accepts
# any object — ids that could escape staging_dir as a path component get
# hashed instead (see pubsub_signal_callback).
_SAFE_MESSAGE_ID = re.compile(r"[A-Za-z0-9_.-]+")

PUBSUB_SIGNAL_SCHEMA = T.StructType(
    [
        T.StructField("message_id", T.StringType()),
        T.StructField("data", T.StringType()),
        T.StructField(
            "attributes", T.MapType(T.StringType(), T.StringType())
        ),
    ]
)


def pubsub_signal_callback(staging_dir: str):
    """Message→file bridge between a Pub/Sub subscriber and a Spark
    file-stream source — the client-independent half of the real
    connector, so its delivery semantics are testable without the
    cloud SDK. Each message stages ONE json file named by its
    message_id:

    - idempotent under redelivery (at-least-once Pub/Sub retries of
      the same message overwrite the same file — the downstream file
      stream sees it once);
    - atomic (tmp + rename, so the stream never reads a torn file);
    - acked only AFTER the rename — a crash between receive and stage
      leaves the message unacked and it redelivers, never drops.

    The callback accepts any object with ``message_id``, ``data``
    (bytes) and ``attributes`` (mapping) plus ``ack()`` — the
    google-cloud-pubsub Message contract. Because that contract is
    open to ANY bridge object, the id is untrusted as a path
    component: ids outside ``[A-Za-z0-9_.-]`` (or path-traversal
    shapes like ``..``) are replaced by their sha256 — deterministic,
    so redelivery of the same message still overwrites the same file
    and the idempotency contract holds."""
    os.makedirs(staging_dir, exist_ok=True)

    def callback(message) -> None:
        rec = {
            "message_id": str(message.message_id),
            "data": (message.data or b"").decode("utf-8", "replace"),
            "attributes": dict(getattr(message, "attributes", {}) or {}),
        }
        safe_id = rec["message_id"]
        if not _SAFE_MESSAGE_ID.fullmatch(safe_id) or ".." in safe_id:
            safe_id = hashlib.sha256(safe_id.encode()).hexdigest()
        fd, tmp = tempfile.mkstemp(dir=staging_dir, suffix=".tmp")
        with os.fdopen(fd, "w") as fh:
            json.dump(rec, fh)
        os.replace(tmp, os.path.join(staging_dir, f"msg-{safe_id}.json"))
        message.ack()

    return callback


def pubsub_signal_stream(spark: SparkSession, staging_dir: str) -> DataFrame:
    """Streaming view of the staged Pub/Sub messages (checkpointed
    file source → exactly-once per staged file). Feed this to
    ``start_event_refresh`` (attributes carry the object path for
    path-addressed refresh) or treat any row as the reference's
    content-free 'something new landed' signal
    (handler/pubsub.go:38-41 ignores the message body entirely)."""
    return (
        spark.readStream.schema(PUBSUB_SIGNAL_SCHEMA)
        .option("pathGlobFilter", "msg-*.json")
        .json(staging_dir)
    )


def start_pubsub_subscriber(
    project: str,
    topic: str,
    staging_dir: str,
    subscription: str | None = None,
):
    """REAL Pub/Sub client path (import-gated — google-cloud-pubsub
    is not installed in this environment; everything below the client
    is covered by tests via ``pubsub_signal_callback``). Mirrors
    handler/pubsub.go:20-42: create a per-instance subscription on
    the downloader topic (ack deadline 30 s), then pump every message
    through the staging bridge. Returns the streaming pull future;
    cancel() it to stop."""
    try:
        from google.cloud import pubsub_v1
    except ImportError as exc:  # pragma: no cover - env-dependent
        raise ImportError(
            "google-cloud-pubsub is not installed; install it on the "
            "cluster image, or feed pubsub_signal_stream's staging dir "
            "from any other bridge (the staging contract is the "
            "integration point)"
        ) from exc
    from google.api_core.exceptions import AlreadyExists

    subscriber = pubsub_v1.SubscriberClient()
    sub_name = subscription or f"annotator-{time.time_ns()}"
    sub_path = subscriber.subscription_path(project, sub_name)
    topic_path = f"projects/{project}/topics/{topic}"
    try:
        # expiration policy: an auto-named per-instance subscription
        # (the reference's pattern) must not outlive a dead instance —
        # 1 day of inactivity garbage-collects it server-side, so
        # restarts don't leak message-retaining subscriptions forever.
        subscriber.create_subscription(
            request={
                "name": sub_path,
                "topic": topic_path,
                "ack_deadline_seconds": 30,
                "expiration_policy": {"ttl": {"seconds": 86400}},
            }
        )
    except AlreadyExists:
        pass  # named subscription reuse is fine; anything else raises
    return subscriber.subscribe(
        sub_path, callback=pubsub_signal_callback(staging_dir)
    )


def _batch_dir(output_dir: str, epoch_id: int, writer_id: str | None = None) -> str:
    """The epoch's data directory: a foreachBatch retry (same epoch id)
    overwrites its own uncommitted copy; ``writer_id`` keeps jobs that
    number epochs independently apart."""
    tag = f"{writer_id}-{int(epoch_id)}" if writer_id else str(int(epoch_id))
    return os.path.join(output_dir, f"batch={tag}")


def _start_sink(stream, process, checkpoint_dir, available_now, trigger_interval=None):
    """Start ``process`` as a checkpointed foreachBatch sink that drains
    and stops, or runs on ``trigger_interval`` (Spark's default if None)."""
    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_interval is not None:
        writer = writer.trigger(processingTime=trigger_interval)
    return writer.start()


def _publish(built, manifest, store, table_name, epoch_id, writer_id, paths=()) -> int:
    """Write ``built`` as the epoch's batch directory, commit it with the
    source ``paths`` it was built from, swap the store, then age out old
    manifests (each lists every directory so far, so ``retain`` deletes
    no data); returns the version."""
    bdir = _batch_dir(manifest.output_dir, epoch_id, writer_id)
    # overwrite is safe: no manifest names bdir until the commit below
    built.write.mode("overwrite").partitionBy("dataset_date").parquet(bdir)
    version = manifest.commit(epoch_id, [bdir], paths=paths)
    store.swap(table_name, manifest.read(built.sparkSession))
    manifest.retain()
    return version


def _swap_committed(manifest, store, table_name, spark) -> int | None:
    """At sink start, give a store that lacks ``table_name`` (a
    restarted process) CURRENT's committed snapshot, so it is ready
    before the next batch arrives; returns the version swapped in."""
    version = manifest.current_version()
    if version is None or table_name in store._tables:
        return None
    store.swap(table_name, manifest.read(spark, version))
    return version


def start_event_refresh(
    event_stream: DataFrame,
    build_paths_batch,
    store: SnapshotStore,
    table_name: str,
    checkpoint_dir: str,
    output_dir: str,
    path_col: str = "path",
    available_now: bool = True,
    writer_id: str | None = None,
    trigger_interval: str = "10 seconds",
):
    """ST2 as a TRUE EVENT stream (the Pub/Sub analog,
    handler/pubsub.go:20-42): the stream carries file-arrival
    MESSAGES — rows naming dataset files — not file contents. Per
    micro-batch, paths not yet loaded are built via
    ``build_paths_batch(list[str]) -> DataFrame`` and published as a
    new ``batch=<epoch>`` partition, then the store swaps (ST4).

    Delivery contract: ``foreachBatch`` is AT-LEAST-ONCE; end-to-end
    the sink is effectively exactly-once at the file level because
    the publish is IDEMPOTENT — each micro-batch overwrites its own
    ``batch=<epoch_id>`` directory (epoch ids are stable across
    retries of the same batch), so a crash mid-write is cleaned up by
    the retry instead of leaving stray rows behind.

    ST3 cache-awareness: the checkpoint dedupes message BATCHES, and
    the loaded-path set dedupes re-announced PATHS (the reference's
    loader cache map, geoloader/geoloader.go:122-152). The set is the
    CURRENT version manifest's ``paths``: the commit that makes a
    batch's data visible also marks its files loaded, so a crash
    leaves both or neither, and a restart recovers the set from that
    one file. A replayed batch whose commit landed before the crash
    loads nothing and only completes the store swap. A sink started
    on an existing ``output_dir`` swaps CURRENT into a store that
    lacks ``table_name`` at once, so a restarted process is ready
    without waiting for the next announcement.

    ``writer_id`` namespaces the batch directories — REQUIRED (with a
    distinct value per job) when more than one refresh job publishes
    into the same ``output_dir``: two queries number epochs
    independently, so without the namespace they could both stage
    ``batch=5`` and overwrite each other's data before commit. The
    commit protocol itself is multi-writer-safe (lock + epoch-CAS in
    ``VersionedTableManifest``), and a path either job loaded counts
    as loaded for both.
    """
    spark = event_stream.sparkSession
    manifest = VersionedTableManifest(output_dir)
    # the version this sink last swapped into the store
    published = _swap_committed(manifest, store, table_name, spark)

    def norm(p: str) -> str:
        # input_file_name() yields URIs (file:///…); messages may carry
        # plain paths — compare scheme-stripped
        return p.split("://", 1)[-1] if "://" in p else p

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        nonlocal published
        paths = [r[0] for r in batch_df.select(path_col).distinct().collect()]
        loaded = manifest.loaded_paths()
        new = sorted(p for p in paths if norm(p) not in loaded)
        if new:
            published = _publish(
                build_paths_batch(new), manifest, store, table_name,
                epoch_id, writer_id, paths=[norm(p) for p in new],
            )
            return
        current = manifest.current_version()
        if current is not None and current != published:
            published = current
            store.swap(table_name, manifest.read(spark))

    return _start_sink(
        event_stream, process, checkpoint_dir, available_now, trigger_interval
    )


def start_refresh(
    stream_df: DataFrame,
    build_batch,
    store: SnapshotStore,
    table_name: str,
    checkpoint_dir: str,
    output_dir: str,
    available_now: bool = True,
    writer_id: str | None = None,
    trigger_interval: str = "10 seconds",
):
    """Run the refresh loop: per micro-batch of newly-arrived rows,
    ``build_batch(batch_df) -> DataFrame`` produces new snapshot
    partitions, published into the partitioned parquet table; the
    store then re-publishes the whole table (ST4 swap).

    Same idempotent-publish contract as ``start_event_refresh``:
    each micro-batch overwrites its own ``batch=<epoch_id>``
    directory, so an at-least-once ``foreachBatch`` retry after a
    crash mid-write replaces the partial output instead of appending
    duplicates.

    ``available_now=True`` drains pending files and stops — the
    scheduled-batch analog of the reference's randomized timer; pass
    False for a continuously-running watcher.

    ``writer_id``: see ``start_event_refresh`` — distinct per job when
    multiple refresh jobs share one ``output_dir``. As there, a sink
    started on an existing ``output_dir`` swaps CURRENT into a store
    that lacks ``table_name``.
    """
    manifest = VersionedTableManifest(output_dir)
    _swap_committed(manifest, store, table_name, stream_df.sparkSession)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.isEmpty():
            _publish(
                build_batch(batch_df), manifest, store, table_name,
                epoch_id, writer_id,
            )

    return _start_sink(
        stream_df, process, checkpoint_dir, available_now, trigger_interval
    )
