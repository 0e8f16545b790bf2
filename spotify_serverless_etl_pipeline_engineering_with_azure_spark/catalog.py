"""Table catalog over the driver-provided parquet test tables.

See /root/repo/TESTDATA.md. At cluster scale these would be external
tables (partitioned parquet / Delta on object storage); the loader keeps
all IO columnar and lets Catalyst push filters/projections into the
parquet scan.

Two primitives compute a frame once for several readers:
- ``materialize(df)``: EAGER. Index builds and iterative-loop round
  boundaries; the caller holds the result (``cached_index`` keeps an
  index across calls).
- ``share(df)``: a frame that several consumers of one query read.
  Without a checkpoint dir it is lazy only for a narrow frame: a
  frame with a shuffle runs its shuffle-map stages at ``share()``,
  and the first action computes the rest.
Both are checkpoints, reliable under the SparkContext checkpoint dir
and local without one, so both release by garbage collection: Spark's
ContextCleaner frees a checkpoint's blocks once no driver reference
remains. That is the one lifetime rule for a shared frame. The engine
never persists a frame: a CacheManager entry outlives its frame until
it is unpersisted by hand, on every exit path.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession

from .session import pin_reads

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Loaded-table cache: spark.read.parquet costs a py4j round trip
# (file listing + footer/schema read) per call, and a query plan
# touches up to 4 tables — pure driver-side latency repeated on every
# query build. A DataFrame is an immutable lazy plan, so the loaded
# frame is reusable across queries; caching it is what a metastore-
# backed catalog does (schema resolved once, not re-inferred per
# query). Keyed by parquet identity (regenerated data rebuilds) and
# Spark application id (a plan dies with its context). It holds each
# table as its file stores it; table() normalizes events on top.
_TABLE_CACHE: dict[tuple, DataFrame] = {}

# Entry cap of the index registry (cached_index), shared by every index
# family: sized for many live test fixtures/SF dirs at once while
# bounding a production driver that sweeps unbounded snapshot
# directories. The lazy-plan cache, _TABLE_CACHE, deliberately does NOT
# use it — its entries cost kilobytes and its hit rate is the whole
# point.
MAX_CHECKPOINT_ENTRIES = 64
_INDEX_CACHE: dict[tuple, object] = {}


def _session_uuid(spark: SparkSession) -> str:
    """Identity of the concrete SparkSession (clones made with
    newSession() share an applicationId but have separate catalogs and
    confs)."""
    return str(spark._jsparkSession.sessionUUID())


def dataset_cached(cache: dict, spark: SparkSession, sf_dir: str,
                   files: tuple[str, ...], build, params: tuple = (),
                   max_entries: int | None = None):
    """Memoize a per-dataset artifact (a loaded table, a checkpointed
    index) and EVICT the superseded snapshot on regeneration.

    One identity scheme for both dataset-keyed caches in the engine
    (loaded tables and the cached_index registry):
    identity = (sf_dir, files, params, applicationId, sessionUUID),
    freshness = each file's (mtime_ns, size).
    A fresh stat → cache hit. A stale one → the old entry is DELETED
    before build() runs, so a long-lived session that regenerates its
    data repeatedly holds at most one artifact per identity — dropping
    the last driver reference is the release mechanism for checkpointed
    frames (Spark's ContextCleaner unpersists an RDD's blocks once the
    driver-side handle is garbage-collected; an append-only dict would
    pin every superseded index in block-manager storage for the life of
    the application). applicationId is in the identity because a
    checkpointed RDD dies with its SparkContext.

    Two further growth bounds, both invisible at test scale but
    load-bearing for a long-lived driver:
    - DEAD-APPLICATION purge: a session restart mints a new
      applicationId, making every prior-app entry unreachable (its
      checkpointed blocks died with the old context); those entries
      are deleted on the next miss rather than accumulating forever.
    - ENTRY CAP (``max_entries``, OPT-IN): caches holding CHECKPOINTED
      frames pin executor storage per entry, so a driver sweeping N
      dataset directories (per-day corpus snapshots) would otherwise
      pin N data-sized indexes for the application's lifetime. Opt-in
      because it would be WRONG for the cheap caches: _TABLE_CACHE
      holds lazy plan handles (kilobytes of driver memory, one entry
      per (table, dir)) whose whole point is amortizing the py4j
      read per query build — a shared cap would silently turn it
      into a thrash set once a test session's fixture dirs exceed the
      bound. Eviction is LRU (hits refresh recency via dict reinsert),
      and the only cost of a wrong eviction is a rebuild on the next
      access, never wrong results.
    """
    import os

    stats = tuple(
        (st := os.stat(os.path.join(sf_dir, f)), (st.st_mtime_ns, st.st_size))[1]
        for f in files
    )
    appid = spark.sparkContext.applicationId
    # The SESSION uuid is part of the identity, not just the
    # application id: spark.newSession() clones share one application
    # (and one CacheManager) but have SEPARATE catalogs and confs — a
    # frame cached by session A and served to concurrent session B
    # registers temp views into A's catalog (TABLE_OR_VIEW_NOT_FOUND in
    # B, or silently the wrong dataset) and executes under A's conf
    # (A's timezone, not the UTC pin B's build re-applied). Verified
    # on 4.1.2; invisible to the single-session driver gate.
    ident = (sf_dir, files, params, appid, _session_uuid(spark))
    key = (ident, stats)
    val = cache.get(key)
    if val is not None:
        # LRU refresh: dicts iterate in insertion order, so re-inserting
        # on hit keeps hot entries at the young end of the eviction scan.
        del cache[key]
        cache[key] = val
        return val
    for stale in [
        k for k in cache if (k[0] == ident and k != key) or k[0][3] != appid
    ]:
        del cache[stale]
    val = build()
    cache[key] = val
    if max_entries is not None:
        while len(cache) > max_entries:
            del cache[next(iter(cache))]
    return val


def cached_index(spark: SparkSession, sf_dir: str, files: tuple[str, ...],
                 family: str, build, params: tuple = ()):
    """THE index registry: memoize one family's materialized index
    (a frame, a tuple or dict of frames) per dataset snapshot, with
    dataset_cached's identity, supersession and dead-app semantics.

    ``family`` leads the params in the identity, so two families over
    the same files (MinHash bands and n-gram postings both key on
    ``documents.parquet``) never collide. All families share one
    LRU cap, MAX_CHECKPOINT_ENTRIES: dropping an entry's driver
    reference is what releases its checkpoint blocks, and a wrong
    eviction only costs a rebuild. ``build`` may itself call
    cached_index (IVF shares the vector store)."""
    return dataset_cached(
        _INDEX_CACHE, spark, sf_dir, files, build, params=(family, *params),
        max_entries=MAX_CHECKPOINT_ENTRIES,
    )


def materialize(df: DataFrame) -> DataFrame:
    """THE eager materializer: compute ``df`` once and truncate its
    lineage. Every index build and iterative-loop round boundary goes
    through here.

    The SparkContext checkpoint dir (``sc.setCheckpointDir`` or the
    ``spark.checkpoint.dir`` conf) is the engine's one durability
    switch. Set, the frame becomes a reliable ``checkpoint()`` under
    it: shared storage by Spark's own contract, so it survives
    executor loss. Unset, it is a ``localCheckpoint()``: blocks live
    unreplicated in executor storage, and a lost executor leaves no
    recompute path — right for local mode, not for a long-lived
    cluster job.

    Retention under a checkpoint dir: every call writes an ``rdd-*``
    dir, and Spark deletes superseded ones only with
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (off by
    default; see session.py). The engine cannot sweep them itself: the
    path of a DataFrame checkpoint is not exposed to Python."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def share(df: DataFrame) -> DataFrame:
    """THE way to read one frame from several consumers: the branches
    of one query plan, or several actions over one result.

    Spark shares no subplan, so N consumers of one frame compute it N
    times. Under a checkpoint dir this is ``materialize`` (durable, one
    extra job). Without one it is a local checkpoint with
    ``eager=False``: the first action computes and stores the blocks,
    later reads reuse them. That is lazy only for a narrow frame (no
    shuffle): for a frame with a shuffle, turning the adaptive plan
    into an RDD runs its shuffle-map stages at ``share()``, one job
    per exchange, before any action. The result is never cached
    across calls, so a rebuilt query reads the data as it is now, and
    Spark's ContextCleaner frees the blocks once the frame is
    unreachable. A ``persist`` would not do: CacheManager entries are
    never released by driver GC, and callers of ``share`` get no
    release hook."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return materialize(df)
    return df.localCheckpoint(eager=False)


# Rows per partition under which a cached-index frame's partitions are
# task-overhead-bound rather than compute-bound in its search-side
# consumers.
_FLOOR_ROWS_PER_PART = 2048


def checkpoint_frame(df: DataFrame) -> DataFrame:
    """``materialize`` an index frame, then apply the SEARCH-PARALLELISM
    FLOOR: a frame with fewer partitions than

        min(defaultParallelism, ceil(rows / _FLOOR_ROWS_PER_PART))

    is resharded to that count and materialized again, so that search
    stages pipelined on its scan do not run single-task after AQE
    coalesced the build's last shuffle by bytes. The floor is
    row-aware, not a flat cores floor, because a micro frame spread
    over every core is task-scheduling overhead. Frames at or above
    their target are returned untouched, and a frame that already has
    >= defaultParallelism partitions is never counted.

    defaultParallelism is sampled at build time: under dynamic
    allocation an index built before executors scale up keeps the
    lower floor (SPARK_GRAFT_EXTRA_CONFS can pin one)."""
    import math

    out = materialize(df)
    cores = df.sparkSession.sparkContext.defaultParallelism
    parts = out.rdd.getNumPartitions()
    if parts >= cores:
        return out
    target = min(cores, max(1, math.ceil(out.count() / _FLOOR_ROWS_PER_PART)))
    return materialize(out.repartition(target)) if parts < target else out


def _host_hash() -> str:
    """Identity of THIS driver's pid-liveness domain, for the dead-app
    sweep's same-host guard. Hostname alone is NOT enough on a shared
    storage root: two containers on one node (hostNetwork pods share
    the node hostname) run in separate PID namespaces, so an os.kill
    probe from one gives a false dead-verdict for the other's live
    pids — rmtree would then destroy a LIVE driver's sink outputs and
    stream drains. The identity therefore folds in the boot id
    (distinguishes machines that share a hostname across a fleet) and
    this process's PID-NAMESPACE inode (distinguishes co-hosted
    containers; a pid is only probe-able within its own namespace).
    12 hex chars (48 bits): a 10^4-driver fleet has ~4e-7
    pair-collision odds. Mismatched dirs are left alone (leak-safe),
    never deleted."""
    import hashlib
    import os
    import socket

    parts = [socket.gethostname()]
    for probe in ("/proc/sys/kernel/random/boot_id",):
        try:
            with open(probe) as f:
                parts.append(f.read().strip())
        except OSError:
            pass  # non-Linux: hostname (+ ns inode if present) only
    try:
        parts.append(str(os.stat("/proc/self/ns/pid").st_ino))
    except OSError:
        pass
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:12]


def app_scoped_dir(root: str, spark: SparkSession) -> str:
    """THE per-application scratch-dir convention (sink outputs, stream
    drains, bucketed layouts): sweep dead same-host app dirs under
    ``root``, then return this application's directory
    ``root/app_<pid>_<hosthash>_<apphash>`` (not created). Callers nest
    run-/build-unique subdirs under it and never delete them while the
    application lives, so previously returned lazy frames stay valid;
    debris is reclaimed by the NEXT process's sweep."""
    import hashlib
    import os

    _sweep_dead_app_dirs(root)
    apphash = hashlib.md5(spark.sparkContext.applicationId.encode()).hexdigest()[:8]
    return os.path.join(root, f"app_{os.getpid()}_{_host_hash()}_{apphash}")


def sink_run_dir(spark: SparkSession, kind: str, sf_dir: str) -> str:
    """Run-unique output directory for sink round-trip queries:
    ``/tmp/sse_sinks/app_<pid>_<host>_<app>/<kind>_<dshash>_<uuid>``.

    Three lifecycle properties every sink query shares:
    - RUN-UNIQUE: a registry builder must never destroy the files
      backing a DataFrame it returned earlier (a fixed per-dataset
      dir, wiped or overwritten on rebuild, would FileNotFound a
      previously returned lazy frame mid-read); each build writes
      fresh and leaves prior runs alone.
    - APP-SCOPED + SWEPT: dirs nest under ``app_scoped_dir``, so a
      dead application's accumulated runs are reclaimed by the next
      same-host process; within one live application runs accumulate
      bounded by invocation count. For table-sized payloads (the
      compaction/partitioned-roundtrip ops) that is a real disk cost
      under repeated in-app invocation — accepted DELIBERATELY: the
      fixed-dir alternative silently broke every previously returned
      frame, and scratch retention inside a live application belongs
      to the orchestrator that owns the rerun loop.
    - LOCAL-MODE STAND-IN: a file:/tmp path is only meaningful in
      local mode — on a real cluster every executor commits part
      files to its OWN node's disk and a driver-side read-back
      silently sees a partial dataset, so production points this at
      shared storage (HDFS/object store), where the identical sink
      layout is exactly what a 100 TB table materialization does.
    """
    import hashlib
    import os

    ds = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return os.path.join(
        app_scoped_dir("/tmp/sse_sinks", spark),
        f"{kind}_{ds}_{uuid.uuid4().hex[:8]}",
    )


def scratch_roots(
    spark: SparkSession, prefix: str, n: int
) -> tuple[list[str], "Callable[[], None]"]:
    """``n`` call-unique scratch directories for engine-INTERNAL
    parquet round-trips (the CC stats re-roots), plus a
    ``cleanup()`` that best-effort removes them.

    The root is the SparkContext's checkpoint dir when set (the same
    one durability switch ``materialize`` reads — shared storage by
    ``setCheckpointDir``'s own contract on a multi-node cluster), else
    driver-local ``tempfile.mkdtemp`` — a LOCAL-MODE STAND-IN (the
    ``sink_run_dir`` caveat): on a real cluster every executor commits
    part files to its OWN node's disk and a driver-side read-back
    silently sees a partial dataset, so cluster deployments MUST set a
    checkpoint dir.

    Paths are call-unique (uuid-suffixed) so concurrent or repeated
    invocations never clobber each other; ``cleanup()`` deletes
    through the Hadoop FileSystem API so it works uniformly for
    ``file:``, ``hdfs:`` and object-store URIs — callers invoke it
    once every frame rooted in the paths is materialized elsewhere
    (detached), closing the dir-leak a bare mkdtemp convention had."""
    import os
    import tempfile

    root = spark.sparkContext.getCheckpointDir()
    tag = uuid.uuid4().hex[:8]
    if root is not None:
        paths = [os.path.join(root, f"{prefix}_{tag}_{i}") for i in range(n)]
    else:
        # `file:`-pinned: mkdtemp created these dirs on the DRIVER's
        # local filesystem, so the Spark writes, read-backs, and the
        # Hadoop-FS cleanup below must all resolve them there too. A
        # scheme-less path resolves against fs.defaultFS — on a
        # misconfigured cluster that still hits this fallback, writes
        # and cleanup would silently target HDFS while the mkdtemp
        # dirs leak on the driver.
        paths = [
            "file:" + tempfile.mkdtemp(prefix=f"{prefix}_{tag}_{i}_")
            for i in range(n)
        ]

    def cleanup() -> None:
        # Hadoop FS delete, not shutil: paths may be file:/hdfs:/s3a:
        # URIs depending on the checkpoint dir. Best-effort — a
        # cleanup failure must never mask the computation's result —
        # but LOUD: a persistent permission error on a shared scratch
        # root would otherwise leak vertex-sized dirs forever with
        # zero signal.
        try:
            jvm = spark._jvm
            fs_conf = spark._jsc.hadoopConfiguration()
            for p in paths:
                hpath = jvm.org.apache.hadoop.fs.Path(p)
                hpath.getFileSystem(fs_conf).delete(hpath, True)
        except Exception as exc:  # noqa: BLE001 — policy: never mask the result
            import warnings

            warnings.warn(
                f"scratch_roots cleanup failed for {paths}: {exc!r} — "
                "dirs may leak on the scratch root",
                RuntimeWarning,
                stacklevel=2,
            )

    return paths, cleanup


def _sweep_dead_app_dirs(root: str) -> None:
    """Remove ``app_<pid>_<hosthash>_*`` dirs whose owning process is
    gone. PID liveness is only knowable on the process's own host, so
    dirs stamped with another host's hash are left alone (on a shared
    DFS/object-store root, deleting a foreign app's dir would destroy
    LIVE outputs another driver is reading); entries that don't parse
    as our naming convention are skipped, never deleted (the root is
    a user-supplied directory that may hold unrelated data)."""
    import glob
    import os
    import shutil

    ours = _host_hash()
    for stale in glob.glob(os.path.join(root, "app_*")):
        parts = os.path.basename(stale).split("_")
        try:
            pid = int(parts[1])
        except (ValueError, IndexError):
            continue  # not our convention — never delete
        if len(parts) < 3 or parts[2] != ours:
            continue  # another host's dir — liveness unknowable here
        try:
            os.kill(pid, 0)  # raises if the owning process is gone
        except ProcessLookupError:
            shutil.rmtree(stale, ignore_errors=True)
        except PermissionError:
            pass  # alive under another uid — leave it alone


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Test table ``name`` of the dataset in ``sf_dir``, events ts
    normalized (normalize_events_ts). Sets the read pins
    (session.pin_reads) on every call, cache hits included, for callers
    outside a registered query build."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    pin_reads(spark)
    df = stored(spark, sf_dir, name)
    return normalize_events_ts(df) if name == "events" else df


def stored(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``name`` as its parquet file stores it, before normalization:
    the one loaded-table cache (_TABLE_CACHE). The events stream takes
    its file schema from here. Needs the read pins set: Spark rejects
    a TIMESTAMP(NANOS) column unless nanosAsLong is on."""
    return dataset_cached(
        _TABLE_CACHE, spark, sf_dir, (f"{name}.parquet",),
        lambda: spark.read.parquet(f"{sf_dir}/{name}.parquet"),
    )


def scatter(df: DataFrame, *keys: str) -> DataFrame:
    """Small-input parallelism repair: repartition to the cluster's core
    count — SKIPPED when the input is already wide.

    Small parquet inputs arrive as one split (files below
    spark.sql.files.maxPartitionBytes), which serializes any CPU-heavy
    map work (per-token md5, shingle expansion) onto one core. A cheap
    shuffle of the compact source rows buys full-width parallelism for
    the expensive downstream transform. It never changes results (all
    consumers re-aggregate by key).

    With no ``keys`` the repair is round-robin. With ``keys`` it is
    HASH-partitioned, so a downstream aggregation keyed on (a superset
    of) ``keys`` REUSES the partitioning instead of paying its own
    exchange (ClusteredDistribution is satisfied by any
    hashpartitioning on the keys, whatever the partition count), and
    the keyed repartition skips round-robin's sortBeforeRepartition
    pass. Hash balance then depends on the key: use only unique-ish
    keys (doc_id), never a hot one.

    `repartition` is NOT free at scale: it moves every row through a
    full shuffle regardless of input width, so on an input that
    already spans thousands of splits it would be a gratuitous O(data)
    exchange. The partition-count check below is metadata-only
    (physical planning, no job) and skips the shuffle whenever the
    scan already provides ≥ defaultParallelism splits. PySpark
    memoizes `.rdd` per DataFrame object, and table() frames are
    cached per dataset snapshot, so the probe plans once per snapshot.
    """
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= parallelism:
        return df
    return df.repartition(parallelism, *keys)


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """The ONE ts-normalization rule for events, shared by the batch
    loader (table) and the streaming source (streaming.pipeline.
    events_stream): events.ts arrives in one of two driver-generated
    encodings — TIMESTAMP(NANOS), which Spark 4's reader rejects
    outright, so it is read as a long (legacy nanosAsLong conf) and
    converted with integer `div` (not double /; ns epoch values exceed
    2^53) — or naive TIMESTAMP(MICROS), which the
    inferTimestampNTZ=false pin reads directly as an instant. Both are
    lossless and match DuckDB's naive/UTC reading. Keeping the rule in
    one function is load-bearing: the batch side is what every
    oracle-parity test compares against, so a streaming-only edit would
    silently diverge the two paths."""
    from pyspark.sql import functions as F

    if dict(df.dtypes)["ts"] == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all test tables as temp views (for spark.sql queries)."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
