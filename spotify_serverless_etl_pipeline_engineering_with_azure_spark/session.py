"""SparkSession factory, and the read pins every query result depends on.

Read pins (READ_PINS): timestamps are instants rendered in UTC, naive
parquet timestamps read as instants, and TIMESTAMP(NANOS) columns read
as longs that catalog.normalize_events_ts converts. They are session
confs, and a caller may change any of them between queries, so
pin_reads sets them at boot (through session_confs) and again before
every registered query build (registry.register) and every
catalog.table call. Nothing else sets them.

Local test posture: ``local[$SPARK_GRAFT_CPUS]`` single JVM, shuffle
partitions = cores (every test shuffle fits). Cluster posture: AQE,
skew-join handling, Arrow, and the read pins carry over unchanged — but
shuffle-partition SIZING does not: partition count must track shuffle
BYTES (~128–200 MB per reduce partition → ~10⁵–10⁶ partitions for a
100 TB shuffle), never core count, and AQE's coalescePartitions only
merges DOWN from the configured initial count — it never splits an
oversized partition up. A cluster deployment therefore sets
``spark.sql.adaptive.coalescePartitions.initialPartitionNum`` high for
the largest expected shuffle and lets AQE coalesce small stages, with
``spark.sql.shuffle.partitions`` as the non-AQE floor (both through
SPARK_GRAFT_EXTRA_CONFS, which overrides the cores-derived default).

Local filesystem posture: without Hadoop's native library
(``libhadoop``), the local filesystem forks a ``chmod`` for every file
and directory it creates, and the FileContext checkpoint manager forks
a ``readlink`` for each side of every rename. Every write's commit
protocol and every streaming trigger's offset and commit logs pay
those forks. A ``local`` master therefore gets Hadoop's raw local
filesystem, which writes no ``.crc`` sidecar files and so halves the
creates, and the FileSystem-based checkpoint manager, which still
writes temp-file-then-rename but renames without a ``readlink``.
Cluster masters keep Spark's filesystem defaults. Every master turns
off PySpark's DataFrame call-site capture, which costs py4j round
trips on every DataFrame call in plan building; the only loss is the
"called from file:line" context in error messages, and
``spark.python.sql.dataFrameDebugging.enabled=true`` in
SPARK_GRAFT_EXTRA_CONFS brings it back for debugging.

Checkpoint hygiene: the SparkContext checkpoint dir is the engine's
one durability switch. Set it (``sc.setCheckpointDir`` or the
``spark.checkpoint.dir`` conf, e.g. through SPARK_GRAFT_EXTRA_CONFS)
and every shared frame — index builds, iterative-loop round
boundaries and the frames a query reads twice (catalog.materialize,
catalog.share) — becomes a reliable checkpoint on that shared
storage, and the CC stats re-roots land under it too
(catalog.scratch_roots). A cluster deployment that sets it must also
set ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` so
Spark reclaims superseded ``rdd-*`` dirs; it is off by default, and
without it CC/PageRank accumulate O(rounds) vertex-sized dirs per
invocation. Local mode (no checkpoint dir) uses executor-local
checkpoints and writes none; either way ContextCleaner frees a
shared frame's blocks once it is unreachable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The read contract (module docstring). UTC: the oracles render every
# timestamp as a naive UTC instant. inferTimestampNTZ off: a naive
# parquet timestamp (isAdjustedToUTC=false) reads as TIMESTAMP_LTZ, so
# unix_micros/window/watermark apply to it. nanosAsLong: Spark 4
# rejects TIMESTAMP(NANOS) unless it reads it as a long.
READ_PINS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def pin_reads(spark: SparkSession) -> None:
    """Set READ_PINS on ``spark``. Execution reads these confs when a
    plan is analyzed and run, not when a frame is cached, so a caller
    that changed one since boot gets the contract back here."""
    for key, value in READ_PINS.items():
        spark.conf.set(key, value)


def session_confs(env: dict[str, str] | None = None) -> tuple[str, dict[str, str]]:
    """O3 (config from env, spotifyextract.py:15-20 os.environ reads):
    resolve (master, confs) from the environment. Pure — the
    driver-contract test asserts the mapping without booting a JVM.

    SPARK_GRAFT_CPUS sizes both local parallelism and shuffle
    partitions; SPARK_GRAFT_MASTER overrides the master URL (cluster
    posture); SPARK_GRAFT_DRIVER_MEM sizes the driver heap;
    SPARK_GRAFT_EXTRA_CONFS (``parse_confs`` grammar) adds or overrides
    any conf.
    """
    e = os.environ if env is None else env
    cpus = e.get("SPARK_GRAFT_CPUS", "32")
    master = e.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    confs = {
        "spark.sql.shuffle.partitions": cpus,
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # 32g: local[32] runs the driver AND all 32 executor threads in
        # one JVM, and a smaller heap GC-throttles long bench sessions
        # (OPTIMIZATION_r11.md). The heap is committed lazily.
        "spark.driver.memory": e.get("SPARK_GRAFT_DRIVER_MEM", "32g"),
        "spark.ui.enabled": "false",
        "spark.sql.parquet.filterPushdown": "true",
        # At boot too, not only per query build: the ETL entry points
        # (spotify.transform, run_spotify_pipeline) go through neither
        # the registry nor catalog.table, and their CSV dates are UTC.
        **READ_PINS,
        # Call-site capture: py4j round trips per DataFrame call (module
        # docstring).
        "spark.python.sql.dataFrameDebugging.enabled": "false",
    }
    if master.startswith("local"):
        # The fork-free local filesystem (module docstring).
        confs.update({
            "spark.hadoop.fs.file.impl": "org.apache.hadoop.fs.RawLocalFileSystem",
            "spark.hadoop.fs.AbstractFileSystem.file.impl": "org.apache.hadoop.fs.local.RawLocalFs",
            "spark.sql.streaming.checkpointFileManagerClass": (
                "org.apache.spark.sql.execution.streaming.checkpointing."
                "FileSystemBasedCheckpointFileManager"
            ),
        })
    # Applied LAST so explicit entries win over the local defaults above.
    confs.update(parse_confs(e.get("SPARK_GRAFT_EXTRA_CONFS", "")))
    return master, confs


def parse_confs(spec: str) -> dict[str, str]:
    """Parse the SPARK_GRAFT_EXTRA_CONFS grammar, ``"k=v;k2=v2"``, into
    a conf dict. Whitespace and empty segments are tolerated; values
    containing ';' cannot be expressed (the split is unconditional). A
    segment without '=' (or with an empty key) raises ValueError naming
    it: silently setting that conf to "" would fail session boot with a
    Spark error far from the cause."""
    confs = {}
    for kv in spec.split(";"):
        kv = kv.strip()
        if not kv:
            continue
        k, sep, v = kv.partition("=")
        if not sep or not k.strip():
            raise ValueError(f"conf segment {kv!r} is not 'key=value'")
        confs[k.strip()] = v.strip()
    return confs


def get_spark(app_name: str = "sse_spark", *, extra: dict[str, str] | None = None) -> SparkSession:
    """A session on the environment's master and confs (session_confs),
    with ``extra`` confs applied last."""
    master, confs = session_confs()
    builder = SparkSession.builder.master(master).appName(app_name)
    for k, v in {**confs, **(extra or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
