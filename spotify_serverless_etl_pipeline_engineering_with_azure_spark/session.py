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
those forks. A ``local`` master therefore gets a raw local filesystem,
which writes no ``.crc`` sidecar files and so halves the creates, and
the FileSystem-based checkpoint manager, which still writes
temp-file-then-rename but renames without a ``readlink``. The raw
filesystem is ``jvm/NioLocalFileSystem.java``, which sets rwx modes
with one system call instead of a ``chmod`` fork: local_fs_classes
compiles it with ``javac`` before the JVM starts, once per source into
a user cache dir, and session_confs puts it on the driver classpath.
Without ``javac`` or Hadoop's jar, or in a process whose JVM is
already up without the class, the posture falls back to Hadoop's
``RawLocalFileSystem`` and its forks. Cluster masters keep Spark's
filesystem defaults. Every master turns off PySpark's DataFrame
call-site capture, which costs py4j round trips on every DataFrame
call in plan building; the only loss is the "called from file:line"
context in error messages, and
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

import glob
import hashlib
import os
import shutil
import subprocess
import tempfile

import pyspark
from py4j.protocol import Py4JError
from pyspark import SparkContext
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


# The local filesystem that sets file modes without forking (module
# docstring), and its source.
NIO_LOCAL_FS = "sparkgraft.NioLocalFileSystem"
_NIO_SOURCE = os.path.join(os.path.dirname(__file__), "jvm", "NioLocalFileSystem.java")


def local_fs_classes() -> str | None:
    """The classes dir holding NIO_LOCAL_FS, compiled on first use; None
    when there is no Hadoop client jar in the Spark distribution, no
    ``javac`` (under $JAVA_HOME or on PATH) to compile a missing dir,
    or the compile fails. The dir is named by a hash of the source and
    the jar, under $XDG_CACHE_HOME (or ~/.cache), so it outlives every
    run's temp dirs. ``javac`` writes into a temp dir that is renamed
    into place, so concurrent boots never load a half-written dir."""
    spark_home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
    jars = sorted(glob.glob(os.path.join(spark_home, "jars", "hadoop-client-api-*.jar")))
    if not jars:
        return None
    with open(_NIO_SOURCE, "rb") as f:
        key = hashlib.sha256(f.read() + os.path.basename(jars[0]).encode()).hexdigest()[:16]
    cache_home = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    cache = os.path.join(cache_home, "spark-graft")
    classes = os.path.join(cache, key)
    if os.path.isdir(classes):
        return classes
    java_bin = [os.path.join(os.environ["JAVA_HOME"], "bin")] if os.environ.get("JAVA_HOME") else []
    javac = shutil.which("javac", path=os.pathsep.join([*java_bin, os.environ.get("PATH", "")]))
    if javac is None:
        return None
    try:
        os.makedirs(cache, exist_ok=True)
        tmp = tempfile.mkdtemp(dir=cache)
    except OSError:
        return None
    try:
        cmd = [javac, "--release", "17", "-cp", jars[0], "-d", tmp, _NIO_SOURCE]
        if subprocess.run(cmd, capture_output=True, timeout=300).returncode == 0:
            os.replace(tmp, classes)
    except (OSError, subprocess.SubprocessError):
        pass  # a failed compile, or a concurrent boot renamed its dir first
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return classes if os.path.isdir(classes) else None


def _driver_fs_classes() -> str | None:
    """local_fs_classes, if the driver JVM can load NIO_LOCAL_FS from
    it. A JVM this process already runs (a session was started and
    stopped earlier) keeps the classpath it started with, so there the
    class must load already."""
    classes = local_fs_classes()
    if classes is None or SparkContext._jvm is None:
        return classes
    try:
        SparkContext._jvm.java.lang.Class.forName(NIO_LOCAL_FS)
    except Py4JError:
        return None
    return classes


def session_confs(
    env: dict[str, str] | None = None, fs_classes: str | None = None
) -> tuple[str, dict[str, str]]:
    """O3 (config from env, spotifyextract.py:15-20 os.environ reads):
    resolve (master, confs) from the environment. Pure — the
    driver-contract test asserts the mapping without booting a JVM.

    SPARK_GRAFT_CPUS sizes both local parallelism and shuffle
    partitions; SPARK_GRAFT_MASTER overrides the master URL (cluster
    posture); SPARK_GRAFT_DRIVER_MEM sizes the driver heap;
    SPARK_GRAFT_EXTRA_CONFS (``parse_confs`` grammar) adds or overrides
    any conf. ``fs_classes`` is local_fs_classes' dir: a local master
    with it gets NIO_LOCAL_FS, one without it Hadoop's
    RawLocalFileSystem.
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
        # one JVM, and a smaller heap GC-throttles long bench sessions.
        # The heap is committed lazily.
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
    local = master.startswith("local")
    if local:
        # The fork-free local filesystem (module docstring).
        confs.update({
            "spark.hadoop.fs.file.impl": (
                NIO_LOCAL_FS if fs_classes else "org.apache.hadoop.fs.RawLocalFileSystem"
            ),
            "spark.hadoop.fs.AbstractFileSystem.file.impl": "org.apache.hadoop.fs.local.RawLocalFs",
            "spark.sql.streaming.checkpointFileManagerClass": (
                "org.apache.spark.sql.execution.streaming.checkpointing."
                "FileSystemBasedCheckpointFileManager"
            ),
        })
    # Applied LAST so explicit entries win over the local defaults above.
    extra = parse_confs(e.get("SPARK_GRAFT_EXTRA_CONFS", ""))
    confs.update(extra)
    if local and fs_classes:
        # Joined, not replaced: a caller's classpath would otherwise
        # leave fs.file.impl naming a class the JVM cannot load.
        user_path = extra.get("spark.driver.extraClassPath")
        confs["spark.driver.extraClassPath"] = (
            f"{user_path}{os.pathsep}{fs_classes}" if user_path else fs_classes
        )
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
    master, confs = session_confs(fs_classes=_driver_fs_classes())
    builder = SparkSession.builder.master(master).appName(app_name)
    for k, v in {**confs, **(extra or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
