"""Driver-contract robustness: the entry module must work when loaded
from an arbitrary working directory (the external driver controls its
own CWD), including queries that ship package code to executor Python
workers — the failure mode sys.path tricks hide until a worker tries
the import.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as e
qs = e.queries()
# one query per worker-import class: DataSource, mapInPandas, pandas_udf
assert len(qs["rest_datasource_playlist"](spark, {sf!r}).collect()) > 0
assert len(qs["multimodal_decode_features"](spark, {sf!r}).collect()) > 0
assert len(qs["udf_pandas_scalar"](spark, {sf!r}).collect()) > 0
print("CWD_CONTRACT_OK")
"""


def test_queries_run_from_foreign_cwd():
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT.format(repo=REPO, sf="/root/testdata/sf0.001")],
        cwd="/tmp",
        capture_output=True,
        text=True,
        timeout=420,
        env={**os.environ, "PYTHONDONTWRITEBYTECODE": "1"},
    )
    assert "CWD_CONTRACT_OK" in proc.stdout, (
        f"stdout:\n{proc.stdout[-2000:]}\nstderr:\n{proc.stderr[-2000:]}"
    )


def test_timestamp_queries_survive_non_utc_session():
    """The driver may run with any session timezone, and may change it
    between queries. Every registered query build pins the read
    contract (UTC among it), so timestamp-output queries must match
    the UTC oracle even when the session is reset to America/New_York
    before EACH query: a query that skips the pin renders its
    timestamps shifted by the offset, whatever ran before it."""
    script = f"""
import sys; sys.path.insert(0, {REPO!r})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as e
from tests.oracle_mirror import duckdb_conn, compare
qs, osql = e.queries(), e.oracle_sql()
con = duckdb_conn("/root/testdata/sf0.001")
bad = []
for name in ("events_tumbling_window", "ref_c1_timestamp_cast",
             "events_sessionization", "streaming_tumbling_window",
             "streaming_sliding_window", "streaming_session_window",
             "spotify_songs",
             "events_cohort_retention", "events_attribution_last_touch",
             "events_point_in_time_enrich", "events_anomaly_zscore"):
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    p = compare(qs[name](spark, "/root/testdata/sf0.001").toPandas(),
                con.execute(osql[name]).fetchdf())
    if p:
        bad.append((name, p))
assert not bad, bad
print("TZ_CONTRACT_OK")
"""
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd="/tmp",
        capture_output=True,
        text=True,
        timeout=420,
        env={**os.environ, "PYTHONDONTWRITEBYTECODE": "1", "TZ": "America/New_York"},
    )
    assert "TZ_CONTRACT_OK" in proc.stdout, (
        f"stdout:\n{proc.stdout[-2000:]}\nstderr:\n{proc.stderr[-2000:]}"
    )


def test_o3_session_config_from_env():
    """O3 (spotifyextract.py:15-20): the session factory resolves
    master/parallelism/memory from the environment. Pure mapping — no
    JVM boot; the live-session integration half is the UTC timezone
    every oracle-parity test already exercises."""
    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.session import (
        session_confs,
    )

    master, confs = session_confs(env={})
    assert master == "local[32]"
    assert confs["spark.sql.shuffle.partitions"] == "32"
    assert confs["spark.driver.memory"] == "32g"
    assert confs["spark.sql.session.timeZone"] == "UTC"

    master, confs = session_confs(
        env={"SPARK_GRAFT_CPUS": "8", "SPARK_GRAFT_DRIVER_MEM": "4g"}
    )
    assert master == "local[8]"
    assert confs["spark.sql.shuffle.partitions"] == "8"
    assert confs["spark.driver.memory"] == "4g"

    master, confs = session_confs(
        env={
            "SPARK_GRAFT_MASTER": "spark://host:7077",
            "SPARK_GRAFT_CPUS": "4",
            "SPARK_GRAFT_EXTRA_CONFS": "spark.sql.shuffle.partitions=256",
        }
    )
    assert master == "spark://host:7077"
    assert confs["spark.sql.shuffle.partitions"] == "256"

    # SPARK_GRAFT_EXTRA_CONFS ("k=v;k2=v2") extends AND overrides the
    # local defaults — the deployment/config-A/B passthrough. Applied
    # last; whitespace and empty segments are tolerated.
    master, confs = session_confs(
        env={
            "SPARK_GRAFT_EXTRA_CONFS": (
                "spark.sql.join.preferSortMergeJoin=false; "
                "spark.driver.memory=8g;"
            )
        }
    )
    assert confs["spark.sql.join.preferSortMergeJoin"] == "false"
    assert confs["spark.driver.memory"] == "8g"

    # Cluster shuffle sizing goes through the same passthrough: it
    # overrides the CPU-derived partition count.
    master, confs = session_confs(
        env={
            "SPARK_GRAFT_CPUS": "8",
            "SPARK_GRAFT_EXTRA_CONFS": "spark.sql.shuffle.partitions=200000",
        }
    )
    assert master == "local[8]"
    assert confs["spark.sql.shuffle.partitions"] == "200000"

    # The fork-free local posture: a local master gets the raw local
    # filesystem and the FileSystem-based checkpoint manager; every
    # master drops PySpark's call-site capture; the passthrough
    # overrides each entry.
    debugging = {"spark.python.sql.dataFrameDebugging.enabled": "false"}
    local_fs = {
        "spark.hadoop.fs.file.impl": "org.apache.hadoop.fs.RawLocalFileSystem",
        "spark.hadoop.fs.AbstractFileSystem.file.impl": "org.apache.hadoop.fs.local.RawLocalFs",
        "spark.sql.streaming.checkpointFileManagerClass": (
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager"
        ),
    }
    posture = {**debugging, **local_fs}
    _, confs = session_confs(env={"SPARK_GRAFT_CPUS": "8"})
    assert {k: confs.get(k) for k in posture} == posture
    _, confs = session_confs(env={"SPARK_GRAFT_MASTER": "spark://host:7077"})
    assert {k: confs.get(k) for k in posture} == {**debugging, **dict.fromkeys(local_fs)}
    overrides = {k: f"override{i}" for i, k in enumerate(posture)}
    _, confs = session_confs(
        env={
            "SPARK_GRAFT_CPUS": "8",
            "SPARK_GRAFT_EXTRA_CONFS": ";".join(f"{k}={v}" for k, v in overrides.items()),
        }
    )
    assert {k: confs[k] for k in posture} == overrides

    # With the compiled classes dir (session.local_fs_classes), a local
    # master gets the in-process-chmod filesystem on its driver
    # classpath; without it, the mapping above. Cluster masters get the
    # same confs either way.
    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.session import NIO_LOCAL_FS

    _, confs = session_confs(env={"SPARK_GRAFT_CPUS": "8"}, fs_classes="/cache/classes")
    assert {k: confs.get(k) for k in posture} == {
        **posture, "spark.hadoop.fs.file.impl": NIO_LOCAL_FS
    }
    assert confs["spark.driver.extraClassPath"] == "/cache/classes"
    _, confs = session_confs(env={"SPARK_GRAFT_CPUS": "8"}, fs_classes=None)
    assert {k: confs.get(k) for k in posture} == posture
    assert "spark.driver.extraClassPath" not in confs
    cluster = {"SPARK_GRAFT_MASTER": "spark://host:7077"}
    assert session_confs(env=cluster, fs_classes="/cache/classes") == session_confs(env=cluster)

    # A segment without '=' is a config error: silently setting the
    # conf to "" would fail session boot with a confusing Spark error
    # far from the cause (r10 ADVICE) — raise loud, name the segment.
    import pytest

    with pytest.raises(ValueError, match="spark.foo"):
        session_confs(env={"SPARK_GRAFT_EXTRA_CONFS": "spark.foo"})
    with pytest.raises(ValueError, match="not 'key=value'"):
        session_confs(env={"SPARK_GRAFT_EXTRA_CONFS": "=v;a=b"})


def test_bench_json_line_reports_effective_parallelism():
    """bench.py's one-line JSON must carry cpus_effective (the
    session's defaultParallelism) and the master string so the driver
    can VERIFY the $SPARK_GRAFT_CPUS contract instead of inferring it
    from wall-clock ratios (r10's PERF heuristic false-positived
    "cpus ignored" because the line reported neither). Run the real
    bench end-to-end at sf0.001 with one measured pass — the same
    subprocess shape the driver uses."""
    import json

    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        cwd="/tmp",
        capture_output=True,
        text=True,
        timeout=540,
        env={
            **os.environ,
            "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.001",
            "SPARK_GRAFT_CPUS": "8",
            "SPARK_GRAFT_BENCH_PASSES": "1",
            "PYTHONDONTWRITEBYTECODE": "1",
        },
    )
    assert proc.returncode == 0, f"stderr:\n{proc.stderr[-3000:]}"
    lines = [
        ln for ln in proc.stdout.splitlines() if ln.startswith('{"metric"')
    ]
    assert len(lines) == 1, f"expected one JSON line, got: {proc.stdout[-2000:]}"
    rec = json.loads(lines[0])
    assert rec["cpus_effective"] == 8
    assert rec["master"] == "local[8]"
    assert rec["sf"] == 0.001
    assert set(rec["queries"]) >= {"q1_pricing_summary", "dedup_simhash"}


def test_o4_checkpoint_kill_and_resume(spark, tmp_path):
    """O4 (error handling, spotifytransform.py:131-158 swallowed-error
    copy+delete → checkpoint replay): kill a draining stream after its
    first micro-batch, restart from the SAME checkpoint, and prove
    exactly-once end-to-end — no batch lost, no batch duplicated.
    """
    import glob
    import time

    from pyspark.sql import functions as F

    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.catalog import (
        table,
    )
    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.streaming.pipeline import (
        narrow_state_partitions,
    )

    sf_dir = "/root/testdata/sf0.001"
    src, ckpt, out = (str(tmp_path / d) for d in ("src", "ckpt", "out"))
    ev = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    ev.repartition(3).write.parquet(src)
    schema = spark.read.parquet(src).schema

    def start():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

        def sink(batch_df, batch_id: int) -> None:
            batch_df.write.mode("overwrite").parquet(f"{out}/batch_id={batch_id}")

        with narrow_state_partitions(spark):
            return (
                stream.writeStream.foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )

    # First run: kill as soon as one data batch has committed.
    q = start()
    deadline = time.time() + 120
    while time.time() < deadline:
        if any(p["numInputRows"] > 0 for p in q.recentProgress) or not q.isActive:
            break
        time.sleep(0.2)
    q.stop()
    q.awaitTermination(60)
    done_first = len(glob.glob(f"{out}/batch_id=*"))
    assert done_first >= 1, "first run committed no batch before the kill"

    # Resume from the same checkpoint: replays/continues to completion.
    q2 = start()
    q2.awaitTermination(240)
    assert not q2.isActive

    back = spark.read.option("basePath", out).parquet(f"{out}/batch_id=*")
    assert back.count() == ev.count(), "lost or duplicated rows across the kill"
    assert back.select("event_id").distinct().count() == ev.count()
    got = back.agg(F.sum("value")).first()[0]
    want = ev.agg(F.sum("value")).first()[0]
    assert abs(got - want) < 1e-6


def test_compaction_file_count_does_not_depend_on_read_partitions(spark, sf_dir):
    """compact_small_files writes 4 files however the file source packs
    its 48 fragments. Under spark.sql.files.minPartitionNum=1 the split
    size no longer shrinks with the core count, and at the smoke scale
    they read as 2 partitions, so a coalesce(4) rewrite would write 2
    files where the oracle pins 4."""
    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.plans.scale_ops import (
        compact_small_files,
    )

    key = "spark.sql.files.minPartitionNum"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "1")
    try:
        row = compact_small_files(spark, sf_dir).collect()[0]
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert (row["n_files_before"], row["n_files_after"]) == (48, 4)
