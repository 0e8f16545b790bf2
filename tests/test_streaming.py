"""End-to-end Structured Streaming tests: the blob-trigger pipeline
(S3 + K2 + M1) and watermark semantics."""

from __future__ import annotations

import glob
import os
import subprocess
import sys
from collections import Counter

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from spotify_serverless_etl_pipeline_engineering_with_azure_spark.operators.fixtures import (
    blob_name,
    generate_docs,
    write_json_dir,
)
from spotify_serverless_etl_pipeline_engineering_with_azure_spark.operators.sinks import write_csv
from spotify_serverless_etl_pipeline_engineering_with_azure_spark.operators.spotify import (
    read_raw_json,
    transform,
)
from spotify_serverless_etl_pipeline_engineering_with_azure_spark.streaming import pipeline
from spotify_serverless_etl_pipeline_engineering_with_azure_spark.streaming.pipeline import (
    events_stream,
    run_spotify_pipeline,
    run_to_parquet,
    windowed_counts,
)


def test_spotify_stream_foreachbatch_csv_and_archive(spark, tmp_path):
    """readStream raw JSON → transform → 3 CSV sinks; source files
    archived after processing (M1 replacement); each micro-batch's
    three tables equal the batch transform over that batch's blob."""
    raw_dir = str(tmp_path / "raw")
    archive = str(tmp_path / "processed")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    paths = write_json_dir(raw_dir, n_docs=3)

    q = run_spotify_pipeline(spark, raw_dir, out, ckpt, archive_dir=archive)
    q.awaitTermination(240)
    assert not q.isActive

    docs = generate_docs(3)
    n_items = sum(len(d["items"]) for d in docs)
    song_files = glob.glob(f"{out}/songs_data/batch_id=*/*.csv")
    assert song_files, "no CSV output written"
    written = (
        spark.read.option("header", True).csv(f"{out}/songs_data/batch_id=*").count()
    )
    assert written == n_items
    for t in ("artists", "albums"):
        assert glob.glob(f"{out}/{t}_data/batch_id=*/*.csv")

    # archival: the cleaner moves batch N's files when batch N+1 plans,
    # so with one file per micro-batch the last file trails (documented
    # divergence from the reference's eager copy+delete).
    import time

    archived = []
    for _ in range(15):
        archived = glob.glob(f"{archive}/**/*.json", recursive=True)
        if len(archived) >= len(paths) - 1:
            break
        time.sleep(1)
    assert len(archived) == len(paths) - 1
    remaining = glob.glob(f"{raw_dir}/*.json")
    assert len(remaining) == 1

    _assert_batches_equal_batch_transform(spark, out, tmp_path, n_docs=3)


def _assert_batches_equal_batch_transform(spark, out, tmp_path, n_docs):
    """Stream equals batch, per blob. Song ids are track_<doc>_<item>,
    so each batch's songs name the one blob it consumed; an identical
    copy of that blob goes through read_raw_json → transform →
    write_csv, and both CSV outputs are read back the same way."""
    ref_dir = str(tmp_path / "ref")
    write_json_dir(ref_dir, n_docs=n_docs)

    def csv_rows(path):
        return Counter(tuple(r) for r in spark.read.option("header", True).csv(path).collect())

    batches = sorted(os.path.basename(d) for d in glob.glob(f"{out}/songs_data/batch_id=*"))
    assert len(batches) == n_docs
    for batch in batches:
        songs = spark.read.option("header", True).csv(f"{out}/songs_data/{batch}")
        blobs = {r.song_id.split("_")[1] for r in songs.select("song_id").collect()}
        assert len(blobs) == 1, f"{batch}: songs from blobs {sorted(blobs)}"
        blob = os.path.join(ref_dir, blob_name(int(blobs.pop())))
        for name, df in transform(read_raw_json(spark, blob)).items():
            want = str(tmp_path / "want" / batch / name)
            write_csv(df, want)
            assert csv_rows(f"{out}/{name}_data/{batch}") == csv_rows(want), (batch, name)


def test_stream_restart_resumes_without_repeats(spark, tmp_path):
    """Drain two of four blobs, stage the other two and drain again
    from the same checkpoint: batch ids run 0..3 with none repeated,
    every batch equals the batch transform of its blob, and the archive
    plus the raw dir hold each blob exactly once."""
    import shutil
    import time

    staged = write_json_dir(str(tmp_path / "staged"), n_docs=4)
    raw_dir = str(tmp_path / "raw")
    archive = str(tmp_path / "processed")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(raw_dir)

    batch_ids = []
    for part in (staged[:2], staged[2:]):
        for p in part:
            shutil.move(p, raw_dir)
        q = run_spotify_pipeline(spark, raw_dir, out, ckpt, archive_dir=archive)
        q.awaitTermination(240)
        assert not q.isActive
        batch_ids += [pr["batchId"] for pr in q.recentProgress if pr["numInputRows"] > 0]
    assert batch_ids == [0, 1, 2, 3]

    # The cleaner archives a batch's blob when the next batch plans, so
    # only the last blob stays in the raw dir; the restart archives the
    # first drain's trailing blob.
    archived = []
    for _ in range(15):
        archived = glob.glob(f"{archive}/**/*.json", recursive=True)
        if len(archived) >= 3:
            break
        time.sleep(1)
    held = Counter(os.path.basename(p) for p in archived + glob.glob(f"{raw_dir}/*.json"))
    assert held == Counter(blob_name(d) for d in range(4))
    assert len(archived) == 3

    _assert_batches_equal_batch_transform(spark, out, tmp_path, n_docs=4)


def test_stream_sink_writes_do_not_shuffle(spark, tmp_path):
    """Each blob is one micro-batch in one partition, so the sink's
    keep-first aggregates plan no Exchange: every data batch runs
    exactly three jobs (one CSV write per table) of one stage each."""
    raw_dir = str(tmp_path / "raw")
    write_json_dir(raw_dir, n_docs=2)
    q = run_spotify_pipeline(spark, raw_dir, str(tmp_path / "out"), str(tmp_path / "ckpt"))
    q.awaitTermination(240)
    assert not q.isActive

    sc = spark.sparkContext
    # Job records arrive through the listener bus; drain it first.
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store, tracker = sc._jsc.sc().statusStore(), sc.statusTracker()
    stages_by_batch = {}
    for jid in tracker.getJobIdsForGroup(str(q.runId)):
        batch = int(store.job(jid).description().get().rsplit("batch = ", 1)[1])
        stages_by_batch.setdefault(batch, []).append(len(tracker.getJobInfo(jid).stageIds))
    data_batches = [p["batchId"] for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(data_batches) == 2
    assert stages_by_batch == {b: [1, 1, 1] for b in data_batches}


def test_windowed_counts_match_batch(spark, sf_dir):
    """Single micro-batch → no late rows → streaming agg == batch agg."""
    back, _ = run_to_parquet(
        windowed_counts(events_stream(spark, sf_dir)), "t_batch_equiv", sf_dir, output_mode="complete"
    )
    streamed = {tuple(r) for r in back.drop("batch_id").collect()}

    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.catalog import table
    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.functions.exact import dsum

    batch = (
        table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum(F.col("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )
    assert streamed == {tuple(r) for r in batch.collect()}


def test_nanos_events_read_like_micros(spark, tmp_path):
    """events.ts stored as TIMESTAMP(NANOS) reads as the same instants
    as a TIMESTAMP(MICROS) copy, through catalog.table and through
    events_stream drained by run_to_parquet. The values sit above 2^53
    ns, where a floating division would round them."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.catalog import table

    base = 1_704_067_200_000_000  # 2024-01-01 00:00 UTC, in microseconds
    micros = [base + i * 1_234_567_891 + i for i in range(40)]
    dirs = {}
    for unit, scale in (("us", 1), ("ns", 1000)):
        d = tmp_path / unit
        d.mkdir()
        pq.write_table(
            pa.table({
                "event_id": pa.array(range(40), pa.int64()),
                "ts": pa.array([m * scale for m in micros], pa.timestamp(unit)),
            }),
            d / "events.parquet",
        )
        assert pq.read_schema(d / "events.parquet").field("ts").type == pa.timestamp(unit)
        dirs[unit] = str(d)

    def rows(df):
        return sorted(tuple(r) for r in df.select("event_id", "ts").collect())

    epoch = datetime.datetime(1970, 1, 1)
    expected = [(i, epoch + datetime.timedelta(microseconds=m)) for i, m in enumerate(micros)]
    assert rows(table(spark, dirs["us"], "events")) == expected
    assert rows(table(spark, dirs["ns"], "events")) == expected
    back, _ = run_to_parquet(
        events_stream(spark, dirs["ns"]).select("event_id", "ts"), "t_nanos", dirs["ns"]
    )
    assert rows(back) == expected


def test_stream_checkpoint_no_reprocess(spark, tmp_path):
    """Restarting over the same checkpoint must not re-emit batches
    (the reference's at-least-once copy+delete, made exactly-once)."""
    raw_dir = str(tmp_path / "raw2")
    out = str(tmp_path / "out2")
    ckpt = str(tmp_path / "ckpt2")
    write_json_dir(raw_dir, n_docs=2)

    q1 = run_spotify_pipeline(spark, raw_dir, out, ckpt)
    q1.awaitTermination(240)
    first = spark.read.option("header", True).csv(f"{out}/songs_data/batch_id=*").count()

    q2 = run_spotify_pipeline(spark, raw_dir, out, ckpt)  # restart, no new files
    q2.awaitTermination(240)
    second = spark.read.option("header", True).csv(f"{out}/songs_data/batch_id=*").count()
    assert first == second


def test_run_to_parquet_empty_bounded_stream_returns_empty_frame(spark, tmp_path):
    """Zero data batches (an empty bounded source never invokes
    foreachBatch) must return an EMPTY frame with the post-transform
    schema — not raise a path-not-found AnalysisException because the
    batch_id=* glob target was never created."""
    from pyspark.sql import functions as F

    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.streaming.pipeline import (
        run_to_parquet,
    )

    src = tmp_path / "empty_src"
    src.mkdir()
    stream = spark.readStream.schema("user_id long, value double").parquet(str(src))
    back, q = run_to_parquet(stream, "emptyprobe", str(src))
    assert back.count() == 0
    assert dict(back.dtypes) == {
        "user_id": "bigint", "value": "double", "batch_id": "int",
    }
    # batch_transform may change the schema — the empty frame must
    # reflect the POST-transform shape.
    stream2 = spark.readStream.schema("user_id long, value double").parquet(str(src))
    back2, _ = run_to_parquet(
        stream2, "emptyprobe2", str(src),
        batch_transform=lambda b: b.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n")
        ),
    )
    assert back2.count() == 0
    assert dict(back2.dtypes) == {"user_id": "bigint", "n": "bigint", "batch_id": "int"}


def test_run_to_parquet_complete_mode_multi_batch_reads_last_only(spark, tmp_path):
    """COMPLETE mode re-emits the ENTIRE result table every trigger:
    with the drain split across 2+ micro-batches (forced here via
    maxFilesPerTrigger=1 over two source files), a union-of-all-batches
    read-back double-counts every group that survived into the final
    table. The contract is: the LAST batch IS the result. This test
    fails under the old glob-everything read-back (counts doubled) and
    pins the max-batch_id selection."""
    import uuid as _uuid

    from pyspark.sql import functions as F

    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.streaming.pipeline import (
        run_to_parquet,
    )

    src = tmp_path / "complete_src"
    src.mkdir()
    spark.createDataFrame([(1, 10.0), (2, 20.0)], "user_id long, value double") \
        .coalesce(1).write.parquet(str(src / "f1.parquet"))
    spark.createDataFrame([(1, 30.0), (3, 40.0)], "user_id long, value double") \
        .coalesce(1).write.parquet(str(src / "f2.parquet"))

    stream = (
        spark.readStream.schema("user_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*.parquet"))
    )
    agg = stream.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    prefix = f"completeprobe_{_uuid.uuid4().hex[:6]}"
    back, q = run_to_parquet(agg, prefix, str(src), output_mode="complete")

    # the scenario really forced 2+ data batches (else this test is
    # vacuous and the old read-back would pass it)
    data_batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(data_batches) >= 2, [
        (p["batchId"], p["numInputRows"]) for p in q.recentProgress
    ]
    rows = {(r.user_id, r.n) for r in back.select("user_id", "n").collect()}
    assert rows == {(1, 2), (2, 1), (3, 1)}
    assert back.count() == 3  # glob-everything would see 3 + partial-batch rows


def test_run_to_parquet_restart_resumes_without_repeats(spark, tmp_path, monkeypatch):
    """Kill a run_to_parquet drain of a four-file stream in its third
    batch, then drain again from the same checkpoint: the resumed query
    replays the planned but uncommitted batch 2 and runs batch 3, no
    batch id runs twice, and the rows, each with its batch id, equal an
    uninterrupted drain's."""
    src = str(tmp_path / "src")
    spark.range(40).selectExpr("id", "id % 7 AS k").repartition(4).write.parquet(src)

    def stream():
        return (
            spark.readStream.schema("id long, k long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    def data_batches(q):
        return [p["batchId"] for p in q.recentProgress if p["numInputRows"] > 0]

    def rows(df):
        return Counter(tuple(r) for r in df.select("id", "k", "batch_id").collect())

    want, q = run_to_parquet(stream(), "restart_ref", src)
    assert data_batches(q) == [0, 1, 2, 3]

    # Both drains below share one run dir, hence one checkpoint.
    run = str(tmp_path / "run")
    monkeypatch.setattr(pipeline, "sink_run_dir", lambda *_: run)
    calls = []

    def kill_in_third_batch(batch_df):
        calls.append(None)
        if len(calls) == 3:
            raise RuntimeError("killed in the third batch")
        return batch_df

    with pytest.raises(StreamingQueryException, match="killed in the third batch"):
        run_to_parquet(stream(), "restart", src, batch_transform=kill_in_third_batch)
    committed = sorted(int(d.rsplit("=", 1)[1]) for d in glob.glob(f"{run}/data/batch_id=*"))
    assert committed == [0, 1]

    back, q = run_to_parquet(stream(), "restart", src)
    assert committed + data_batches(q) == [0, 1, 2, 3]
    assert rows(back) == rows(want)


_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# A one-backfill read_raw_json -> transform -> write_csv x3 run and a
# two-blob run_spotify_pipeline drain in a fresh session booted through
# get_spark, so both run under session_confs' local posture.
_DRAIN = """
import os
import sys
sys.path.insert(0, {repo!r})
from spotify_serverless_etl_pipeline_engineering_with_azure_spark import get_spark
from spotify_serverless_etl_pipeline_engineering_with_azure_spark.operators.fixtures import (
    write_json_dir,
)
from spotify_serverless_etl_pipeline_engineering_with_azure_spark.operators.sinks import write_csv
from spotify_serverless_etl_pipeline_engineering_with_azure_spark.operators.spotify import (
    read_raw_json,
    transform,
)
from spotify_serverless_etl_pipeline_engineering_with_azure_spark.streaming.pipeline import (
    run_spotify_pipeline,
)
raw, out, ckpt = sys.argv[1:]
spark = get_spark("sse_fork_guard")
write_json_dir(raw, n_docs=2)
for name, df in transform(read_raw_json(spark, raw)).items():
    write_csv(df, os.path.join(out, "backfill", name))
q = run_spotify_pipeline(spark, raw, out, ckpt)
q.awaitTermination(240)
assert not q.isActive and q.exception() is None
assert sum(p["numInputRows"] > 0 for p in q.recentProgress) == 2
spark.stop()
print("DRAIN_OK")
"""

# Spark's own filesystem defaults, which the local posture replaces.
_SPARK_FS_DEFAULTS = ";".join([
    "spark.hadoop.fs.file.impl=org.apache.hadoop.fs.LocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl=org.apache.hadoop.fs.local.LocalFs",
    "spark.sql.streaming.checkpointFileManagerClass="
    "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager",
])


def _drain_with_logged_forks(tmp_path, extra_confs: str = ""):
    """Run _DRAIN in a fresh process with logging ``chmod`` and
    ``readlink`` shims first on PATH (Hadoop's shell-out path resolves
    them there). Returns each command's logged calls and the ``.crc``
    files left under the output and checkpoint dirs."""
    shims = tmp_path / "shims"
    shims.mkdir()
    for cmd in ("chmod", "readlink"):
        shim = shims / cmd
        shim.write_text(
            f'#!/bin/sh\necho "$*" >> {tmp_path / (cmd + ".log")}\nexec /bin/{cmd} "$@"\n'
        )
        shim.chmod(0o755)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(
        PATH=f"{shims}:{env.get('PATH', '')}",
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
        SPARK_GRAFT_EXTRA_CONFS=extra_confs,
    )
    dirs = [str(tmp_path / d) for d in ("raw", "out", "ckpt")]
    proc = subprocess.run(
        [sys.executable, "-c", _DRAIN.format(repo=_REPO), *dirs],
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        timeout=420,
        env=env,
    )
    assert "DRAIN_OK" in proc.stdout, f"stdout:\n{proc.stdout[-2000:]}\nstderr:\n{proc.stderr[-4000:]}"

    def calls(cmd):
        log = tmp_path / f"{cmd}.log"
        return log.read_text().splitlines() if log.exists() else []

    crc = [
        os.path.join(root, f)
        for d in dirs[1:]
        for root, _, files in os.walk(d)
        for f in files
        if f.endswith(".crc")
    ]
    return calls("chmod"), calls("readlink"), crc


def test_local_posture_drain_forks_no_readlink_and_writes_no_crc(tmp_path):
    """Without a native libhadoop every local create forks a chmod and
    every FileContext rename a readlink per side. Under the local
    posture a backfill and a streaming drain fork neither (file modes
    are set in-process by session.NIO_LOCAL_FS) and write no .crc
    sidecars."""
    chmod, readlink, crc = _drain_with_logged_forks(tmp_path)
    assert chmod == []
    assert readlink == []
    assert crc == []


def test_chmod_guard_fires_under_raw_local_filesystem(tmp_path):
    """Negative fixture: the same run on Hadoop's RawLocalFileSystem
    forks a chmod per created file or directory."""
    chmod, readlink, crc = _drain_with_logged_forks(
        tmp_path, "spark.hadoop.fs.file.impl=org.apache.hadoop.fs.RawLocalFileSystem"
    )
    print(f"chmod forks: {len(chmod)}")
    assert chmod
    assert readlink == []


def test_fork_guard_fires_under_spark_filesystem_defaults(tmp_path):
    """Negative fixture: the same drain under Spark's filesystem
    defaults forks readlink and leaves .crc files."""
    chmod, readlink, crc = _drain_with_logged_forks(tmp_path, _SPARK_FS_DEFAULTS)
    print(f"chmod forks: {len(chmod)}, readlink forks: {len(readlink)}, crc files: {len(crc)}")
    assert readlink
    assert crc
