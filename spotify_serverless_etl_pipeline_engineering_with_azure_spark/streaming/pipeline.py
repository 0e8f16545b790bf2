"""Structured Streaming: the reference's blob-trigger semantics
(SURVEY.md §2.1 S3/M1 + §3.2) and event-stream operators.

Reference mapping:
  S3 blob trigger   → file-source readStream over the raw-zone dir;
                      one arriving file ≈ one micro-batch
                      (spotifytransform.py:67-68)
  M1 archival       → cleanSource=archive + sourceArchiveDir replaces
                      the copy+delete at spotifytransform.py:137-155;
                      the checkpoint replaces the at-least-once retry
                      semantics (idempotent replay instead of
                      swallowed errors)
  K2 CSV sinks ×3   → foreachBatch (three CSV writers can't hang off
                      one streaming query otherwise)
  D1 streaming form → dropDuplicatesWithinWatermark

Scale posture: watermarks bound all state; maxFilesPerTrigger=1 paces
ingest one blob per trigger; foreachBatch writes are idempotent per
(run, batch_id).
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..catalog import sink_run_dir
from ..functions.exact import dsum, sql_dsum
from ..operators import spotify
from ..operators.sinks import write_csv


def spotify_file_stream(
    spark: SparkSession, input_dir: str, *, archive_dir: str | None = None
) -> DataFrame:
    """S3: the raw-zone directory as an unbounded file stream, one blob
    per micro-batch — the reference's one-invocation-per-blob
    semantics."""
    reader = spark.readStream.option("maxFilesPerTrigger", 1)
    if archive_dir:
        # M1: move-after-process, engine-managed and atomic per batch.
        reader = reader.option("cleanSource", "archive").option(
            "sourceArchiveDir", archive_dir
        )
    return spotify.read_playlists(reader, input_dir)


def run_spotify_pipeline(
    spark: SparkSession,
    input_dir: str,
    output_base: str,
    checkpoint_dir: str,
    *,
    archive_dir: str | None = None,
) -> StreamingQuery:
    """The full reference transform as a stream: readStream → explode →
    3 branches → foreachBatch CSV ×3 (spotifytransform.py:77-130),
    drained with an availableNow trigger, one blob per micro-batch.

    Each micro-batch is spotify.transform run over that batch's blob,
    the same code path as a backfill. NOTE on
    archival parity: Spark's source cleaner moves a batch's files when
    the NEXT batch is planned, so the most recent file trails until
    more data arrives. That trade (slightly-late archive, exactly-once
    via checkpoint) replaces the reference's eager but non-atomic
    copy+delete with swallowed errors (spotifytransform.py:137-158).
    """
    raw = spotify_file_stream(spark, input_dir, archive_dir=archive_dir)

    def sink_batch(batch_df: DataFrame, batch_id: int) -> None:
        # A micro-batch is the batch transform over its blob. The file
        # source hands over one unsplittable multiLine blob per batch,
        # so coalesce(1) moves no data; it tells Catalyst the input is
        # one partition, which already satisfies keep-first's
        # distribution, so no Exchange is planned. Keep-first orders on
        # (doc_order, pos), so the result holds for any batch
        # (test_keep_first_across_blobs_in_one_partition).
        for name, df in spotify.transform(batch_df.coalesce(1)).items():
            write_csv(df, f"{output_base}/{name}_data/batch_id={batch_id}")

    return (
        raw.writeStream.foreachBatch(sink_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events parquet as a (bounded) stream, read in place: a file
    source over ``sf_dir`` that keeps only ``events.parquet``, with the
    file schema from the catalog's loaded-table cache, then the SAME ts
    normalization as the batch path (catalog.normalize_events_ts), so
    the two can never diverge on the TIMESTAMP(NANOS)-vs-micros rule
    every oracle-parity test depends on. Reads under the session's
    read pins, which every registered query build sets.

    CONTRACT: exactly ONE file, so an availableNow drain with no
    maxFilesPerTrigger is a single micro-batch. streaming_stateful_funnel's
    oracle equality (monotone state machine vs batch SQL) relies on
    this and asserts it; a source that matched several files would
    silently under-count funnels that span batches out of order."""
    from ..catalog import normalize_events_ts, stored

    schema = stored(spark, sf_dir, "events").schema
    return normalize_events_ts(
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def windowed_counts(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour event-time window aggregate with a 2-hour
    late-data watermark."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum(F.col("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


# DuckDB oracle of windowed_counts over the whole events table.
WINDOWED_COUNTS_SQL = f"""
SELECT TIME_BUCKET(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       {sql_dsum("value", 2)} AS sum_value
FROM events
GROUP BY 1, 2
"""


def session_counts(events: DataFrame) -> DataFrame:
    """Per-user session_window (30-minute gap) event counts with a
    24-hour late-data watermark: (user_id, session_start, n_events).

    session_window merges two events when their gap is <= 30 minutes;
    SQL_SESSIONS splits strictly on a gap > 1800 s, the same rule."""
    return (
        events.withWatermark("ts", "24 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )


# Gaps-and-islands sessions as DuckDB CTEs: ``flagged`` marks each
# event that opens a session (its user's first, or more than 30 minutes
# after the previous one, compared in microseconds), ``sessions``
# numbers the sessions per user.
SQL_SESSIONS = """flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN EPOCH_US(CAST(ts AS TIMESTAMP)) - EPOCH_US(CAST(LAG(ts) OVER w AS TIMESTAMP)) > 1800000000
              OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts,
         CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
  FROM flagged
)"""

# DuckDB oracle of session_counts over the whole events table.
SESSION_COUNTS_SQL = f"""
WITH {SQL_SESSIONS}
SELECT user_id, CAST(MIN(ts) AS TIMESTAMP) AS session_start, COUNT(*) AS n_events
FROM sessions
GROUP BY user_id, session_seq
"""


# State-store partition count for the bounded test streams. Stateful
# streaming parallelism should track STATE SIZE, not the batch session's
# core count: every shuffle partition materializes a state store
# (directory, provider, commit per micro-batch), so 32 stores for a few
# thousand keys is pure fixed overhead.
# A production job sizes this to keys×bytes/store-budget; it is fixed at
# the FIRST run of a checkpoint and must not change across restarts.
STREAM_STATE_PARTITIONS = 8


@contextmanager
def narrow_state_partitions(spark: SparkSession):
    """Narrow shuffle partitions to STREAM_STATE_PARTITIONS while a
    streaming query starts (the query binds the value at start; the
    session's batch setting is restored after — safe because every
    caller drains synchronously)."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


# Seconds a bounded availableNow drain may run before it is stopped.
DRAIN_TIMEOUT_S = 300


def await_drain(q: StreamingQuery, name: str) -> StreamingQuery:
    """Block until the availableNow query ``q`` has drained; after
    DRAIN_TIMEOUT_S stop it and raise TimeoutError."""
    q.awaitTermination(DRAIN_TIMEOUT_S)
    if q.isActive:
        q.stop()
        raise TimeoutError(f"stream {name} did not drain in {DRAIN_TIMEOUT_S}s")
    return q


def run_to_parquet(
    df: DataFrame,
    prefix: str,
    sf_dir: str,
    *,
    output_mode: str = "append",
    batch_transform=None,
):
    """Drive a (bounded) stream through foreachBatch into per-batch
    parquet and return (read-back DataFrame, finished StreamingQuery).

    THE drain for streaming queries: executor-side writes, nothing
    lands in driver JVM memory (Spark's memory sink holds its entire
    table on the driver, fatal for outputs that grow with the data).
    ``batch_transform`` (optional) is applied to each micro-batch
    DataFrame before the write — the per-batch PARTIAL AGGREGATION
    hook (e.g. pre-counting join pairs so only counts land on disk).
    The stream runs availableNow under narrow_state_partitions, and
    the call blocks until it has drained (``await_drain``).
    The run dir is ``catalog.sink_run_dir``'s (run-unique, app-scoped,
    dead-process dirs swept), checkpoint inside it, so a re-invocation
    never deletes files under a previously returned lazy frame.
    """
    import glob

    spark = df.sparkSession
    run = sink_run_dir(spark, f"drain_{prefix}", sf_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        out = batch_transform(batch_df) if batch_transform else batch_df
        out.write.mode("overwrite").parquet(f"{run}/data/batch_id={batch_id}")

    with narrow_state_partitions(spark):
        q = (
            df.writeStream.foreachBatch(sink)
            .option("checkpointLocation", f"{run}/_ckpt")
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
    await_drain(q, prefix)
    # The read-back's shape: batch_transform (it may change the schema)
    # over an empty frame. Handing its schema to the reader spares the
    # footer-inference job a schema-less parquet read runs.
    shape = spark.createDataFrame([], df.schema)
    if batch_transform is not None:
        shape = batch_transform(shape)
    batches = glob.glob(f"{run}/data/batch_id=*")
    if not batches:
        # Zero DATA batches (an empty bounded source never invokes
        # foreachBatch) → the glob target was never created, and
        # spark.read.parquet on it raises a confusing path-not-found
        # AnalysisException. Return an empty frame with the read-back's
        # columns plus the batch_id partition column the directory
        # layout adds. limit(0) guards the ROW contract, not just the
        # schema: a GLOBAL-aggregate transform evaluated over an empty
        # static frame yields one row (count=0 etc.) that the disk
        # read-back path could never produce — foreachBatch never ran,
        # so zero rows is the only faithful result.
        return shape.limit(0).withColumn("batch_id", F.lit(None).cast("int")), q
    reader = spark.read.schema(shape.schema).option("basePath", f"{run}/data")
    if output_mode == "complete":
        # COMPLETE mode re-emits the ENTIRE result table every
        # trigger, so the union-of-all-batches read-back is correct
        # only while exactly one batch ever fires — a trailing
        # no-data micro-batch (watermark finalization under
        # availableNow) or a multi-file split would silently double
        # every row while the data-batch assert stayed green. The
        # last batch IS the result by definition; read back only the
        # max batch_id.
        back = reader.parquet(max(batches, key=lambda d: int(d.rsplit("=", 1)[1])))
    else:
        # append emits disjoint per-trigger deltas, so the union of all
        # batch dirs is the stream's full output; update re-emits a
        # group in every trigger that changes it, so update-mode
        # callers assert a single data batch. The listed dirs, not a
        # glob: Spark probes a glob path for a file-sink metadata dir
        # and logs a FileNotFoundException warning per read-back.
        back = reader.parquet(*batches)
    return back, q
