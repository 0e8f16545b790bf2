"""User-behavior analytics over the events stream table: funnel
conversion, cohort retention, sequential decay scoring, and the salted
two-phase aggregation pattern for skewed keys.

These extend the reference's event-pipeline surface (SURVEY.md §2.2 —
the reference's own analytics stop at projections/counts,
spotifytransform.py:77-130) with the event-behavior queries a
product-analytics user of the pipeline runs downstream. All four are
oracle-backed and scale-safe: every aggregate is keyed on user_id (one
shuffle, arbitrarily partitionable) or on a salted composite.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window, WindowSpec

from ..catalog import materialize, share, table
from ..functions.exact import dsum, dsum_from_parts, dsum_parts, sql_dsum
from ..registry import register

# Funnel step definitions: ordered event types a user must hit in
# sequence (each step's event strictly AFTER the previous step's first
# occurrence — the standard strict-ordering funnel).
_FUNNEL_STEPS = ("view", "click", "purchase")

# The funnel's DuckDB step CTEs: s1..s3 hold each user's first time at
# that step, strictly after the previous step's first time.
SQL_FUNNEL_STEPS = """s1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t1
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
  GROUP BY e.user_id
)"""


def _running_per_user() -> WindowSpec:
    """Each user's events in (ts, event_id) order, framed from the
    first event up to the current one."""
    return (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )


@register(
    "events_funnel_conversion",
    oracle=f"""
WITH {SQL_FUNNEL_STEPS},
steps AS (
  SELECT 1 AS step, 'view' AS step_name, COUNT(*) AS n_users FROM s1
  UNION ALL
  SELECT 2, 'click', COUNT(*) FROM s2
  UNION ALL
  SELECT 3, 'purchase', COUNT(*) FROM s3
)
SELECT step, step_name, n_users,
       CAST(n_users AS DOUBLE)
         / FIRST_VALUE(n_users) OVER (ORDER BY step ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS conv_rate
FROM steps
""",
    tags=("behavior", "funnel", "event-time"),
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-ordering funnel view → click → purchase.

    Each step is a keyed MIN-aggregate on user_id joined to the
    previous step's first-occurrence time — three shuffles on the SAME
    key, so every join is co-partitioned after the first exchange and
    AQE plans the (shrinking) right sides as broadcasts at small scale.
    At 100 TB the per-step frames only ever carry (user_id, ts): the
    event payload never moves.
    """
    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "ts")

    def step_frame(step_type, prev_frame):
        out = ev.filter(F.col("event_type") == step_type)
        if prev_frame is not None:
            out = out.join(prev_frame, "user_id").filter(
                F.col("ts") > F.col("t_prev")
            )
        return out.groupBy("user_id").agg(F.min("ts").alias("t_prev"))

    prev = None
    step_frames = []
    for step_type in _FUNNEL_STEPS:
        # shared by the next step's join and the counts union
        prev = share(step_frame(step_type, prev))
        step_frames.append(prev)
    counts = None
    for i, (name, frame) in enumerate(zip(_FUNNEL_STEPS, step_frames), start=1):
        row = frame.agg(
            F.lit(i).alias("step"),
            F.lit(name).alias("step_name"),
            F.count(F.lit(1)).alias("n_users"),
        )
        counts = row if counts is None else counts.unionAll(row)
    w = Window.orderBy("step").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return counts.select(
        "step",
        "step_name",
        "n_users",
        (F.col("n_users").cast("double") / F.first("n_users").over(w)).alias("conv_rate"),
    )


@register(
    "events_cohort_retention",
    oracle="""
WITH first_seen AS (
  SELECT user_id, DATE_TRUNC('week', MIN(ts)) AS cohort_week FROM events GROUP BY user_id
),
active AS (
  SELECT DISTINCT f.cohort_week,
         CAST(DATEDIFF('day', f.cohort_week, DATE_TRUNC('week', e.ts)) / 7 AS BIGINT) AS week_offset,
         e.user_id
  FROM events e JOIN first_seen f ON e.user_id = f.user_id
),
cells AS (
  SELECT cohort_week, week_offset, COUNT(*) AS n_active FROM active GROUP BY 1, 2
)
SELECT cohort_week, week_offset, n_active,
       CAST(n_active AS DOUBLE)
         / FIRST_VALUE(n_active) OVER (PARTITION BY cohort_week ORDER BY week_offset
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS retention
FROM cells
""",
    tags=("behavior", "cohort", "event-time"),
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix.

    Users are cohorted by the Monday-start week of their first event
    (date_trunc('week') is Monday-based in both engines); each cell
    counts distinct cohort users active in week cohort+offset, plus the
    retention ratio against the cohort's week-0 size. Two shuffles on
    user_id (first-seen agg + join back) and one on the tiny
    (cohort, offset) matrix; the distinct collapses map-side first.
    """
    ev = table(spark, sf_dir, "events").select("user_id", "ts")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    active = (
        ev.join(first_seen, "user_id")
        .select(
            "cohort_week",
            (F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week")) / 7)
            .cast("long")
            .alias("week_offset"),
            "user_id",
        )
        .distinct()
    )
    cells = active.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("n_active")
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return cells.select(
        "cohort_week",
        "week_offset",
        "n_active",
        (F.col("n_active").cast("double") / F.first("n_active").over(w)).alias("retention"),
    )


# EWMA smoothing factor. 0.25 and 0.75 are exact binary fractions, so
# acc*0.75 + x*0.25 is two IEEE multiplies and one add per element —
# the identical op sequence in both engines yields bit-identical
# doubles (required by the exact-repr value compare).
_EWMA_ALPHA = 0.25


@register(
    "timeseries_ewma_decay",
    oracle="""
SELECT user_id, COUNT(*) AS n_events,
       LIST_REDUCE(LIST(value ORDER BY ts, event_id),
                   (acc, x) -> acc * 0.75 + x * 0.25) AS ewma_value
FROM events
GROUP BY user_id
""",
    tags=("behavior", "timeseries", "udf", "sequential"),
)
def timeseries_ewma_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average of event values.

    The recurrence acc ← 0.75·acc + 0.25·x is inherently sequential
    WITHIN a key — no window-function form exists (weights depend on
    the distance to the current row) — so this is the canonical
    grouped-map case: applyInPandas partitions by user_id and runs the
    loop per group (recency-decay scoring, the same shape as
    recency-weighted quality scores in training-data curation). The
    fold's STATE is O(1) per key, but applyInPandas materializes each
    group as one pandas frame in one Python worker — the capacity
    bound is max-events-per-key, so a hot key (bot, shared account)
    needs pre-splitting: fold each time-slice to (acc, weight_of_rest)
    partials and compose them associatively, or pre-aggregate the hot
    key's tail. Normal-cardinality keys shard freely across executors.
    The DuckDB oracle replays the identical left-fold via LIST_REDUCE
    over the same (ts, event_id) ordering, so both engines execute the
    same IEEE op sequence and the doubles match bit-for-bit.
    """
    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")

    def ewma(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        vals = pdf["value"].to_numpy()
        acc = float(vals[0])
        for x in vals[1:]:
            acc = acc * (1.0 - _EWMA_ALPHA) + float(x) * _EWMA_ALPHA
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_events": [len(pdf)],
                "ewma_value": [acc],
            }
        )

    return ev.groupBy("user_id").applyInPandas(
        ewma, schema="user_id long, n_events long, ewma_value double"
    )


# Attribution lookback window: a purchase is credited to the most
# recent prior click by the same user within this many microseconds.
_ATTRIB_WINDOW_US = 7 * 86_400 * 1_000_000


@register(
    "events_attribution_last_touch",
    oracle=f"""
WITH seq AS (
  SELECT user_id, ts, event_id, event_type,
         MAX(CASE WHEN event_type = 'click' THEN ts END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_ts
  FROM events
  WHERE event_type IN ('click', 'purchase')
)
SELECT event_id AS purchase_id, user_id, ts AS purchase_ts, last_click_ts,
       CASE WHEN last_click_ts IS NULL THEN NULL
            ELSE EPOCH_US(ts) - EPOCH_US(last_click_ts) END AS gap_us,
       COALESCE(EPOCH_US(ts) - EPOCH_US(last_click_ts) <= {_ATTRIB_WINDOW_US}, FALSE) AS attributed
FROM seq
WHERE event_type = 'purchase'
""",
    tags=("behavior", "attribution", "event-time"),
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: credit each purchase to the same user's
    most recent prior click within a 7-day lookback.

    This is the PER-EVENT carry-forward shape (every purchase needs its
    own predecessor), which a keyed as-of join (asof_join_events,
    plans/scale_ops.py) cannot express — there the right side is one
    row per key. One shuffle on user_id, then a running MAX over the
    click timestamps (ascending order makes running-max ≡ most recent)
    inside the sorted window — no join at all, so no skew surface; at
    100 TB the state per task is a single timestamp per user.
    """
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select("user_id", "ts", "event_id", "event_type")
    )
    w = _running_per_user()
    last_click = F.max(
        F.when(F.col("event_type") == "click", F.col("ts"))
    ).over(w)
    gap = F.unix_micros("ts") - F.unix_micros(F.col("last_click_ts"))
    return (
        ev.withColumn("last_click_ts", last_click)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "last_click_ts",
            gap.alias("gap_us"),
            F.coalesce(gap <= _ATTRIB_WINDOW_US, F.lit(False)).alias("attributed"),
        )
    )


@register(
    "events_markov_transitions",
    oracle="""
WITH seq AS (
  SELECT event_type AS cur_type,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
),
pairs AS (
  SELECT cur_type, next_type, COUNT(*) AS n_pairs
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY cur_type, next_type
)
SELECT cur_type, next_type, n_pairs,
       CAST(n_pairs AS DOUBLE)
         / SUM(n_pairs) OVER (PARTITION BY cur_type) AS prob
FROM pairs
""",
    tags=("behavior", "markov", "event-time"),
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams.

    LEAD within each user's (ts, event_id)-ordered stream pairs every
    event with its successor; the (cur, next) counts normalize to
    row-stochastic probabilities. One shuffle on user_id for the
    window, then an aggregation on the 5×5 type matrix — the heavy
    stage is the window sort, which partitions freely by user. The
    normalizing SUM runs over the tiny aggregated matrix (|types|²
    rows), so its unpartitioned window is a constant-size frame at any
    input scale. Integer-over-integer division is deterministic across
    engines (both divide the same exact longs).
    """
    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("cur_type"),
            F.lead("event_type").over(w).alias("next_type"),
        )
        .filter(F.col("next_type").isNotNull())
        .groupBy("cur_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    norm = Window.partitionBy("cur_type")
    return pairs.select(
        "cur_type",
        "next_type",
        "n_pairs",
        (F.col("n_pairs").cast("double") / F.sum("n_pairs").over(norm)).alias("prob"),
    )


# Past this many shuffle partitions, _distributed_ntile swaps its
# literal (pid → offset) create_map for a broadcast-joined offset frame:
# janino rejects methods over 64 KB of bytecode and each literal pair
# costs constants + branch code, so the map literal has a hard codegen
# ceiling at roughly a few thousand pairs — while the cluster posture
# session.py documents (spark.sql.shuffle.partitions and
# spark.sql.adaptive.coalescePartitions.initialPartitionNum sized to
# shuffle bytes) runs 1e5-1e6 range partitions. 512 stays an order of
# magnitude under the cliff while keeping every test/local shape on the
# no-join fast path.
_NTILE_MAP_LITERAL_MAX = 512


def _distributed_ntile(
    df: DataFrame, order_cols: list, n_tiles: int, score_name: str
) -> DataFrame:
    """Exact NTILE over a total order WITHOUT a single-task global
    window — the two-phase distributed ranking (TeraSort shape):
    range-partition on the order columns, per-partition row_number,
    then add each partition's cumulative offset and map the global
    rank to its NTILE bucket with the exact quota formula (first
    n mod t tiles get ⌈n/t⌉ rows, the rest ⌊n/t⌋ — bit-identical to
    the window function's assignment for a TOTAL order).

    The range-partitioned frame is eagerly materialized before
    anything reads it: the partition-size offsets must describe the
    SAME physical partitioning the row_number window later sees, and
    repartitionByRange re-samples its boundaries per execution — an
    unmaterialized frame could split differently between the offsets
    job and the final query, silently corrupting ranks. The collected
    per-partition sizes are bounded by the shuffle-partition count,
    never by data.
    """
    keyed = materialize(df.repartitionByRange(*order_cols))
    pid = keyed.withColumn("_pid", F.spark_partition_id())
    sizes = {
        r["_pid"]: r["n"]
        for r in pid.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n = sum(sizes.values())
    offsets, acc = {}, 0
    for p in sorted(sizes):
        offsets[p] = acc
        acc += sizes[p]
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    if len(offsets) <= _NTILE_MAP_LITERAL_MAX:
        # Small partition counts: a literal (pid → offset) map keeps the
        # offset lookup inside the same whole-stage-codegen'd projection
        # as the row_number — no join, no extra exchange.
        off_map = F.create_map(
            *[x for p in sorted(offsets) for x in (F.lit(p), F.lit(offsets[p]))]
        )
        rank = (F.row_number().over(w) + off_map[F.col("_pid")]).cast("long")
        ranked = pid.withColumn("_rn_global", rank)
    else:
        # Cluster posture (spark.sql.shuffle.partitions ~1e5-1e6 range
        # partitions): one literal pair per partition would be a
        # multi-MB expression past janino's 64 KB method / constant-pool
        # limits — the same codegen cliff the kmeans literal-codebook
        # note documents. Broadcast-join a tiny (pid, offset) frame
        # instead: the build side is bounded by the partition COUNT
        # (kilobytes per thousand partitions), never by data, and the
        # window's partitioning is untouched (the join adds no
        # exchange on the ranked side).
        spark = df.sparkSession
        off_df = spark.createDataFrame(
            [(int(p), int(offsets[p])) for p in sorted(offsets)],
            "_pid int, _pid_offset long",
        )
        ranked = (
            pid.withColumn("_rn_local", F.row_number().over(w))
            .join(F.broadcast(off_df), "_pid")
            .withColumn(
                "_rn_global",
                (F.col("_rn_local") + F.col("_pid_offset")).cast("long"),
            )
        )
    q, r = divmod(n, n_tiles)
    if q == 0:
        tile_col = F.col("_rn_global")  # n < n_tiles: tile i = row i
    else:
        b = (q + 1) * r  # rows covered by the ⌈n/t⌉-sized leading tiles
        # exact integer ceilings: ceil(a/d) = (a + d - 1) div d
        tile_col = F.expr(
            f"CASE WHEN _rn_global <= {b} THEN (_rn_global + {q}) DIV {q + 1} "
            f"ELSE {r} + (_rn_global - {b} + {q - 1}) DIV {q} END"
        )
    return ranked.select("user_id", tile_col.cast("int").alias(score_name))


_RFM_ORACLE = f"""
WITH anchor AS (SELECT CAST(MAX(ts) AS DATE) AS anchor_day FROM events),
purchases AS (
  SELECT user_id,
         CAST(DATEDIFF('day', CAST(MAX(ts) AS DATE), (SELECT anchor_day FROM anchor)) AS BIGINT) AS recency_days,
         COUNT(*) AS frequency,
         {sql_dsum("value", 2)} AS monetary
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id
)
SELECT user_id, recency_days, frequency, monetary,
       NTILE(4) OVER (ORDER BY recency_days ASC, user_id) AS r_score,
       NTILE(4) OVER (ORDER BY frequency DESC, user_id) AS f_score,
       NTILE(4) OVER (ORDER BY monetary DESC, user_id) AS m_score
FROM purchases
"""


@register(
    "events_rfm_segmentation",
    oracle=_RFM_ORACLE,
    tags=("behavior", "rfm", "segmentation"),
)
def events_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) quartile segmentation of
    purchasing users.

    Per-user purchase stats reduce in ONE keyed aggregation (recency
    anchored to the corpus max-ts day so results are data-deterministic,
    monetary as an exact decimal sum). The three quartile scores are
    exact global NTILE(4) ranks with user_id tie-breaks (a total order,
    identical in both engines) — but NOT computed with unpartitioned
    window sorts: the per-user frame this ranks grows with users
    (~10⁹–10¹⁰ at the 100 TB posture), and a global window funnels it
    through one task three times. Each score instead uses
    _distributed_ntile: range-partition on the order key (parallel
    sort), per-partition row_number plus cumulative partition offsets
    (collected sizes are bounded by the partition count), and the exact
    NTILE quota formula on the global rank — bit-identical to the
    oracle's window NTILE, scalable like a sort.
    """
    ev = table(spark, sf_dir, "events")
    anchor = ev.agg(F.to_date(F.max("ts")).alias("anchor_day"))
    purchases = materialize(
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.to_date(F.max("ts")).alias("last_day"),
            F.count(F.lit(1)).alias("frequency"),
            dsum(F.col("value"), 2).alias("monetary"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "user_id",
            F.datediff("anchor_day", "last_day").cast("long").alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    r = _distributed_ntile(
        purchases.select("user_id", "recency_days"),
        [F.asc("recency_days"), F.asc("user_id")],
        4,
        "r_score",
    )
    f = _distributed_ntile(
        purchases.select("user_id", "frequency"),
        [F.desc("frequency"), F.asc("user_id")],
        4,
        "f_score",
    )
    m = _distributed_ntile(
        purchases.select("user_id", "monetary"),
        [F.desc("monetary"), F.asc("user_id")],
        4,
        "m_score",
    )
    return purchases.join(r, "user_id").join(f, "user_id").join(m, "user_id")


@register(
    "events_point_in_time_enrich",
    oracle="""
WITH u AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN event_type = 'signup' THEN value END AS dim_value
  FROM events
  WHERE event_type IN ('signup', 'purchase')
),
carried AS (
  SELECT user_id, ts, event_id, event_type,
         LAST_VALUE(dim_value IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dim_value_at
  FROM u
)
SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
       dim_value_at, dim_value_at IS NOT NULL AS has_dim
FROM carried
WHERE event_type = 'purchase'
""",
    tags=("behavior", "scd2", "point-in-time", "event-time"),
)
def events_point_in_time_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time enrichment against the SCD2 dimension: each
    purchase sees the signup-version value in effect at its timestamp.

    This CONSUMES the versioned history scd2_user_value_history
    (plans/etl_ops.py) BUILDS. The naive form is a per-key range join
    (user_id equal AND from <= ts < to); the scalable form used here
    merges dimension-change rows and fact rows into ONE (ts, event_id)-
    ordered stream per user and carries the last non-null dimension
    value forward — a single shuffle on user_id, no join, O(1) state
    per key, immune to version-count skew. The oracle states the same
    merge-sorted semantics with LAST_VALUE IGNORE NULLS, so effective-
    from boundaries (a signup and purchase in the same microsecond tie-
    broken by event_id) are encoded identically in both engines.
    Purchases before a user's first signup keep NULL (has_dim=false) —
    the left-outer semantics of the range-join form, for free.
    """
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("signup", "purchase"))
        .select(
            "user_id",
            "ts",
            "event_id",
            "event_type",
            F.when(F.col("event_type") == "signup", F.col("value")).alias("dim_value"),
        )
    )
    w = _running_per_user()
    carried = ev.withColumn(
        "dim_value_at", F.last("dim_value", ignorenulls=True).over(w)
    )
    return carried.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "dim_value_at",
        F.col("dim_value_at").isNotNull().alias("has_dim"),
    )


# Salt fan-out floor for the skewed aggregation: the actual fan-out is
# DERIVED from the session's parallelism (_agg_salts below): a constant
# 16 would leave a 1000-core cluster 98% idle during phase 1's hot-key
# reduction. The floor keeps tiny test
# sessions on a stable multi-salt shape.
_AGG_SALT_MIN = 16


def _agg_salts(spark: SparkSession) -> int:
    """Sub-keys per hot key = max(16, defaultParallelism): the goal of
    aggregation salting is REDUCER OCCUPANCY, so the right size is the
    cluster's core count, not the data (per-task load N/(keys·salts)
    then shrinks as the cluster grows, exactly like map tasks). Salting
    an aggregation — unlike the cell-pair JOIN salts in plans/dedup.py
    — cannot change results at any value: phase-1 partials are exact
    long partial sums and counts, and their phase-2 merge is
    order-independent, so the salt count is pure fan-out, derivable
    with no oracle mirror."""
    return max(_AGG_SALT_MIN, spark.sparkContext.defaultParallelism)


@register(
    "agg_salted_skew",
    oracle=f"""
SELECT l_returnflag, COUNT(*) AS n_rows,
       {sql_dsum("l_extendedprice", 2)} AS sum_price
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("aggregation", "skew", "salting"),
)
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over a pathologically skewed key.

    l_returnflag has 3 values over the whole lineitem table — a direct
    groupBy funnels everything through 3 reducers. Phase 1 aggregates
    on (key, salt) where salt = pmod(l_orderkey, _agg_salts(spark))
    (deterministic — no rand(), results reproducible), spreading each
    hot key over one sub-key per session core (parallelism-derived, see
    _agg_salts); phase 2 merges the 3·salts partial rows. Partial sums are
    dsum's long partials until the final recombination, so the result is
    bit-identical to the oracle's single-phase sum regardless of merge
    order. This is the aggregation-side counterpart of join_salted
    (plans/extended_ops.py): same pattern Spark's AQE cannot apply for
    you, because a low-cardinality groupBy key is skew BY DESIGN, not a
    runtime anomaly.
    """
    li = table(spark, sf_dir, "lineitem").select("l_returnflag", "l_orderkey", "l_extendedprice")
    partial = (
        li.withColumn("salt", F.pmod(F.col("l_orderkey"), F.lit(_agg_salts(spark))))
        .groupBy("l_returnflag", "salt")
        .agg(
            F.count(F.lit(1)).alias("pn"),
            *dsum_parts(F.col("l_extendedprice"), 2, "p"),
        )
    )
    return partial.groupBy("l_returnflag").agg(
        F.sum("pn").alias("n_rows"),
        dsum_from_parts(F.sum("p_hi"), F.sum("p_lo"), 2).alias("sum_price"),
    )


@register(
    "events_rolling_active_users",
    oracle="""
WITH pairs AS (
  SELECT DISTINCT DATE_TRUNC('day', ts) AS day, user_id FROM events
),
days AS (SELECT DISTINCT day FROM pairs),
fanned AS (
  SELECT UNNEST(GENERATE_SERIES(p.day, p.day + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS report_day,
         p.day, p.user_id
  FROM pairs p
),
rolled AS (
  SELECT f.report_day, COUNT(DISTINCT f.user_id) AS wau_users,
         COUNT(DISTINCT CASE WHEN f.day = f.report_day THEN f.user_id END) AS dau_users
  FROM fanned f JOIN days d ON f.report_day = d.day
  GROUP BY f.report_day
)
SELECT CAST(report_day AS TIMESTAMP) AS report_day, dau_users, wau_users,
       CAST(dau_users AS DOUBLE) / wau_users AS stickiness
FROM rolled
""",
    tags=("behavior", "timeseries", "distinct", "event-time"),
)
def events_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users (DAU / WAU / stickiness).

    Distinct-count over a sliding window has no window-function form
    (COUNT(DISTINCT) OVER RANGE is unsupported in both engines, and a
    range join is a skew trap). The scalable rewrite: reduce to
    distinct (day, user) pairs — the ONLY pass over raw events — then
    explode each pair to the 7 report days it contributes to (bounded
    ×7 fan-out of an already-tiny frame) and aggregate with an
    equi-shuffle on report_day. DAU rides along as a conditional
    distinct on the same aggregation; stickiness = DAU/WAU is the
    usual product-health ratio. Report days are restricted to observed
    days, so every window is fully defined by data. At 100 TB the
    (day, user) pre-aggregation is cardinality-bounded (users×days),
    and nothing downstream ever touches raw events again.
    """
    ev = table(spark, sf_dir, "events")
    # shared by the observed-days list and the fan-out side
    pairs = share(
        ev.select(F.date_trunc("day", "ts").alias("day"), "user_id").distinct()
    )
    days = pairs.select("day").distinct().withColumnRenamed("day", "report_day")
    fanned = pairs.withColumn(
        "report_day",
        F.explode(
            F.sequence(
                F.col("day"),
                F.col("day") + F.expr("INTERVAL 6 DAYS"),
                F.expr("INTERVAL 1 DAY"),
            )
        ),
    )
    rolled = (
        fanned.join(F.broadcast(days), "report_day")
        .groupBy("report_day")
        .agg(
            F.count_distinct(
                F.when(F.col("day") == F.col("report_day"), F.col("user_id"))
            ).alias("dau_users"),
            F.count_distinct("user_id").alias("wau_users"),
        )
    )
    return rolled.select(
        "report_day",
        "dau_users",
        "wau_users",
        (F.col("dau_users").cast("double") / F.col("wau_users")).alias("stickiness"),
    )
