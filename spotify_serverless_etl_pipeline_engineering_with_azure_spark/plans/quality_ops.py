"""Data-quality operators: referential-integrity auditing and column
profiling — the checks a pipeline runs BEFORE trusting a 100 TB drop
of upstream data, and after every load of the reference's star schema
(/root/reference/Readme.MD:189-211 plants the FK columns these audits
verify).

Scale posture: integrity checks are anti-join counts (one shuffle per
FK, child side never materializes more than its keys); profiling is a
single full-scan aggregation per table with map-side partial combine —
every statistic is distributive or algebraic except exact distinct,
which is the one deliberate shuffle (the HLL sketch in
plans/sketches.py is its at-scale replacement).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import share, table
from ..functions.exact import roundk, sql_roundk
from ..registry import register

# (relationship label, child table, child FK, parent table, parent key)
_FK_RELATIONS = (
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
)


def _ri_oracle() -> str:
    parts = []
    for label, child, fk, parent, pk in _FK_RELATIONS:
        parts.append(f"""
SELECT '{label}' AS relationship,
       (SELECT COUNT(*) FROM {child}) AS n_child_rows,
       (SELECT COUNT(*) FROM {child}
        WHERE {fk} NOT IN (SELECT {pk} FROM {parent})) AS n_orphans,
       (SELECT COUNT(*) FROM {child}
        WHERE {fk} NOT IN (SELECT {pk} FROM {parent})) = 0 AS integrity_ok""")
    return "\nUNION ALL".join(parts)


@register("dq_referential_integrity", oracle=_ri_oracle(), tags=("quality", "audit", "join"))
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FK audit across the star schema: orphaned child rows per
    relationship (anti-join against the parent key set) next to the
    child row count. A clean load reports 0 orphans everywhere — the
    AUDIT existing (and being cheap enough to run per load) is the
    operator; at 100 TB each check is one anti-join where only parent
    KEYS are built into the hash side, never parent payloads.

    TPC-H keys contain no NULLs, so the anti-join orphan count equals
    the oracle's NOT IN count (with NULLable FKs, NOT IN's three-valued
    logic would differ — the anti-join is the semantics you actually
    want for an audit).
    """
    out: DataFrame | None = None
    for label, child, fk, parent, pk in _FK_RELATIONS:
        c = table(spark, sf_dir, child)
        p = table(spark, sf_dir, parent).select(pk)
        orphans = c.select(fk).join(p, c[fk] == p[pk], "left_anti")
        row = (
            c.agg(F.count(F.lit(1)).alias("n_child_rows"))
            .crossJoin(orphans.agg(F.count(F.lit(1)).alias("n_orphans")))
            .select(
                F.lit(label).alias("relationship"),
                "n_child_rows",
                "n_orphans",
                (F.col("n_orphans") == 0).alias("integrity_ok"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


# Column profile renderers: min/max must serialize identically across
# engines, so each dtype gets a canonical string form — ints/strings
# verbatim, doubles through DECIMAL(18,2) (engine double→string
# formatting differs), timestamps as epoch microseconds.
_PROFILE_COLS = (
    ("o_orderkey", "int"),
    ("o_custkey", "int"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "dec2"),
    ("o_orderdate", "ts"),
    ("o_orderpriority", "str"),
)


def _profile_oracle() -> str:
    parts = []
    for col, kind in _PROFILE_COLS:
        if kind == "dec2":
            mn = f"CAST(CAST(MIN({col}) AS DECIMAL(18,2)) AS VARCHAR)"
            mx = f"CAST(CAST(MAX({col}) AS DECIMAL(18,2)) AS VARCHAR)"
        elif kind == "ts":
            mn = f"CAST(EPOCH_US(CAST(MIN({col}) AS TIMESTAMP)) AS VARCHAR)"
            mx = f"CAST(EPOCH_US(CAST(MAX({col}) AS TIMESTAMP)) AS VARCHAR)"
        else:
            mn, mx = f"CAST(MIN({col}) AS VARCHAR)", f"CAST(MAX({col}) AS VARCHAR)"
        parts.append(f"""
SELECT '{col}' AS column_name,
       COUNT(*) AS n_rows,
       COUNT(*) - COUNT({col}) AS n_nulls,
       COUNT(DISTINCT {col}) AS n_distinct,
       {mn} AS min_value,
       {mx} AS max_value
FROM orders""")
    return "\nUNION ALL".join(parts)


@register("dq_profile_orders", oracle=_profile_oracle(), tags=("quality", "profile", "agg"))
def dq_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiler: row/null/distinct counts and canonicalized
    min/max per column — the schema-drift and data-drift smoke test a
    pipeline runs on every new partition of upstream data.

    One aggregation pass per column over a single cached scan shape;
    every statistic partial-aggregates map-side. Exact COUNT(DISTINCT)
    is the one per-column shuffle — at 100 TB swap in the
    sketch_hll_distinct pattern for the high-cardinality columns.
    """
    orders = table(spark, sf_dir, "orders")
    out: DataFrame | None = None
    for col, kind in _PROFILE_COLS:
        if kind == "dec2":
            mn = F.min(col).cast("decimal(18,2)").cast("string")
            mx = F.max(col).cast("decimal(18,2)").cast("string")
        elif kind == "ts":
            # parquet TIMESTAMP_NTZ → TIMESTAMP under the pinned UTC
            # session, matching the oracle's naive-as-UTC EPOCH_US
            mn = F.unix_micros(F.min(col).cast("timestamp")).cast("string")
            mx = F.unix_micros(F.max(col).cast("timestamp")).cast("string")
        else:
            mn, mx = F.min(col).cast("string"), F.max(col).cast("string")
        row = orders.agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.count(F.lit(1)) - F.count(col)).alias("n_nulls"),
            F.count_distinct(F.col(col)).alias("n_distinct"),
            mn.alias("min_value"),
            mx.alias("max_value"),
        ).select(
            F.lit(col).alias("column_name"),
            "n_rows",
            "n_nulls",
            "n_distinct",
            "min_value",
            "max_value",
        )
        out = row if out is None else out.unionByName(row)
    return out


# Histogram: 10 equal-width bins over [0, 600k) dollars in CENTS —
# integer arithmetic end-to-end so bin edges are exact on both engines
# (double width_bucket-style division can flip a boundary value's bin
# in the last ulp; cents × integer-div cannot).
_HIST_BINS = 10
_HIST_HI_CENTS = 60_000_000


@register(
    "agg_histogram",
    oracle=f"""
SELECT bin,
       bin * {_HIST_HI_CENTS // _HIST_BINS // 100} AS lo_dollars,
       (bin + 1) * {_HIST_HI_CENTS // _HIST_BINS // 100} AS hi_dollars,
       COUNT(*) AS n_orders
FROM (
  SELECT LEAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) * {_HIST_BINS}
               // {_HIST_HI_CENTS}, {_HIST_BINS - 1}) AS bin
  FROM orders
)
GROUP BY bin
""",
    tags=("quality", "profile", "histogram"),
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width value histogram (10 bins over order totals) — the
    distribution-drift profile next to dq_profile_orders' point stats.

    Bucketing runs in integer CENTS (2dp-exact doubles → round → int →
    integer division), so bin assignment is exact and engine-independent
    — the same trick Spark's width_bucket can't guarantee across
    engines at bin boundaries. Map-side: one groupBy over 10 keys.
    """
    orders = table(spark, sf_dir, "orders")
    per_bin_dollars = _HIST_HI_CENTS // _HIST_BINS // 100
    bin_ = F.least(
        F.expr(f"CAST(ROUND(o_totalprice * 100) AS BIGINT) * {_HIST_BINS} div {_HIST_HI_CENTS}"),
        F.lit(_HIST_BINS - 1),
    )
    return (
        orders.select(bin_.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .select(
            "bin",
            (F.col("bin") * per_bin_dollars).alias("lo_dollars"),
            ((F.col("bin") + 1) * per_bin_dollars).alias("hi_dollars"),
            "n_orders",
        )
    )


@register(
    "events_anomaly_zscore",
    oracle=f"""
WITH daily AS (
  SELECT event_type, DATE_TRUNC('day', ts) AS day, COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type,
         CAST(COUNT(*) AS HUGEINT) AS n_days,
         CAST(SUM(n_events) AS HUGEINT) AS s,
         SUM(CAST(n_events AS HUGEINT) * n_events) AS ss
  FROM daily GROUP BY event_type
),
scored AS (
  SELECT d.event_type, d.day, d.n_events,
         st.n_days AS n, st.s AS s, st.ss AS ss,
         st.n_days * d.n_events - st.s AS nx_minus_s
  FROM daily d JOIN stats st ON d.event_type = st.event_type
)
SELECT event_type, CAST(day AS TIMESTAMP) AS day, n_events,
       CASE WHEN n > 1 AND n * ss - s * s > 0 THEN
         {sql_roundk('''CAST(nx_minus_s AS DOUBLE) * SQRT(CAST(n - 1 AS DOUBLE))
               / SQRT(CAST(n AS DOUBLE) * CAST(n * ss - s * s AS DOUBLE))''', 6)}
       END AS zscore,
       (n - 1) * nx_minus_s * nx_minus_s > 4 * n * (n * ss - s * s) AS is_anomaly
FROM scored
""",
    tags=("quality", "anomaly", "event-time"),
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-volume anomaly detection: z-score each (type, day)
    count against its type's mean/stddev, flag |z| > 2.

    The ANOMALY DECISION is computed in pure WIDE-INTEGER arithmetic —
    the sample-variance inequality z² > 4 rearranges to
    (n−1)·(n·x−S)² > 4·n·(n·SS−S²) over the integer daily counts — so
    the flag can never flip on a last-bit float difference between
    engines. The moments are DECIMAL(38,0) on Spark and HUGEINT on
    DuckDB, both exact: SS alone (Σx² ≈ 10²² at 10⁹ events/day over
    10⁴ days) and S² (≈ 10²⁶) overflow int64 at production volumes,
    where non-ANSI Spark would WRAP silently and flip flags with no
    error; every term here stays ≤ ~10³⁰, far inside 38 digits. The
    reported z-score itself is one identical IEEE expression over
    those exact integers, rounded 6dp. Plan: daily counts shuffle on
    (type, day); per-type moment totals are a 5-row aggregate joined
    back by broadcast. Nothing wider than the daily matrix ever moves.
    """
    ev = table(spark, sf_dir, "events")
    wide = "decimal(38,0)"
    # shared by the moment totals and the scored join's probe side
    daily = share(
        ev.groupBy("event_type", F.date_trunc("day", "ts").alias("day")).agg(
            F.count(F.lit(1)).alias("n_events")
        )
    )
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(wide).alias("n"),
        F.sum("n_events").cast(wide).alias("s"),
        F.sum(F.col("n_events").cast(wide) * F.col("n_events")).alias("ss"),
    )
    scored = daily.join(F.broadcast(stats), "event_type").withColumn(
        "nx_minus_s", F.col("n") * F.col("n_events") - F.col("s")
    )
    var_num = F.col("n") * F.col("ss") - F.col("s") * F.col("s")
    # Degenerate guard: a type observed on one day (n=1) or with zero
    # variance hits 0/0 → NaN, whose round-trip rendering differs
    # between engines — emit NULL on both instead.
    zscore = F.when(
        (F.col("n") > 1) & (var_num > 0),
        # roundk: raw computed double (sqrt ratio) — the divergent
        # cross-engine ROUND class (functions/exact.roundk).
        roundk(
            F.col("nx_minus_s").cast("double")
            * F.sqrt((F.col("n") - 1).cast("double"))
            / F.sqrt(F.col("n").cast("double") * var_num.cast("double")),
            6,
        ),
    )
    flag = (F.col("n") - 1) * F.col("nx_minus_s") * F.col("nx_minus_s") > 4 * F.col("n") * var_num
    return scored.select(
        "event_type", "day", "n_events", zscore.alias("zscore"), flag.alias("is_anomaly")
    )


@register(
    "part_name_fingerprint_clusters",
    oracle="""
WITH keyed AS (
  SELECT p_partkey, p_name,
         ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(STRING_SPLIT(LOWER(p_name), ' '))), ' ') AS fkey
  FROM part
)
SELECT fkey, COUNT(*) AS n_rows,
       CAST(COUNT(DISTINCT p_name) AS BIGINT) AS n_variants,
       MIN(p_name) AS canonical_name,
       CAST(MIN(p_partkey) AS BIGINT) AS canonical_key
FROM keyed
GROUP BY fkey
HAVING COUNT(*) > 1
""",
    tags=("quality", "cleaning", "fingerprint"),
)
def part_name_fingerprint_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OpenRefine-style fingerprint clustering of messy names: rows
    whose names normalize to the same key (lowercase, tokenize, dedupe,
    sort) form collision clusters — duplicate entities to reconcile,
    with n_variants counting distinct raw spellings inside each (1 =
    exact duplicates, >1 = spelling/word-order variants).

    The normalization is entirely row-local codegen (split, lower,
    array_distinct, array_sort, array_join) so the only shuffle is the
    groupBy on the fingerprint key; MIN picks the canonical
    representative deterministically. The standard first pass of entity
    resolution on a dimension table — at 100 TB the key cardinality is
    ~|distinct names| and partial aggregation collapses duplicates
    map-side.
    """
    part = table(spark, sf_dir, "part")
    fkey = F.array_join(
        F.array_sort(F.array_distinct(F.split(F.lower(F.col("p_name")), " "))), " "
    )
    return (
        part.select("p_partkey", "p_name", fkey.alias("fkey"))
        .groupBy("fkey")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("p_name").alias("n_variants"),
            F.min("p_name").alias("canonical_name"),
            F.min("p_partkey").alias("canonical_key"),
        )
        .filter(F.col("n_rows") > 1)
    )


@register(
    "events_error_budget_sli",
    oracle=f"""
WITH daily AS (
  SELECT DATE_TRUNC('day', ts) AS day,
         COUNT(*) AS n_total,
         COUNT(*) FILTER (WHERE event_type = 'error') AS n_errors
  FROM events GROUP BY 1
),
rolled AS (
  SELECT day, n_total, n_errors,
         SUM(n_total) OVER w AS n_total_7d,
         SUM(n_errors) OVER w AS n_errors_7d
  FROM daily
  WINDOW w AS (ORDER BY CAST(day AS DATE) - DATE '1970-01-01'
               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT CAST(day AS TIMESTAMP) AS day, n_total, n_errors,
       {sql_roundk("CAST(n_errors AS DOUBLE) / n_total", 6)} AS error_rate,
       {sql_roundk("CAST(n_errors_7d AS DOUBLE) / n_total_7d", 6)} AS error_rate_7d,
       CAST(n_errors_7d AS DOUBLE) / n_total_7d > 0.25 AS budget_burned
FROM rolled
""",
    tags=("quality", "sli", "event-time"),
)
def events_error_budget_sli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRE-style SLI report: daily and rolling-7-day error rates with
    an error-budget flag.

    One keyed aggregation reduces raw events to the days-sized frame
    (conditional count for errors rides the same pass); the 7-day
    rolling sums are a day-number RANGE window over that series —
    RANGE, not ROWS, because a ZERO-event day (a full outage, exactly
    what an error budget must capture) produces no daily row, and a
    ROWS 6-PRECEDING frame would then silently reach back more than 7
    calendar days, diluting the rate. Counts sum as exact integers, so
    the rolling rates divide identical longs in both engines, with the
    budget threshold decided on the SAME division both engines compute.
    At any input scale only the first aggregation touches data.
    """
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum((F.col("event_type") == "error").cast("long")).alias("n_errors"),
    )
    w = Window.orderBy(F.unix_date(F.col("day").cast("date"))).rangeBetween(
        -6, Window.currentRow
    )
    rolled = daily.select(
        "day",
        "n_total",
        "n_errors",
        F.sum("n_total").over(w).alias("n_total_7d"),
        F.sum("n_errors").over(w).alias("n_errors_7d"),
    )
    rate7 = F.col("n_errors_7d").cast("double") / F.col("n_total_7d")
    return rolled.select(
        "day",
        "n_total",
        "n_errors",
        # roundk: k/n ratios hit 7-digit half boundaries
        # systematically, as cume_dist's do.
        roundk(F.col("n_errors").cast("double") / F.col("n_total"), 6).alias("error_rate"),
        roundk(rate7, 6).alias("error_rate_7d"),
        (rate7 > 0.25).alias("budget_burned"),
    )
