"""Warehouse-maintenance ETL operators: MERGE/upsert and SCD type-2
history — the mutation patterns a star-schema pipeline (the
reference's output model, /root/reference/Readme.MD:189-211) needs
once it runs continuously instead of overwrite-per-run.

Plain Spark-on-parquet has no MERGE INTO (that's a table-format
feature); the engine-level pattern is the same one Delta/Iceberg
compile to: key-join the change set against the target and resolve
per-column. Expressed here declaratively so it stays one shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import share, table
from ..functions.exact import (
    dsum, dsum_from_parts, dsum_parts, roundk, sql_dsum, sql_dsum_over, sql_roundk,
)
from ..registry import register


@register(
    "merge_upsert_orders",
    oracle=f"""
WITH changes AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         o_totalprice + 100.0 AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT -(o_orderkey + 1), o_custkey, 'N', o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 1000 = 0
),
merged AS (
  SELECT COALESCE(c.o_orderkey, t.o_orderkey) AS o_orderkey,
         COALESCE(c.o_orderstatus, t.o_orderstatus) AS o_orderstatus,
         COALESCE(c.o_totalprice, t.o_totalprice) AS o_totalprice
  FROM orders t FULL OUTER JOIN changes c ON t.o_orderkey = c.o_orderkey
)
SELECT o_orderstatus, COUNT(*) AS n_orders,
       {sql_dsum("o_totalprice", 2)} AS total
FROM merged GROUP BY o_orderstatus
""",
    tags=("merge", "upsert", "etl"),
)
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE emulation: update-if-matched (price bump on every 10th
    key; additive so the arithmetic is exact at 2 dp in both engines), insert-if-not (re-keyed copies as status 'N'), via one full
    outer join on the merge key + per-column COALESCE — the exact plan
    a Delta MERGE compiles to, minus the file rewrite. The post-merge
    aggregate proves content equality with the oracle.

    Scale: one shuffle on the merge key (or zero if both sides are
    bucketed on it); AQE handles the skew a hot merge key introduces.
    """
    orders = table(spark, sf_dir, "orders")
    updates = orders.filter(F.col("o_orderkey") % 10 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + 100.0
    )
    inserts = (
        orders.filter(F.col("o_orderkey") % 1000 == 0)
        # negated re-key: -(k+1) can NEVER collide with the non-negative
        # natural key space at ANY scale — a fixed additive offset such
        # as +1e8 collides once the table passes that many dense
        # keys, fanning out the full-outer join with duplicate
        # merge keys while the oracle agrees on the wrong answer.
        .withColumn("o_orderkey", -(F.col("o_orderkey") + 1))
        .withColumn("o_orderstatus", F.lit("N"))
    )
    changes = updates.unionByName(inserts).select(
        F.col("o_orderkey").alias("c_key"),
        F.col("o_orderstatus").alias("c_status"),
        F.col("o_totalprice").alias("c_price"),
    )
    merged = orders.join(
        changes, F.col("o_orderkey") == F.col("c_key"), "full_outer"
    ).select(
        F.coalesce(F.col("c_key"), F.col("o_orderkey")).alias("o_orderkey"),
        F.coalesce(F.col("c_status"), F.col("o_orderstatus")).alias("o_orderstatus"),
        F.coalesce(F.col("c_price"), F.col("o_totalprice")).alias("o_totalprice"),
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice"), 2).alias("total"),
    )


@register(
    "scd2_user_value_history",
    oracle="""
SELECT user_id, ts AS effective_from,
       LEAD(ts) OVER w AS effective_to,
       value,
       (LEAD(ts) OVER w IS NULL) AS is_current
FROM events
WHERE event_type = 'signup'
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
    tags=("scd2", "window", "etl"),
)
def scd2_user_value_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2: each change event becomes a
    versioned row with [effective_from, effective_to) validity and an
    is_current flag — pure window functions, one shuffle on the
    business key, no self-join. Ties broken by event_id so the history
    is exactly reproducible under any partitioning."""
    ev = table(spark, sf_dir, "events").filter(F.col("event_type") == "signup")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    eff_to = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        F.col("ts").alias("effective_from"),
        eff_to.alias("effective_to"),
        "value",
        eff_to.isNull().alias("is_current"),
    )


@register(
    "observe_pipeline_metrics",
    oracle=f"""
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_priority,
       {sql_dsum("o_totalprice", 2)} AS total_price,
       MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
FROM orders
""",
    tags=("etl", "observe", "metrics"),
)
def observe_pipeline_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass pipeline audit metrics via the Observation API.

    A production sink job must emit row counts / null counts / control
    totals WITHOUT a second scan of the input. ``df.observe`` attaches
    accumulator-backed aggregates to the frame: the metrics materialize
    as a side effect of the one writing action (here the noop sink
    standing in for the real writer). The returned one-row frame is the
    audit record a pipeline would log; the oracle recomputes the same
    metrics relationally, proving the observed values are exact — not
    sampled — at any scale (accumulators merge per-task, no extra
    shuffle, no second pass).
    """
    from pyspark.sql import Observation

    orders = table(spark, sf_dir, "orders")
    obs = Observation("orders_audit")
    observed = orders.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("o_orderpriority").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_null_priority"),
        dsum(F.col("o_totalprice"), 2).alias("total_price"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [
            (
                int(m["n_rows"]),
                int(m["n_null_priority"]),
                float(m["total_price"]),
                int(m["min_key"]),
                int(m["max_key"]),
            )
        ],
        "n_rows bigint, n_null_priority bigint, total_price double, min_key bigint, max_key bigint",
    )


@register(
    "table_diff_snapshot",
    oracle=f"""
WITH new_snap AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 100.0 ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 97 <> 0
  UNION ALL
  SELECT -(o_orderkey + 1), o_totalprice FROM orders WHERE o_orderkey % 1000 = 0
),
diff AS (
  SELECT CASE WHEN o.o_orderkey IS NULL THEN 'added'
              WHEN n.o_orderkey IS NULL THEN 'deleted'
              WHEN o.o_totalprice <> n.o_totalprice THEN 'changed'
              ELSE 'unchanged' END AS status,
         o.o_totalprice AS old_price, n.o_totalprice AS new_price
  FROM orders o FULL OUTER JOIN new_snap n ON o.o_orderkey = n.o_orderkey
)
SELECT status, COUNT(*) AS n_rows,
       {sql_dsum("COALESCE(old_price, 0)", 2)} AS sum_old,
       {sql_dsum("COALESCE(new_price, 0)", 2)} AS sum_new
FROM diff GROUP BY status
""",
    tags=("cdc", "diff", "etl"),
)
def table_diff_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (CDC derivation): classify every key across two
    table versions as added / deleted / changed / unchanged.

    The new snapshot is derived deterministically from orders (every
    97th key deleted, every 10th price-bumped, every 1000th cloned as
    a new key), then ONE full outer join on the key produces the
    change classification — the shape a CDC extractor or a
    snapshot-reconciliation audit runs nightly. Values compare with
    plain <> (exact decimals; the +100.0 bump is exact at 2 dp). One
    shuffle on the key; per-status decimal sums make the audit totals
    engine-exact. At 100 TB both snapshots bucket on the key and the
    join is shuffle-free.
    """
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    new_snap = (
        orders.filter(F.col("o_orderkey") % 97 != 0)
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 10 == 0, F.col("o_totalprice") + 100.0)
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
        .unionByName(
            orders.filter(F.col("o_orderkey") % 1000 == 0).select(
                (-(F.col("o_orderkey") + 1)).alias("o_orderkey"), "o_totalprice"  # collision-free re-key (see merge_upsert_orders)
            )
        )
    )
    o = orders.select(
        F.col("o_orderkey").alias("k_old"), F.col("o_totalprice").alias("old_price")
    )
    n = new_snap.select(
        F.col("o_orderkey").alias("k_new"), F.col("o_totalprice").alias("new_price")
    )
    diff = o.join(n, F.col("k_old") == F.col("k_new"), "full_outer").select(
        F.when(F.col("k_old").isNull(), "added")
        .when(F.col("k_new").isNull(), "deleted")
        .when(F.col("old_price") != F.col("new_price"), "changed")
        .otherwise("unchanged")
        .alias("status"),
        "old_price",
        "new_price",
    )
    return diff.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum(F.coalesce(F.col("old_price"), F.lit(0.0)), 2).alias("sum_old"),
        dsum(F.coalesce(F.col("new_price"), F.lit(0.0)), 2).alias("sum_new"),
    )


@register(
    "orders_seasonality_mom_yoy",
    oracle=f"""
WITH monthly AS (
  SELECT CAST(DATE_TRUNC('month', CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month,
         COUNT(*) AS n_orders,
         {sql_dsum("o_totalprice", 2)} AS revenue
  FROM orders GROUP BY 1
)
SELECT month, n_orders, revenue,
       MAX(revenue) OVER wm AS prev_month_revenue,
       MAX(revenue) OVER wy AS prev_year_revenue,
       {sql_roundk("revenue / MAX(revenue) OVER wm - 1.0", 6)} AS mom_growth,
       {sql_roundk("revenue / MAX(revenue) OVER wy - 1.0", 6)} AS yoy_growth
FROM (SELECT *, YEAR(month) * 12 + MONTH(month) AS month_num FROM monthly)
WINDOW wm AS (ORDER BY month_num RANGE BETWEEN 1 PRECEDING AND 1 PRECEDING),
       wy AS (ORDER BY month_num RANGE BETWEEN 12 PRECEDING AND 12 PRECEDING)
""",
    tags=("timeseries", "seasonality", "reporting"),
)
def orders_seasonality_mom_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue with month-over-month and year-over-year growth.

    The reporting staple over the star schema: one aggregation to the
    month grain (exact decimal revenue), then CALENDAR offsets via
    RANGE frames over an integer month number — not LAG row offsets,
    which silently compare the wrong months whenever any calendar month
    has zero orders (a gap makes LAG(...,12) land 12 PRESENT rows back,
    not the same month last year; both engines would agree on the wrong
    answer). MAX over a [k PRECEDING, k PRECEDING] RANGE frame returns
    exactly the one month month_num−k if present, else NULL. The window
    is unpartitioned by definition (a global monthly series) but runs
    over |months| rows — constant at any input scale. Growth ratios
    divide identical doubles, rounded 6dp.
    """
    orders = table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("month")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice"), 2).alias("revenue"),
    ).withColumn("month_num", F.year("month") * 12 + F.month("month"))
    wm = Window.orderBy("month_num").rangeBetween(-1, -1)
    wy = Window.orderBy("month_num").rangeBetween(-12, -12)
    prev_m = F.max("revenue").over(wm)
    prev_y = F.max("revenue").over(wy)
    return monthly.select(
        "month",
        "n_orders",
        "revenue",
        prev_m.alias("prev_month_revenue"),
        prev_y.alias("prev_year_revenue"),
        # roundk: growth ratios are raw computed doubles — the
        # divergent cross-engine ROUND class (functions/exact.roundk).
        roundk(F.col("revenue") / prev_m - 1.0, 6).alias("mom_growth"),
        roundk(F.col("revenue") / prev_y - 1.0, 6).alias("yoy_growth"),
    )


@register(
    "top_parts_pareto",
    oracle=f"""
WITH per_part AS (
  SELECT l_partkey, {sql_dsum("l_extendedprice", 2)} AS revenue
  FROM lineitem GROUP BY l_partkey
),
tot AS (
  SELECT {sql_dsum("revenue", 2)} AS total_revenue, CAST(COUNT(*) AS BIGINT) AS n_parts
  FROM per_part
),
top AS (SELECT l_partkey, revenue FROM per_part
        ORDER BY revenue DESC, l_partkey LIMIT 100),
ranked AS (
  SELECT l_partkey, revenue,
         ROW_NUMBER() OVER w AS rnk,
         {sql_dsum_over("revenue", 2, "(w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")}
           AS cum_revenue
  FROM top
  WINDOW w AS (ORDER BY revenue DESC, l_partkey)
)
SELECT rnk, l_partkey, revenue,
       {sql_roundk("cum_revenue / total_revenue", 6)} AS cum_share,
       CAST(rnk AS DOUBLE) / n_parts <= 0.2 AS in_top20pct
FROM ranked CROSS JOIN tot
""",
    tags=("reporting", "pareto", "window"),
)
def top_parts_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto (80/20) revenue-concentration analysis: parts ranked by
    revenue with cumulative share of total.

    Data-sized work is keyed aggregation (per-part exact revenue, kept
    as dsum's long partials); the head is then selected by a
    DISTRIBUTED top-100 (TakeOrderedAndProject) and the totals by a
    1-row aggregate, so the ranking/cumulative window runs over ≤100
    rows — NOT over the full per-part frame, which grows linearly with
    SF and would funnel into a single unpartitioned-window task. The
    total and the cumulative revenue re-sum the per-part partials, so
    both are exact decimal sums, independent of summation order;
    in_top20pct flags the Pareto head.
    """
    li = table(spark, sf_dir, "lineitem")
    # shared by the 1-row totals and the distributed top-100
    per_part = share(
        li.groupBy("l_partkey")
        .agg(*dsum_parts(F.col("l_extendedprice"), 2, "rev"))
        .withColumn("revenue", dsum_from_parts(F.col("rev_hi"), F.col("rev_lo"), 2))
    )
    tot = per_part.agg(
        dsum_from_parts(F.sum("rev_hi"), F.sum("rev_lo"), 2).alias("total_revenue"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    top = per_part.orderBy(F.desc("revenue"), F.asc("l_partkey")).limit(100)
    w = Window.orderBy(F.desc("revenue"), F.asc("l_partkey"))
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = top.select(
        F.row_number().over(w).alias("rnk"),
        "l_partkey",
        "revenue",
        dsum_from_parts(
            F.sum("rev_hi").over(run), F.sum("rev_lo").over(run), 2
        ).alias("cum_revenue"),
    )
    return ranked.crossJoin(F.broadcast(tot)).select(
        "rnk",
        "l_partkey",
        "revenue",
        roundk(F.col("cum_revenue") / F.col("total_revenue"), 6).alias("cum_share"),
        (F.col("rnk").cast("double") / F.col("n_parts") <= 0.2).alias("in_top20pct"),
    )
