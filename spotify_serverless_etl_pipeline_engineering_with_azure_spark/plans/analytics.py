"""Analytical query surface (SURVEY.md §2.2).

The reference's output is a join-ready star schema produced "for further
analysis" (/root/reference/Readme.MD:3, FK design at
/root/reference/spotifytransform.py:60-61); this module supplies that
analysis surface as idiomatic Spark DataFrame plans, one named query per
operator category, each with an exact DuckDB oracle.

Scale posture (100 TB): every query here is a declarative plan —
filters/projections push into the parquet scan, aggregations are
partial (map-side combine) before the shuffle, bounded dims
(region/nation, and part/supplier at test SFs) are broadcast so the
fact table never shuffles for enrichment joins, and top-k is
TakeOrderedAndProject (no global sort materialization). AQE handles
skew and runtime partition coalescing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import share, table
from ..functions.exact import (
    davg, dsum, dsum_over, roundk, sql_davg, sql_dsum, sql_dsum_over, sql_roundk,
)
from ..registry import register
from ..streaming.pipeline import SQL_SESSIONS, WINDOWED_COUNTS_SQL, windowed_counts

REVENUE = "l_extendedprice * (1 - l_discount)"  # true precision: 4 dp
CHARGE = "l_extendedprice * (1 - l_discount) * (1 + l_tax)"  # 6 dp


def _revenue_col() -> F.Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


# ---------------------------------------------------------------------------
# Aggregation over the fact table (TPC-H Q1 shape)
# ---------------------------------------------------------------------------
@register(
    "q1_pricing_summary",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {sql_dsum("l_quantity", 2)} AS sum_qty,
       {sql_dsum("l_extendedprice", 2)} AS sum_base_price,
       {sql_dsum(REVENUE, 6)} AS sum_disc_price,
       {sql_dsum(CHARGE, 8)} AS sum_charge,
       {sql_davg("l_quantity", 2)} AS avg_qty,
       {sql_davg("l_extendedprice", 2)} AS avg_price,
       {sql_davg("l_discount", 2)} AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
    tags=("agg", "filter"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-scan grouped aggregation with arithmetic expressions.

    Partial aggregation happens map-side; only 6 groups cross the
    shuffle regardless of fact-table size.
    """
    li = table(spark, sf_dir, "lineitem")
    charge = _revenue_col() * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity"), 2).alias("sum_qty"),
            dsum(F.col("l_extendedprice"), 2).alias("sum_base_price"),
            dsum(_revenue_col(), 6).alias("sum_disc_price"),
            dsum(charge, 8).alias("sum_charge"),
            davg(F.col("l_quantity"), 2).alias("avg_qty"),
            davg(F.col("l_extendedprice"), 2).alias("avg_price"),
            davg(F.col("l_discount"), 2).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Multi-join + agg + top-k (TPC-H Q3 shape)
# ---------------------------------------------------------------------------
@register(
    "q3_shipping_priority",
    oracle=f"""
SELECT l_orderkey,
       {sql_dsum(REVENUE, 6)} AS revenue,
       STRFTIME(o_orderdate, '%Y-%m-%d') AS orderdate,
       o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate > TIMESTAMP '1996-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
    tags=("join", "agg", "topk"),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⋈ orders ⋈ lineitem → grouped revenue → top-10.

    The BUILDING-segment restriction is applied EARLY: the filtered
    customer dim prunes orders to ~1/5 BEFORE the lineitem join
    (Catalyst keeps the written join order — joining lineitem⋈orders
    first would shuffle the full orders side and drop 80% of the join
    output afterwards). The final top-k is TakeOrderedAndProject
    (limit pushed into the sort).
    """
    cust = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-03-15").cast("timestamp")
    )
    ord2 = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    return (
        li.join(ord2, li.l_orderkey == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(_revenue_col(), 6).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Six-table join (TPC-H Q5 shape)
# ---------------------------------------------------------------------------
@register(
    "q5_local_supplier_volume",
    oracle=f"""
SELECT n_name, {sql_dsum(REVENUE, 6)} AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'EUROPE'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
""",
    tags=("join", "agg"),
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-table star join with a local-supplier equi-constraint.

    The EUROPE restriction is applied EARLY: the ≤25-row region⋈nation
    broadcast prunes BOTH supplier and customer to the EU nations
    BEFORE any fact join (the local-supplier constraint
    c_nationkey = s_nationkey means a non-EU customer can never match
    an EU supplier, so pre-filtering customer is equivalence-
    preserving), cutting the orders and lineitem join volumes ~5×
    versus region-filtering the full five-way join output at the end.
    region/nation broadcast unconditionally (bounded cardinality at
    any SF); the fact chain shuffles on its join keys once.
    """
    region = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    nation = table(spark, sf_dir, "nation")
    supplier = table(spark, sf_dir, "supplier")
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    eu = nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    supp2 = supplier.join(
        F.broadcast(eu.select("n_nationkey", "n_name")),
        supplier.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", "s_nationkey", "n_name")
    cust2 = cust.join(
        F.broadcast(eu.select(F.col("n_nationkey").alias("cn_key"))),
        cust.c_nationkey == F.col("cn_key"),
    ).select("c_custkey", "c_nationkey")
    ord2 = orders.join(cust2, orders.o_custkey == F.col("c_custkey")).select(
        "o_orderkey", "c_nationkey"
    )
    return (
        li.join(ord2, li.l_orderkey == F.col("o_orderkey"))
        .join(
            supp2,
            (li.l_suppkey == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(dsum(_revenue_col(), 6).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Flagship: top customers by revenue in a region (entry() runs this)
# ---------------------------------------------------------------------------
@register(
    "top_customers_by_revenue",
    oracle=f"""
SELECT c_custkey, c_name, n_name, {sql_dsum(REVENUE, 6)} AS revenue
FROM region
JOIN nation ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE r_name = 'ASIA'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 10
""",
    tags=("join", "agg", "topk", "flagship"),
)
def top_customers_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: region-filtered 5-table join → revenue per customer →
    top 10.

    The ASIA restriction is applied EARLY: the ≤25-row region⋈nation
    broadcast cuts customer to ~1/5 BEFORE the orders join, so the
    o_custkey shuffle, the l_orderkey join output, and the final
    per-customer aggregation shuffle all carry only qualifying rows —
    filtering after the fact joins (Catalyst keeps the written order)
    would move the full facts through two shuffles first and drop 80%
    at the end."""
    region = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = table(spark, sf_dir, "nation")
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    asia_nation = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    cust2 = cust.join(
        F.broadcast(asia_nation), cust.c_nationkey == F.col("n_nationkey")
    ).select("c_custkey", "c_name", "n_name")
    ord2 = orders.join(cust2, orders.o_custkey == cust2.c_custkey).select(
        "o_orderkey", "c_custkey", "c_name", "n_name"
    )
    return (
        li.join(ord2, li.l_orderkey == F.col("o_orderkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(_revenue_col(), 6).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Filter / predicate surface
# ---------------------------------------------------------------------------
@register(
    "filter_predicates",
    oracle="""
SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
FROM part
WHERE p_size BETWEEN 10 AND 30
  AND p_type IN ('ECONOMY', 'PROMO')
  AND p_name LIKE '%ge%'
  AND p_brand <> 'Brand#1'
  AND NOT (p_retailprice < 900.0)
""",
    tags=("filter",),
)
def filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BETWEEN / IN / LIKE / <> / NOT — all pushed to the parquet scan."""
    p = table(spark, sf_dir, "part")
    return p.filter(
        F.col("p_size").between(10, 30)
        & F.col("p_type").isin("ECONOMY", "PROMO")
        & F.col("p_name").like("%ge%")
        & (F.col("p_brand") != "Brand#1")
        & ~(F.col("p_retailprice") < 900.0)
    ).select("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")


# ---------------------------------------------------------------------------
# Join variants
# ---------------------------------------------------------------------------
@register(
    "join_left_outer",
    oracle=f"""
SELECT c_custkey,
       COUNT(o_orderkey) AS n_orders,
       {sql_dsum("o_totalprice", 2)} AS total_spent
FROM customer
LEFT JOIN orders ON o_custkey = c_custkey
GROUP BY c_custkey
""",
    tags=("join", "agg"),
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with zero orders."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            dsum(F.col("o_totalprice"), 2).alias("total_spent"),
        )
    )


@register(
    "join_semi",
    oracle="""
SELECT c_custkey, c_name
FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
""",
    tags=("join",),
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers holding a >400k order."""
    cust = table(spark, sf_dir, "customer")
    big = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000.0)
    return cust.join(big, cust.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_anti",
    oracle="""
SELECT c_custkey, c_nationkey
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""",
    tags=("join",),
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no orders."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_nationkey"
    )


@register(
    "join_broadcast_enrich",
    oracle=f"""
SELECT p_brand, COUNT(*) AS n_items, {sql_dsum(REVENUE, 6)} AS revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
WHERE s_acctbal > 0.0
GROUP BY p_brand
""",
    tags=("join", "agg", "broadcast"),
)
def join_broadcast_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-table enrichment against two UN-HINTED dimensions.

    part and supplier grow linearly with SF, so no broadcast is forced
    (a forced hint would OOM executors once a dim outgrows memory): at
    test SF AQE broadcasts both and the fact never shuffles; at the
    100 TB posture the planner degrades honestly to shuffle joins on
    l_partkey/l_suppkey. Only the bounded region/nation dimensions get
    hand-written ``F.broadcast`` hints.
    The deterministic exchange is the 25-group aggregation.
    """
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    supp = table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 0.0)
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(_revenue_col(), 6).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Aggregate variants
# ---------------------------------------------------------------------------
@register(
    "agg_stats",
    oracle=f"""
SELECT c_mktsegment,
       COUNT(*) AS n_customers,
       COUNT(DISTINCT c_nationkey) AS n_nations,
       {sql_dsum("c_acctbal", 2)} AS sum_bal,
       {sql_davg("c_acctbal", 2)} AS avg_bal,
       MIN(c_acctbal) AS min_bal,
       MAX(c_acctbal) AS max_bal
FROM customer
GROUP BY c_mktsegment
""",
    tags=("agg",),
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count / countDistinct / sum / avg / min / max in one pass."""
    cust = table(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.countDistinct("c_nationkey").alias("n_nations"),
        dsum(F.col("c_acctbal"), 2).alias("sum_bal"),
        davg(F.col("c_acctbal"), 2).alias("avg_bal"),
        F.min("c_acctbal").alias("min_bal"),
        F.max("c_acctbal").alias("max_bal"),
    )


@register(
    "agg_rollup",
    oracle=f"""
SELECT r_name, n_name, COUNT(*) AS n_customers, {sql_dsum("c_acctbal", 2)} AS sum_bal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
""",
    tags=("agg", "rollup"),
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (region → nation → grand total)."""
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum(F.col("c_acctbal"), 2).alias("sum_bal"),
        )
    )


@register(
    "agg_cube",
    oracle=f"""
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
       {sql_dsum("o_totalprice", 2)} AS total
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
    tags=("agg", "cube"),
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two categorical dimensions."""
    orders = table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice"), 2).alias("total"),
    )


@register(
    "agg_distinct",
    oracle="""
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       COUNT(DISTINCT o_custkey) AS n_customers,
       COUNT(DISTINCT CAST(o_orderdate AS DATE)) AS n_days
FROM orders
GROUP BY o_orderpriority
""",
    tags=("agg", "distinct"),
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple COUNT(DISTINCT) in one aggregation (expand-based plan)."""
    orders = table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct(F.col("o_orderdate").cast("date")).alias("n_days"),
    )


@register(
    "pivot_returnflag",
    oracle=f"""
SELECT l_linestatus,
       {sql_dsum("CASE WHEN l_returnflag = 'A' THEN l_quantity END", 2)} AS A,
       {sql_dsum("CASE WHEN l_returnflag = 'N' THEN l_quantity END", 2)} AS N,
       {sql_dsum("CASE WHEN l_returnflag = 'R' THEN l_quantity END", 2)} AS R
FROM lineitem
GROUP BY l_linestatus
""",
    tags=("agg", "pivot"),
)
def pivot_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: quantity by line status × return flag."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(dsum(F.col("l_quantity"), 2))
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------
@register(
    "window_rank_topn",
    oracle="""
SELECT * FROM (
  SELECT c_custkey, c_nationkey, c_acctbal,
         ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn,
         RANK()       OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rnk,
         DENSE_RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS drnk
  FROM customer
) WHERE rn <= 3
""",
    tags=("window", "topk"),
)
def window_rank_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window functions: top-3 customers by balance per nation.

    At scale this is the shuffle-once-rank-filter pattern — no global
    sort, one hash partition on the window key.
    """
    cust = table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        cust.select(
            "c_custkey",
            "c_nationkey",
            "c_acctbal",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "window_running_lag",
    oracle=f"""
SELECT o_orderkey, o_custkey,
       {sql_dsum_over("o_totalprice", 2, '''(
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)''')} AS running_spend,
       LAG(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
       CAST(DATEDIFF('day', CAST(LAG(o_orderdate) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DATE),
            CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since_prev
FROM orders
""",
    tags=("window",),
)
def window_running_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum + LAG over an explicit deterministic ordering."""
    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_orderkey",
        "o_custkey",
        dsum_over(F.col("o_totalprice"), 2, run).alias("running_spend"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        ).alias("days_since_prev"),
    )


# ---------------------------------------------------------------------------
# Sort / limit / set ops
# ---------------------------------------------------------------------------
@register(
    "sort_limit_topk",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 15
""",
    tags=("sort", "topk"),
)
def sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k — compiles to TakeOrderedAndProject, not a full sort."""
    orders = table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(15)
    )


@register(
    "set_ops",
    oracle="""
SELECT 'union' AS op, n_nationkey FROM (
  SELECT c_nationkey AS n_nationkey FROM customer WHERE c_acctbal > 9000.0
  UNION
  SELECT s_nationkey FROM supplier WHERE s_acctbal > 9000.0)
UNION ALL
SELECT 'intersect' AS op, n_nationkey FROM (
  SELECT c_nationkey AS n_nationkey FROM customer WHERE c_acctbal > 9000.0
  INTERSECT
  SELECT s_nationkey FROM supplier WHERE s_acctbal > 9000.0)
UNION ALL
SELECT 'except' AS op, n_nationkey FROM (
  SELECT c_nationkey AS n_nationkey FROM customer WHERE c_acctbal > 9000.0
  EXCEPT
  SELECT s_nationkey FROM supplier WHERE s_acctbal > 9000.0)
""",
    tags=("setop",),
)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT (distinct semantics), tagged."""
    # each projection is shared by the three set-operation branches
    cust = share(
        table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000.0)
        .select(F.col("c_nationkey").alias("n_nationkey"))
    )
    supp = share(
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9000.0)
        .select(F.col("s_nationkey").alias("n_nationkey"))
    )
    tagged = lambda op, df: df.select(F.lit(op).alias("op"), "n_nationkey")  # noqa: E731
    return (
        tagged("union", cust.union(supp).distinct())
        .unionByName(tagged("intersect", cust.intersect(supp)))
        .unionByName(tagged("except", cust.subtract(supp)))
    )


# ---------------------------------------------------------------------------
# Scalar function surface
# ---------------------------------------------------------------------------
@register(
    "scalar_string",
    oracle="""
SELECT c_custkey,
       LOWER(c_name) AS name_lower,
       SUBSTR(c_name, 1, 8) AS name_prefix,
       CAST(REGEXP_EXTRACT(c_name, '([0-9]+)$', 1) AS BIGINT) AS name_num,
       STRING_SPLIT(c_name, '#')[2] AS name_suffix,
       c_mktsegment || '-' || CAST(c_nationkey AS VARCHAR) AS seg_nation,
       LENGTH(c_name) AS name_len
FROM customer
WHERE c_custkey % 10 = 0
""",
    tags=("scalar", "string"),
)
def scalar_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function surface: lower/substring/regexp/split/concat/length."""
    cust = table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 10 == 0)
    return cust.select(
        "c_custkey",
        F.lower("c_name").alias("name_lower"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.regexp_extract("c_name", r"([0-9]+)$", 1).cast("long").alias("name_num"),
        F.split(F.col("c_name"), "#").getItem(1).alias("name_suffix"),
        F.concat_ws("-", F.col("c_mktsegment"), F.col("c_nationkey").cast("string")).alias(
            "seg_nation"
        ),
        F.length("c_name").alias("name_len"),
    )


@register(
    "scalar_date",
    oracle="""
SELECT o_orderkey,
       CAST(YEAR(o_orderdate) AS INTEGER) AS order_year,
       CAST(MONTH(o_orderdate) AS INTEGER) AS order_month,
       CAST(QUARTER(o_orderdate) AS INTEGER) AS order_quarter,
       STRFTIME(o_orderdate, '%Y-%m') AS order_ym,
       CAST(DATEDIFF('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since_epoch,
       STRFTIME(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY, '%Y-%m-%d') AS due_date
FROM orders
WHERE o_orderkey % 7 = 0
""",
    tags=("scalar", "date"),
)
def scalar_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function surface: extract / format / diff / add."""
    orders = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 0)
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.quarter("o_orderdate").alias("order_quarter"),
        F.date_format("o_orderdate", "yyyy-MM").alias("order_ym"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")).alias(
            "days_since_epoch"
        ),
        F.date_format(F.date_add(F.col("o_orderdate").cast("date"), 30), "yyyy-MM-dd").alias(
            "due_date"
        ),
    )


@register(
    "scalar_math",
    oracle="""
SELECT l_orderkey, l_linenumber,
       l_extendedprice * l_discount AS disc_amount,
       SQRT(l_quantity) AS qty_sqrt,
       CAST(CEIL(l_extendedprice) AS BIGINT) AS price_ceil,
       CAST(FLOOR(l_extendedprice) AS BIGINT) AS price_floor,
       ABS(l_discount - 0.05) AS disc_dev,
       l_partkey % 7 AS partkey_mod,
       l_discount * l_discount AS disc_sq
FROM lineitem
WHERE l_orderkey % 101 = 0
""",
    tags=("scalar", "math"),
)
def scalar_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math surface — per-row IEEE ops are bit-identical across engines."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 101 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * F.col("l_discount")).alias("disc_amount"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        F.ceil("l_extendedprice").alias("price_ceil"),
        F.floor("l_extendedprice").alias("price_floor"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        (F.col("l_partkey") % 7).alias("partkey_mod"),
        (F.col("l_discount") * F.col("l_discount")).alias("disc_sq"),
    )


@register(
    "scalar_conditional",
    oracle="""
SELECT o_orderkey,
       CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'fulfilled' ELSE 'pending' END AS status_label,
       CASE WHEN o_totalprice >= 300000.0 THEN 'large'
            WHEN o_totalprice >= 100000.0 THEN 'medium'
            ELSE 'small' END AS size_bucket,
       COALESCE(NULLIF(o_orderstatus, 'P'), 'X') AS status_or_x
FROM orders
WHERE o_orderkey % 13 = 0
""",
    tags=("scalar", "conditional"),
)
def scalar_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN / COALESCE / NULLIF."""
    orders = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 13 == 0)
    return orders.select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "O", "open")
        .when(F.col("o_orderstatus") == "F", "fulfilled")
        .otherwise("pending")
        .alias("status_label"),
        F.when(F.col("o_totalprice") >= 300000.0, "large")
        .when(F.col("o_totalprice") >= 100000.0, "medium")
        .otherwise("small")
        .alias("size_bucket"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("X")).alias("status_or_x"),
    )


@register(
    "json_extract_events",
    oracle=f"""
SELECT CAST(JSON_EXTRACT_STRING(props, '$.k') AS INTEGER) AS k_val,
       COUNT(*) AS n,
       {sql_dsum("value", 2)} AS sum_value
FROM events
GROUP BY 1
""",
    tags=("scalar", "json"),
)
def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from a string column (S4 generalization)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.select(
            F.get_json_object("props", "$.k").cast("int").alias("k_val"), F.col("value")
        )
        .groupBy("k_val")
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value"), 2).alias("sum_value"))
    )


@register(
    "array_ops_embeddings",
    oracle=f"""
SELECT vec_id,
       CAST(LEN(embedding) AS INTEGER) AS dim,
       CAST(embedding[1] AS DOUBLE) AS first_component,
       {sql_roundk('''SQRT(LIST_REDUCE(LIST_PREPEND(CAST(0.0 AS DOUBLE),
             LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
             (a, b) -> a + b))''', 6)} AS l2_norm
FROM embeddings
WHERE vec_id % 5 = 0
""",
    tags=("scalar", "array"),
)
def array_ops_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array function surface: size / element access / aggregate-fold norm."""
    emb = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 5 == 0)
    sq_sum = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.get("embedding", 0).cast("double").alias("first_component"),
        # roundk: same left-to-right fold as the oracle's LIST_REDUCE,
        # multiply-form round on the shared double (functions/exact.roundk).
        roundk(F.sqrt(sq_sum), 6).alias("l2_norm"),
    )


# ---------------------------------------------------------------------------
# Event-time windows (batch shadows of the streaming ops)
# ---------------------------------------------------------------------------
@register("events_tumbling_window", oracle=WINDOWED_COUNTS_SQL, tags=("window", "event-time"))
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window aggregation: S3's streaming
    windowed_counts run as a batch query (a batch plan drops the
    watermark)."""
    return windowed_counts(table(spark, sf_dir, "events"))


@register(
    "events_sessionization",
    oracle=f"""
WITH {SQL_SESSIONS}
SELECT user_id, session_seq, COUNT(*) AS n_events,
       CAST(MIN(ts) AS TIMESTAMP) AS session_start,
       CAST(MAX(ts) AS TIMESTAMP) AS session_end
FROM sessions
GROUP BY user_id, session_seq
""",
    tags=("window", "event-time", "session"),
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization (30-min inactivity gap).

    Batch shadow of streaming session_window; expressed with window
    functions so the oracle semantics match row-for-row. The gap
    predicate compares MICROSECONDS on both engines — whole-second
    truncation on one side would misclassify gaps like 1800.4 s.
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_ts = F.lag("ts").over(w)
    new_session = F.when(
        prev_ts.isNull()
        | ((F.unix_micros("ts") - F.unix_micros(prev_ts)) > 1800 * 1_000_000),
        1,
    ).otherwise(0)
    return (
        ev.select("user_id", "ts", "event_id", new_session.alias("new_session"))
        .select("user_id", "ts", "event_id", F.sum("new_session").over(run).alias("session_seq"))
        .groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )
