"""Extended TPC-H-shaped analytical suite (SURVEY.md §2.2).

The reference emits a join-ready star schema "for further analysis"
(/root/reference/Readme.MD:3; FK design at
/root/reference/spotifytransform.py:60-61). This module is that
analysis surface at full breadth: the canonical TPC-H query shapes
adapted to the driver's synthetic schema (no partsupp table, no
commit/receipt dates — substitutions documented per query), with the
subquery patterns (EXISTS / NOT EXISTS / IN / NOT IN / correlated and
uncorrelated scalar) expressed the way Catalyst wants them —
decorrelated into joins against (usually broadcastable) aggregates.

Scale posture: every scalar subquery becomes a 1-row broadcast; every
correlated aggregate becomes a keyed pre-aggregation joined back (one
shuffle, partial agg map-side); region/nation are always broadcast;
date/brand/size filters sit directly on the scan so parquet min-max
pruning and dictionary filters can skip row groups at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import share, table
from ..functions.exact import (
    davg,
    dsum,
    dsum_from_parts,
    dsum_parts,
    sql_davg,
    sql_dsum,
)
from ..registry import register
from .analytics import _revenue_col

REVENUE = "l_extendedprice * (1 - l_discount)"  # exact at 4 dp


def _ts(s: str) -> F.Column:
    return F.lit(s).cast("timestamp")


# ---------------------------------------------------------------------------
# Q2 shape — correlated scalar MAX subquery (top supplier per nation)
# ---------------------------------------------------------------------------
@register(
    "q2_top_supplier_per_nation",
    oracle="""
SELECT s_suppkey, s_name, n_name, s_acctbal
FROM supplier s JOIN nation ON s_nationkey = n_nationkey
WHERE s_acctbal = (SELECT MAX(s2.s_acctbal) FROM supplier s2
                   WHERE s2.s_nationkey = s.s_nationkey)
""",
    tags=("subquery", "correlated-scalar", "join"),
)
def q2_top_supplier_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (MAX per group), decorrelated as a
    keyed pre-aggregation joined back — the plan Catalyst produces for
    the SQL form, written explicitly. No partsupp table exists in the
    synthetic schema, so the Q2 min-cost-supplier shape runs on
    supplier.s_acctbal."""
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    best = supp.groupBy(F.col("s_nationkey").alias("bn")).agg(
        F.max("s_acctbal").alias("best_bal")
    )
    return (
        supp.join(
            F.broadcast(best),
            (F.col("s_nationkey") == F.col("bn"))
            & (F.col("s_acctbal") == F.col("best_bal")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name", "s_acctbal")
    )


# ---------------------------------------------------------------------------
# Q4 shape — EXISTS semi-join (late shipments per priority)
# ---------------------------------------------------------------------------
@register(
    "q4_order_priority",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01'
  AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey
              AND l.l_shipdate >= o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
""",
    tags=("subquery", "exists", "semi-join"),
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS → LEFT SEMI join with a non-equi residual condition
    (shipment ≥ 60 days after order stands in for the reference
    schema's missing commit/receipt dates)."""
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1997-01-01"))
        & (F.col("o_orderdate") < _ts("1997-04-01"))
    )
    li = table(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


# ---------------------------------------------------------------------------
# Q6 shape — pure scan-filter-aggregate (forecast revenue)
# ---------------------------------------------------------------------------
@register(
    "q6_forecast_revenue",
    oracle=f"""
SELECT {sql_dsum("l_extendedprice * l_discount", 4)} AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24.0
""",
    tags=("agg", "filter", "pushdown"),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical scan-dominated query: every predicate is
    scan-pushable (parquet min-max on l_shipdate prunes whole row
    groups), then a single global decimal-exact sum."""
    li = table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= _ts("1997-01-01"))
        & (F.col("l_shipdate") < _ts("1998-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24.0)
    ).agg(dsum(F.col("l_extendedprice") * F.col("l_discount"), 4).alias("revenue"))


# ---------------------------------------------------------------------------
# Q7 shape — bidirectional nation-pair volume
# ---------------------------------------------------------------------------
@register(
    "q7_volume_shipping",
    oracle=f"""
SELECT supp_nation, cust_nation, l_year, {sql_dsum("volume", 6)} AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(YEAR(l_shipdate) AS INTEGER) AS l_year, {REVENUE} AS volume
  FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
)
GROUP BY supp_nation, cust_nation, l_year
""",
    tags=("join", "agg", "multi-join"),
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five-way join with a disjunctive cross-nation predicate.

    The nation restriction is applied EARLY: only the two qualifying
    nations' rows of the (tiny, broadcast) nation slices attach to
    supplier and customer BEFORE any fact join, so both dim sides — and
    therefore the lineitem and orders shuffles they key — carry ~2/25
    of their rows instead of filtering the full five-way join output at
    the end (Catalyst keeps the written join order; a late dim filter
    would shuffle the full facts first). Only the DISJUNCTIVE pair
    predicate, which needs both sides, stays post-join."""
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between(_ts("1996-01-01"), _ts("1997-12-31"))
    )
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2") | (
        F.col("supp_nation") == "NATION_2"
    ) & (F.col("cust_nation") == "NATION_1")
    supp2 = supp.join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key")).select(
        "s_suppkey", "supp_nation"
    )
    cust2 = cust.join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key")).select(
        "c_custkey", "cust_nation"
    )
    ord2 = orders.join(cust2, F.col("c_custkey") == F.col("o_custkey")).select(
        "o_orderkey", "cust_nation"
    )
    return (
        li.join(supp2, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(ord2, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(pair)
        .select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            _revenue_col().alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dsum(F.col("volume"), 6).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Q8 shape — market share (conditional-agg ratio)
# ---------------------------------------------------------------------------
@register(
    "q8_market_share",
    oracle=f"""
SELECT o_year,
       {sql_dsum("CASE WHEN nation = 'NATION_2' THEN volume ELSE 0 END", 6)}
       / {sql_dsum("volume", 6)} AS mkt_share
FROM (
  SELECT CAST(YEAR(o_orderdate) AS INTEGER) AS o_year, {REVENUE} AS volume,
         n2.n_name AS nation
  FROM part JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
    AND o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
)
GROUP BY o_year
""",
    tags=("join", "agg", "conditional"),
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eight-way join + conditional-aggregate ratio. Both sums are
    decimal-exact, so the final double division is bit-identical.

    The ASIA restriction is applied EARLY: region⋈nation (a ≤25-row
    broadcast) cuts customer to ~1/5 BEFORE the orders join, so the
    o_custkey and l_orderkey shuffles carry only qualifying rows
    instead of region-filtering the full join output last; the
    supplier's nation name likewise attaches to the supplier dim
    before the fact join."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    supp = table(spark, sf_dir, "supplier")
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between(_ts("1996-01-01"), _ts("1997-12-31"))
    )
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_nations = (
        nation.join(
            F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
        ).select("n_nationkey")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    cust2 = cust.join(
        F.broadcast(asia_nations), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey")
    ord2 = orders.join(cust2, F.col("o_custkey") == F.col("c_custkey")).select(
        "o_orderkey", "o_orderdate"
    )
    supp2 = supp.join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key")).select(
        "s_suppkey", "nation"
    )
    joined = (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(supp2, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(ord2, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            _revenue_col().alias("volume"),
            "nation",
        )
    )
    num = dsum(F.when(F.col("nation") == "NATION_2", F.col("volume")).otherwise(0), 6)
    den = dsum(F.col("volume"), 6)
    return joined.groupBy("o_year").agg((num / den).alias("mkt_share"))


# ---------------------------------------------------------------------------
# Q9 shape — product-type profit by nation and year
# ---------------------------------------------------------------------------
@register(
    "q9_product_profit",
    oracle=f"""
SELECT nation, o_year, {sql_dsum("amount", 4)} AS sum_profit
FROM (
  SELECT n_name AS nation, CAST(YEAR(o_orderdate) AS INTEGER) AS o_year,
         {REVENUE} - p_retailprice * l_quantity * 0.1 AS amount
  FROM part JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%gizmo%'
)
GROUP BY nation, o_year
""",
    tags=("join", "agg", "like"),
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit per supplier-nation per year. The synthetic schema has no
    partsupp.ps_supplycost, so cost is modeled as 10% of retail price ×
    quantity — same expression both engines, exact at 4 dp (prices 2 dp
    × integral quantities × 0.1)."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").filter(F.col("p_name").like("%gizmo%"))
    supp = table(spark, sf_dir, "supplier")
    orders = table(spark, sf_dir, "orders")
    nation = table(spark, sf_dir, "nation")
    amount = _revenue_col() - F.col("p_retailprice") * F.col("l_quantity") * 0.1
    return (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(dsum(F.col("amount"), 4).alias("sum_profit"))
    )


# ---------------------------------------------------------------------------
# Q10 shape — returned-item revenue, top 20 customers
# ---------------------------------------------------------------------------
@register(
    "q10_returned_items",
    oracle=f"""
SELECT c_custkey, c_name, {sql_dsum(REVENUE, 6)} AS revenue, c_acctbal, n_name
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
    tags=("join", "agg", "topk"),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue lost to returns per customer, top 20 — join, grouped
    decimal sum, TakeOrderedAndProject."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1997-01-01"))
        & (F.col("o_orderdate") < _ts("1997-04-01"))
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = table(spark, sf_dir, "nation")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(_revenue_col(), 6).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q11 shape — uncorrelated scalar subquery (important parts)
# ---------------------------------------------------------------------------
@register(
    "q11_important_parts",
    oracle=f"""
WITH value_per_part AS (
  SELECT l_partkey, {sql_dsum(REVENUE, 6)} AS part_value
  FROM lineitem GROUP BY l_partkey
)
SELECT l_partkey, part_value
FROM value_per_part
WHERE part_value > (SELECT {sql_dsum(REVENUE, 6)} FROM lineitem) * 0.0006
""",
    tags=("subquery", "scalar", "having"),
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts whose revenue exceeds a fraction of TOTAL revenue — the
    uncorrelated scalar subquery becomes a 1-row broadcast cross join.
    Both the per-part and global sums are decimal-exact, so the
    threshold comparison is deterministic across engines.

    ONE lineitem pass: the per-part aggregation keeps dsum's long
    (hi, lo) partials, and the grand total re-sums those partials
    across parts — long partial sums are associative, so the rollup is
    bit-identical to a direct global dsum (which would otherwise scan
    and aggregate the full fact a second time)."""
    li = table(spark, sf_dir, "lineitem")
    # shared by the threshold and the probe
    per = share(li.groupBy("l_partkey").agg(*dsum_parts(_revenue_col(), 6, "pv")))
    per_part = per.select(
        "l_partkey",
        dsum_from_parts(F.col("pv_hi"), F.col("pv_lo"), 6).alias("part_value"),
    )
    total = (
        per.agg(F.sum("pv_hi").alias("t_hi"), F.sum("pv_lo").alias("t_lo"))
        .select(
            dsum_from_parts(F.col("t_hi"), F.col("t_lo"), 6).alias("total_value")
        )
    )
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("part_value") > F.col("total_value") * 0.0006)
        .select("l_partkey", "part_value")
    )


# ---------------------------------------------------------------------------
# Q13 shape — outer join + two-level aggregation (customer distribution)
# ---------------------------------------------------------------------------
@register(
    "q13_customer_distribution",
    oracle="""
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
""",
    tags=("join", "outer", "agg"),
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join with an extra join-side predicate, then a
    histogram of per-customer order counts (COUNT(col) skips the NULLs
    the outer join introduces)."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# ---------------------------------------------------------------------------
# Q14 shape — promo revenue ratio
# ---------------------------------------------------------------------------
@register(
    "q14_promo_revenue",
    oracle=f"""
SELECT 100.0 * {sql_dsum(f"CASE WHEN p_type = 'PROMO' THEN {REVENUE} ELSE 0 END", 6)}
       / {sql_dsum(REVENUE, 6)} AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01' AND l_shipdate < TIMESTAMP '1997-10-01'
""",
    tags=("join", "agg", "conditional"),
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-aggregate ratio over one shipping month; part side
    broadcasts, the date filter prunes the fact scan."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-09-01"))
        & (F.col("l_shipdate") < _ts("1997-10-01"))
    )
    part = table(spark, sf_dir, "part")
    num = dsum(F.when(F.col("p_type") == "PROMO", _revenue_col()).otherwise(0), 6)
    den = dsum(_revenue_col(), 6)
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .agg((F.lit(100.0) * num / den).alias("promo_revenue"))
    )


# ---------------------------------------------------------------------------
# Q15 shape — top supplier (scalar MAX over a derived table)
# ---------------------------------------------------------------------------
@register(
    "q15_top_supplier",
    oracle=f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no, {sql_dsum(REVENUE, 6)} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
""",
    tags=("subquery", "scalar", "join"),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier(s) hitting the quarter's max revenue."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-01-01"))
        & (F.col("l_shipdate") < _ts("1997-04-01"))
    )
    supp = table(spark, sf_dir, "supplier")
    # shared by the probe and the scalar MAX
    revenue = share(
        li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
            dsum(_revenue_col(), 6).alias("total_revenue")
        )
    )
    # Scalar MAX + equality join (the q2 pattern), NOT rank() over an
    # unpartitioned window: the per-supplier aggregate grows linearly
    # with SF, and a global-order window funnels all of it through one
    # task; the 1-row max broadcasts instead. rank()==1 and equality
    # select the same tied set.
    best = revenue.agg(F.max("total_revenue").alias("best_rev"))
    top = revenue.join(F.broadcast(best), F.col("total_revenue") == F.col("best_rev"))
    return (
        top.join(supp, F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


# ---------------------------------------------------------------------------
# Q16 shape — NOT IN subquery + COUNT DISTINCT
# ---------------------------------------------------------------------------
@register(
    "q16_parts_supplier_cnt",
    oracle="""
SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM part JOIN lineitem ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1' AND p_size IN (1, 9, 14, 23, 36, 45, 49, 3)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
GROUP BY p_brand, p_size
""",
    tags=("subquery", "not-in", "anti-join", "distinct"),
)
def q16_parts_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN → LEFT ANTI join (the exclusion list has no NULLs — keys
    are a non-null PK — so anti-join semantics match NOT IN), then
    COUNT DISTINCT per brand/size.

    The exclusion side is pruned to the join key and NOT force-
    broadcast: negative-balance suppliers are a fixed FRACTION (~8%) of
    a dim that grows linearly with SF — ~8×10⁷ keys at the 100 TB
    posture, past the broadcast cliff. AQE broadcasts it while it is
    small and switches to a shuffled anti-join when it is not."""
    part = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 9, 14, 23, 36, 45, 49, 3)
    )
    li = table(spark, sf_dir, "lineitem")
    bad_supp = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0.0)
        .select("s_suppkey")
    )
    return (
        li.join(
            bad_supp,
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# Q17 shape — correlated AVG subquery (small-quantity revenue)
# ---------------------------------------------------------------------------
@register(
    "q17_small_quantity_revenue",
    oracle=f"""
SELECT {sql_dsum("l_extendedprice", 2)} / 7.0 AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#3'
  AND l_quantity < (SELECT 0.2 * {sql_davg("l2.l_quantity", 2)}
                    FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey)
""",
    tags=("subquery", "correlated-scalar", "agg"),
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated AVG subquery, decorrelated: per-part average quantity
    pre-aggregated once and joined back to the probe rows. The oracle's
    inline alias trick (the subquery returns `0.2 * (...) AS a` via an
    expression) mirrors davg's exact decimal arithmetic.

    The aggregation input is semi-joined to the Brand#3 part keys
    FIRST: only ~1/25 of partkeys are ever consulted after the inner
    join, and Catalyst cannot push that restriction into the
    independent aggregation subtree by itself — without the semi-join
    the per-part pass shuffle-aggregates the full fact into a
    part-cardinality group space for nothing. Per-part averages are
    unchanged (the restriction drops whole partkeys, never rows
    within one). The part side is not force-broadcast — it is a fixed
    fraction of an SF-linear dim; AQE broadcasts while small."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    per_part = (
        li.join(
            part.select(F.col("p_partkey").alias("brand_pk")),
            F.col("l_partkey") == F.col("brand_pk"),
            "left_semi",
        )
        .groupBy(F.col("l_partkey").alias("pk"))
        .agg(davg(F.col("l_quantity"), 2).alias("avg_qty"))
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(per_part, F.col("l_partkey") == F.col("pk"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg((dsum(F.col("l_extendedprice"), 2) / 7.0).alias("avg_yearly"))
    )


# ---------------------------------------------------------------------------
# Q18 shape — IN subquery with HAVING (large-volume customers)
# ---------------------------------------------------------------------------
@register(
    "q18_large_volume_customers",
    oracle=f"""
SELECT c_custkey, c_name, o_orderkey,
       STRFTIME(o_orderdate, '%Y-%m-%d') AS orderdate,
       o_totalprice, {sql_dsum("l_quantity", 2)} AS total_qty
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                     GROUP BY l_orderkey HAVING SUM(l_quantity) > 300.0)
GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
""",
    tags=("subquery", "in", "semi-join", "having"),
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN (grouped HAVING) where the output aggregate IS the HAVING
    aggregate: sum(l_quantity) per order serves both the >300 filter
    and the reported total_qty, so lineitem — the 100 TB fact — is
    scanned and aggregated ONCE, then the tiny qualifying set joins
    orders/customer (broadcast). The textbook semi-join form scans the
    fact twice for identical results; quantities are exact decimals so
    the threshold is stable."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum(F.col("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > 300.0)
    )
    return (
        orders.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Q19 shape — disjunctive multi-predicate join
# ---------------------------------------------------------------------------
@register(
    "q19_disjunctive_revenue",
    oracle=f"""
SELECT {sql_dsum(REVENUE, 6)} AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
       AND l_quantity >= 1.0 AND l_quantity <= 11.0)
   OR (p_brand = 'Brand#7' AND p_size BETWEEN 1 AND 25
       AND l_quantity >= 10.0 AND l_quantity <= 20.0)
   OR (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 35
       AND l_quantity >= 20.0 AND l_quantity <= 30.0)
""",
    tags=("join", "filter", "disjunction"),
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three OR'd brand/size/quantity branches evaluated as a residual
    filter on a broadcast hash join (the equi-key still drives the
    join; only the residual is disjunctive)."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    branch = (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(1, 15)
        & q.between(1.0, 11.0)
    ) | (
        (F.col("p_brand") == "Brand#7")
        & F.col("p_size").between(1, 25)
        & q.between(10.0, 20.0)
    ) | (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 35)
        & q.between(20.0, 30.0)
    )
    return (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .filter(branch)
        .agg(dsum(_revenue_col(), 6).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Q22 shape — NOT EXISTS + scalar AVG (dormant wealthy customers)
# ---------------------------------------------------------------------------
@register(
    "q22_dormant_customers",
    oracle=f"""
SELECT c_nationkey, COUNT(*) AS numcust,
       {sql_dsum("c_acctbal", 2)} AS totacctbal
FROM customer c
WHERE c_acctbal > (SELECT {sql_davg("c2.c_acctbal", 2)}
                   FROM customer c2 WHERE c2.c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderdate >= TIMESTAMP '2001-01-01')
GROUP BY c_nationkey
""",
    tags=("subquery", "not-exists", "anti-join", "scalar"),
)
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Above-average-balance customers with no recent orders: scalar
    AVG broadcast + LEFT ANTI join against the recent-order keys,
    grouped by nation (the synthetic schema has no phone column, so
    nationkey stands in for Q22's country code)."""
    cust = table(spark, sf_dir, "customer")
    recent = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= _ts("2001-01-01")
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        davg(F.col("c_acctbal"), 2).alias("avg_bal")
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum(F.col("c_acctbal"), 2).alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Q12 shape — two-bucket conditional counts per category
# ---------------------------------------------------------------------------
@register(
    "q12_priority_by_linestatus",
    oracle="""
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_linestatus
""",
    tags=("join", "conditional", "agg"),
)
def q12_priority_by_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12's two-bucket conditional count (urgent vs not) per category;
    l_linestatus stands in for the synthetic schema's missing
    l_shipmode. The date filter prunes the fact scan; the categorical
    bucketing is a map-side CASE feeding a partial count."""
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-01-01"))
        & (F.col("l_shipdate") < _ts("1998-01-01"))
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~is_high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# Q20 shape — nested IN subqueries (supplier shortlist)
# ---------------------------------------------------------------------------
@register(
    "q20_promotion_suppliers",
    oracle=f"""
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'SMALL')
    AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY l_suppkey
  HAVING {sql_dsum("l_quantity", 2)} > 400.0
)
""",
    tags=("subquery", "in", "nested"),
)
def q20_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20's nested-IN shape: suppliers who shipped > 400 units of
    SMALL-type parts in 1997 (partsupp availability replaced by shipped
    quantity). Two nested INs decorrelate to two semi-joins — the inner
    against the filtered part dim, the outer against a grouped HAVING
    aggregate. The part side is NOT force-broadcast: SMALL-type parts
    are ~1/6 of a dim that grows linearly with SF (~3×10⁹ keys at the
    100 TB posture — past both the 8 GB broadcast cliff and the 512M
    build-row limit); AQE broadcasts while small, shuffles when not."""
    supp = table(spark, sf_dir, "supplier")
    small = table(spark, sf_dir, "part").filter(F.col("p_type") == "SMALL")
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-01-01"))
        & (F.col("l_shipdate") < _ts("1998-01-01"))
    )
    qualified = (
        li.join(
            small.select("p_partkey"),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .groupBy("l_suppkey")
        .agg(dsum(F.col("l_quantity"), 2).alias("sq"))
        .filter(F.col("sq") > 400.0)
        .select("l_suppkey")
    )
    return supp.join(
        qualified, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
    ).select("s_suppkey", "s_name")


# ---------------------------------------------------------------------------
# Q21 shape — EXISTS + NOT EXISTS on the same correlated table
# ---------------------------------------------------------------------------
@register(
    "q21_sole_returning_supplier",
    oracle="""
SELECT s_name, COUNT(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
WHERE l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 25
""",
    tags=("subquery", "exists", "not-exists", "semi-join", "anti-join"),
)
def q21_sole_returning_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21's signature EXISTS + NOT EXISTS pair over the same correlated
    table: returned lines on multi-supplier orders where NO other
    supplier on the order also returned (returnflag stands in for the
    missing receipt/commit delay). Decorrelated as a semi-join on
    other-supplier lines and an anti-join on other-supplier returns —
    both keyed on the order, so one shuffle each."""
    supp = table(spark, sf_dir, "supplier")
    li = table(spark, sf_dir, "lineitem")
    l1 = li.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_suppkey"
    )
    others = li.select(
        F.col("l_orderkey").alias("o2_key"),
        F.col("l_suppkey").alias("s2_key"),
        F.col("l_returnflag").alias("rf2"),
    )
    has_other = l1.join(
        others,
        (F.col("o2_key") == F.col("l_orderkey"))
        & (F.col("s2_key") != F.col("l_suppkey")),
        "left_semi",
    )
    other_returns = others.filter(F.col("rf2") == "R")
    sole = has_other.join(
        other_returns,
        (F.col("o2_key") == F.col("l_orderkey"))
        & (F.col("s2_key") != F.col("l_suppkey")),
        "left_anti",
    )
    return (
        sole.join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(25)
    )
