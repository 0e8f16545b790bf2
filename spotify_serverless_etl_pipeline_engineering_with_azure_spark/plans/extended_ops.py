"""Extended operator surface: richer window frames, percentile
aggregates, ALL-variant set ops, wider scalar/array/regexp coverage,
partition-pruned parquet sink roundtrip, and the salting pattern for
skewed joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.exact import dsum, dsum_over, roundk, sql_dsum, sql_dsum_over, sql_roundk
from ..registry import register


@register(
    "window_frames",
    oracle="""
SELECT c_custkey, c_nationkey, c_acctbal,
       CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
       PERCENT_RANK() OVER w AS pct_rank,
       CUME_DIST() OVER w AS cume,
       FIRST_VALUE(c_custkey) OVER w AS richest_key,
       LAST_VALUE(c_custkey) OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS poorest_key,
       COUNT(*) OVER (PARTITION BY c_nationkey ORDER BY c_acctbal
                      RANGE BETWEEN 100.0 PRECEDING AND 100.0 FOLLOWING) AS peers_within_100
FROM customer
WHERE c_custkey % 4 = 0
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
""",
    tags=("window", "frames"),
)
def window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile / percent_rank / cume_dist / first-last value / RANGE frame.

    percent_rank and cume_dist divide exact integer rank counts →
    bit-identical doubles.

    SCALE CONTRACT: the partition key (c_nationkey, 25 values) bounds
    window COUNT, not window SIZE — each nation's partition grows
    linearly with customers and must sort/buffer in one task (ntile
    and cume_dist need the full partition count). That is the frame-
    semantics demo shape; a production global/low-cardinality ranking
    uses the two-phase distributed rank (behavior_ops._distributed_
    ntile: range-partition + per-partition row_number + offsets) once
    partitions outgrow a task.
    """
    cust = table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 4 == 0)
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    # double-valued RANGE offsets need the SQL form — the classic
    # Window.rangeBetween API only accepts long offsets
    peers = F.expr(
        "COUNT(*) OVER (PARTITION BY c_nationkey ORDER BY c_acctbal "
        "RANGE BETWEEN 100.0 PRECEDING AND 100.0 FOLLOWING)"
    )
    return cust.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.first("c_custkey").over(w).alias("richest_key"),
        F.last("c_custkey").over(w_full).alias("poorest_key"),
        peers.alias("peers_within_100"),
    )


@register(
    "window_time_range_trailing",
    oracle=f"""
SELECT user_id, event_id,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_last7d,
       {sql_dsum_over("value", 2, "w")} AS sum_last7d
FROM events
WHERE user_id % 7 = 0
WINDOW w AS (PARTITION BY user_id ORDER BY EPOCH_US(ts)
             RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
""",
    tags=("window", "range", "timeseries"),
)
def window_time_range_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day per-user event count and value sum via a
    time-RANGE window frame (the rolling-metric shape ROWS frames can't
    express: the frame is defined by event-time distance, not row
    count).

    Ordering on epoch MICROSECONDS keeps the frame boundary exact and
    engine-independent (a seconds-truncated ordering would mis-bucket
    sub-second gaps straddling the boundary); the value sum uses the
    decimal-cast discipline. Peers (equal timestamps) are in-frame
    together in both engines by RANGE semantics. At scale this is one
    shuffle on user_id with an in-partition sort — no self-join
    blow-up, which is the naive alternative for rolling windows.
    """
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") % 7 == 0)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-7 * 86400 * 1_000_000, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_last7d"),
        dsum_over(F.col("value"), 2, w).alias("sum_last7d"),
    )


@register(
    "agg_percentiles",
    oracle=f"""
SELECT c_mktsegment,
       {sql_roundk("MEDIAN(c_acctbal)", 4)} AS median_bal,
       {sql_roundk("QUANTILE_CONT(c_acctbal, 0.9)", 4)} AS p90_bal,
       MIN(c_acctbal) AS min_bal,
       MAX(c_acctbal) AS max_bal
FROM customer
GROUP BY c_mktsegment
""",
    tags=("agg", "percentile"),
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median / p90).

    Both engines interpolate linearly between the two order statistics;
    inputs are 2-dp so the interpolated value is exact at 4 dp — ROUND
    4 guards the a+(b-a)*f evaluation-order difference.

    CAPACITY CONTRACT: Spark's exact percentile/median is a
    TypedImperativeAggregate whose buffer holds the per-group value
    multiset — with 5 bounded segments that is ~N/5 values in one
    aggregation buffer, which stops fitting long before the 100 TB
    posture. The exact form IS this query's semantic contract (the
    oracle interpolates identically); the moment a group's multiset
    outgrows memory, production swaps percentile_approx with a
    rank-error budget — the swap rule agg_approx_sketches demonstrates
    with its self-validated bounds.
    """
    cust = table(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment").agg(
        # roundk: engine-deterministic quantization of the computed
        # interpolants (functions/exact.roundk).
        roundk(F.median("c_acctbal"), 4).alias("median_bal"),
        roundk(F.percentile("c_acctbal", F.lit(0.9)), 4).alias("p90_bal"),
        F.min("c_acctbal").alias("min_bal"),
        F.max("c_acctbal").alias("max_bal"),
    )


@register(
    "set_ops_all",
    oracle="""
SELECT 'intersect_all' AS op, n_nationkey FROM (
  SELECT c_nationkey AS n_nationkey FROM customer WHERE c_acctbal > 9990.0
  INTERSECT ALL
  SELECT s_nationkey FROM supplier)
UNION ALL
SELECT 'except_all' AS op, n_nationkey FROM (
  SELECT c_nationkey AS n_nationkey FROM customer WHERE c_acctbal > 9990.0
  EXCEPT ALL
  SELECT s_nationkey FROM supplier)
""",
    tags=("setop",),
)
def set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL / EXCEPT ALL — bag (multiplicity) semantics."""
    cust = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9990.0)
        .select(F.col("c_nationkey").alias("n_nationkey"))
    )
    supp = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("n_nationkey"))
    tag = lambda op, df: df.select(F.lit(op).alias("op"), "n_nationkey")  # noqa: E731
    return tag("intersect_all", cust.intersectAll(supp)).unionByName(
        tag("except_all", cust.exceptAll(supp))
    )


@register(
    "scalar_string_extended",
    oracle="""
SELECT s_suppkey,
       LPAD(CAST(s_suppkey AS VARCHAR), 8, '0') AS key_padded,
       RPAD(s_name, 24, '.') AS name_padded,
       REVERSE(s_name) AS name_rev,
       REPLACE(s_name, 'Supplier', 'Vendor') AS name_replaced,
       TRIM(CONCAT('  ', s_name, '  ')) AS name_trimmed,
       REPEAT('ab', 3) AS repeated,
       CONTAINS(s_name, '#') AS has_hash,
       STARTS_WITH(s_name, 'Supplier') AS is_supplier,
       CAST(STRPOS(s_name, '#') AS INTEGER) AS hash_pos,
       UPPER(s_name) AS name_upper
FROM supplier
""",
    tags=("scalar", "string"),
)
def scalar_string_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lpad/rpad/reverse/replace/trim/repeat/contains/startswith/
    instr/upper."""
    s = table(spark, sf_dir, "supplier")
    return s.select(
        "s_suppkey",
        F.lpad(F.col("s_suppkey").cast("string"), 8, "0").alias("key_padded"),
        F.rpad("s_name", 24, ".").alias("name_padded"),
        F.reverse("s_name").alias("name_rev"),
        F.replace("s_name", F.lit("Supplier"), F.lit("Vendor")).alias("name_replaced"),
        F.trim(F.concat(F.lit("  "), F.col("s_name"), F.lit("  "))).alias("name_trimmed"),
        F.repeat(F.lit("ab"), 3).alias("repeated"),
        F.contains("s_name", F.lit("#")).alias("has_hash"),
        F.startswith("s_name", F.lit("Supplier")).alias("is_supplier"),
        F.instr("s_name", "#").alias("hash_pos"),
        F.upper("s_name").alias("name_upper"),
    )


@register(
    "scalar_regexp",
    oracle="""
SELECT p_partkey, p_name,
       REGEXP_REPLACE(p_name, '[aeiou]', '_', 'g') AS devoweled,
       REGEXP_MATCHES(p_name, '^(red|blue|green)') AS starts_with_color,
       REGEXP_EXTRACT(p_name, '([a-z]+)$', 1) AS last_word,
       CAST(LEN(REGEXP_EXTRACT_ALL(p_name, '[aeiou]')) AS INTEGER) AS n_vowels
FROM part
WHERE p_partkey % 9 = 0
""",
    tags=("scalar", "regexp"),
)
def scalar_regexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_replace / rlike / regexp_extract(_all).

    Note DuckDB's REGEXP_REPLACE needs the 'g' flag to match Spark's
    replace-all semantics.
    """
    p = table(spark, sf_dir, "part").filter(F.col("p_partkey") % 9 == 0)
    return p.select(
        "p_partkey",
        "p_name",
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
        F.col("p_name").rlike("^(red|blue|green)").alias("starts_with_color"),
        F.regexp_extract("p_name", "([a-z]+)$", 1).alias("last_word"),
        F.size(F.regexp_extract_all("p_name", F.lit("[aeiou]"), 0)).alias("n_vowels"),
    )


@register(
    "scalar_math_transcendental",
    oracle=f"""
SELECT l_orderkey, l_linenumber,
       {sql_roundk("EXP(l_discount)", 6)} AS disc_exp,
       {sql_roundk("LN(l_extendedprice)", 6)} AS price_ln,
       {sql_roundk("LOG10(l_extendedprice)", 6)} AS price_log10,
       {sql_roundk("SIN(l_discount)", 6)} AS disc_sin,
       {sql_roundk("ATAN(l_tax)", 6)} AS tax_atan,
       {sql_roundk("POW(1.0 + l_discount, 3.0)", 6)} AS growth
FROM lineitem
WHERE l_orderkey % 251 = 0
""",
    tags=("scalar", "math"),
)
def scalar_math_transcendental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exp/ln/log10/sin/atan/pow — libm results differ at the last ulp
    across engines, so outputs are rounded to 6 dp (values O(1)-O(12),
    ulp error ~1e-15 ≪ the 5e-7 rounding boundary)."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 251 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        # roundk everywhere below: transcendental outputs are raw
        # computed doubles — the divergent cross-engine ROUND class
        # (functions/exact.roundk). RESIDUAL (documented, not
        # removed): roundk is deterministic only when both engines
        # hold the SAME double; if the JVM's and libm's EXP/LN/SIN/
        # ATAN ever differ by an ulp for some input, the engines
        # round DIFFERENT products and can still land on opposite
        # sides of a boundary — no such input is known.
        roundk(F.exp("l_discount"), 6).alias("disc_exp"),
        roundk(F.log("l_extendedprice"), 6).alias("price_ln"),
        roundk(F.log10("l_extendedprice"), 6).alias("price_log10"),
        roundk(F.sin("l_discount"), 6).alias("disc_sin"),
        roundk(F.atan("l_tax"), 6).alias("tax_atan"),
        roundk(F.pow(F.lit(1.0) + F.col("l_discount"), 3.0), 6).alias("growth"),
    )


@register(
    "scalar_casts",
    oracle="""
SELECT o_orderkey,
       CAST(o_orderkey AS VARCHAR) AS key_str,
       CAST(FLOOR(o_totalprice) AS BIGINT) AS price_floor_int,
       CAST(o_totalprice AS VARCHAR) AS price_str,
       TRY_CAST(o_orderstatus AS INTEGER) AS bad_cast,
       CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT) AS key_roundtrip,
       CAST(o_totalprice > 100000.0 AS INTEGER) AS is_big
FROM orders WHERE o_orderkey % 17 = 0
""",
    tags=("scalar", "cast"),
)
def scalar_casts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cast matrix incl. try_cast (NULL, not error, under ANSI) and
    explicit FLOOR for double→int (Spark truncates, DuckDB rounds —
    never cast fractional doubles to ints bare)."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 17 == 0)
    return o.select(
        "o_orderkey",
        F.col("o_orderkey").cast("string").alias("key_str"),
        F.floor("o_totalprice").cast("long").alias("price_floor_int"),
        F.col("o_totalprice").cast("string").alias("price_str"),
        F.expr("TRY_CAST(o_orderstatus AS INT)").alias("bad_cast"),
        F.col("o_orderkey").cast("string").cast("long").alias("key_roundtrip"),
        (F.col("o_totalprice") > 100000.0).cast("int").alias("is_big"),
    )


@register(
    "array_functions",
    oracle="""
SELECT doc_id,
       ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(STRING_SPLIT(text, ' '))), ',') AS vocab,
       CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS INTEGER) AS vocab_size,
       LIST_CONTAINS(STRING_SPLIT(text, ' '), 'spark') AS mentions_spark,
       ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[1:3], '-') AS first3,
       LIST_MAX(LIST_TRANSFORM(STRING_SPLIT(text, ' '), t -> LENGTH(t))) AS longest_token
FROM documents WHERE doc_id % 11 = 0
""",
    tags=("scalar", "array"),
)
def array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """array_distinct/sort/contains/slice/max — array outputs are
    stringified (array_join) so the value-hash is representation-
    independent across engines."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 11 == 0)
    toks = F.split("text", " ")
    return d.select(
        "doc_id",
        F.array_join(F.array_sort(F.array_distinct(toks)), ",").alias("vocab"),
        F.size(F.array_distinct(toks)).alias("vocab_size"),
        F.array_contains(toks, "spark").alias("mentions_spark"),
        F.array_join(F.slice(toks, 1, 3), "-").alias("first3"),
        F.array_max(F.transform(toks, lambda t: F.length(t))).alias("longest_token"),
    )


@register(
    "parquet_partitioned_roundtrip",
    oracle=f"""
SELECT o_orderpriority, COUNT(*) AS n,
       {sql_dsum("o_totalprice", 2)} AS total
FROM orders
WHERE o_orderstatus = 'O'
GROUP BY o_orderpriority
""",
    tags=("sink", "parquet", "partition-pruning"),
)
def parquet_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned parquet sink + partition-pruned read-back.

    Writes orders partitioned by o_orderstatus, reads back filtering one
    partition — the scan lists only status=O directories (partition
    pruning, the layout that matters at 100 TB).

    Output dir: catalog.sink_run_dir's lifecycle/scale contract —
    run-unique (never destroys a previously returned frame's files),
    app-scoped and swept, and a LOCAL-MODE stand-in for shared
    storage (per-node file:/tmp would give the read-back a partial
    dataset on a real cluster; production points this at HDFS/object
    store, where the identical partitionBy layout and pruned read are
    exactly what a 100 TB table does). Write volume is the full input
    by design: this op IS the table-materialization job.
    """
    from ..catalog import sink_run_dir

    out = sink_run_dir(spark, "part_roundtrip", sf_dir)
    orders = table(spark, sf_dir, "orders")
    (
        orders.write.mode("overwrite")
        .partitionBy("o_orderstatus")
        .parquet(out)
    )
    back = spark.read.parquet(out).filter(F.col("o_orderstatus") == "O")
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), dsum(F.col("o_totalprice"), 2).alias("total")
    )


@register(
    "join_salted",
    oracle=f"""
SELECT n_name, COUNT(*) AS n_customers,
       {sql_dsum("c_acctbal", 2)} AS total_bal
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
""",
    tags=("join", "skew", "salting"),
)
def join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The manual salting pattern for skewed join keys: fact side gets
    salt = custkey % 8, dim side explodes ×8, join on (key, salt),
    then aggregate. Result must equal the plain join (the oracle).

    At real scale this defeats single-hot-key skew when AQE's skew-join
    splitting isn't applicable (e.g., aggregation-after-join keys).

    SIZING CONTRACT: the salt space IS the hot key's parallelism — each
    salt value becomes one task holding hot_key_rows / n_salts rows, so
    a production deployment sizes n_salts ≈ hot_key_rows /
    target_task_rows (a 4·10⁹-row hot key at ~10⁷ rows/task needs
    ~400 salts, not 8), capped by cluster cores; the dim side's
    explode cost is n_salts × dim_rows, which is why salting suits
    small-dim joins and the cap matters. 8 is the demo shape for the
    test SFs; the oracle (a plain join) is salt-count-invariant, so
    nothing but this paragraph flags the sizing.
    """
    n_salts = 8
    cust = table(spark, sf_dir, "customer").withColumn(
        "salt", (F.col("c_custkey") % n_salts).cast("int")
    )
    nation = (
        table(spark, sf_dir, "nation")
        .withColumn("salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)])))
    )
    return (
        cust.join(
            nation,
            (cust.salt == nation.salt) & (cust.c_nationkey == nation.n_nationkey),
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum(F.col("c_acctbal"), 2).alias("total_bal"),
        )
    )


@register(
    "agg_statistical_moments",
    oracle=f"""
SELECT c_mktsegment,
       {sql_roundk("STDDEV_SAMP(c_acctbal)", 4)} AS std_bal,
       {sql_roundk("VAR_SAMP(c_acctbal)", 4)} AS var_bal,
       {sql_roundk("CORR(c_acctbal, CAST(c_custkey AS DOUBLE))", 6)} AS corr_bal_key,
       {sql_roundk("COVAR_SAMP(c_acctbal, CAST(c_nationkey AS DOUBLE))", 4)} AS covar_bal_nation
FROM customer
GROUP BY c_mktsegment
""",
    tags=("agg", "statistics"),
)
def agg_statistical_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment aggregates: stddev/variance/correlation/covariance.
    Both engines use single-pass moment updates whose results agree to
    ~1e-10 relative; outputs are rounded (4-6 dp on O(10^3) values) so
    the hash is stable across summation orders."""
    cust = table(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment").agg(
        # roundk: moment aggregates are raw computed doubles; the
        # multiply form removes the cross-engine ROUND divergence.
        # RESIDUAL (documented, not removed): the PRE-round doubles
        # come from each engine's own merge order of moment partials,
        # so a pair straddling a k-dp boundary by >1 product-ulp can
        # still differ — the exact-integer-moment rewrite
        # (events_anomaly_zscore's discipline) is the full fix if a
        # dataset ever hits it here.
        roundk(F.stddev_samp("c_acctbal"), 4).alias("std_bal"),
        roundk(F.var_samp("c_acctbal"), 4).alias("var_bal"),
        roundk(
            F.corr("c_acctbal", F.col("c_custkey").cast("double")), 6
        ).alias("corr_bal_key"),
        roundk(
            F.covar_samp("c_acctbal", F.col("c_nationkey").cast("double")), 4
        ).alias("covar_bal_nation"),
    )


@register(
    "null_semantics",
    oracle="""
SELECT c_custkey,
       (bal IS NOT DISTINCT FROM NULL) AS bal_is_null,
       (bal IS NOT DISTINCT FROM c_acctbal) AS nullsafe_eq_self,
       COALESCE(bal, 0.0) AS bal_or_zero,
       CASE WHEN bal IS NULL THEN 'missing' ELSE 'present' END AS presence,
       NULLIF(c_mktsegment, 'BUILDING') AS seg_or_null
FROM (SELECT c_custkey, c_acctbal, c_mktsegment,
             CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE c_acctbal END AS bal
      FROM customer WHERE c_custkey % 13 = 0)
""",
    tags=("scalar", "null"),
)
def null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-handling surface: null-safe equality (<=>), coalesce,
    nullif, isNull-driven CASE — over a constructed nullable column so
    every branch is exercised."""
    cust = table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 13 == 0)
    bal = F.when(F.col("c_custkey") % 3 == 0, F.lit(None)).otherwise(F.col("c_acctbal"))
    return cust.select(
        "c_custkey",
        bal.eqNullSafe(F.lit(None).cast("double")).alias("bal_is_null"),
        bal.eqNullSafe(F.col("c_acctbal")).alias("nullsafe_eq_self"),
        F.coalesce(bal, F.lit(0.0)).alias("bal_or_zero"),
        F.when(bal.isNull(), "missing").otherwise("present").alias("presence"),
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg_or_null"),
    )


@register(
    "agg_string_concat",
    oracle="""
SELECT c_nationkey,
       ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(LIST(c_mktsegment))), '|')
         AS segments,
       CAST(LEN(LIST_DISTINCT(LIST(c_mktsegment))) AS INTEGER) AS n_segments
FROM customer
GROUP BY c_nationkey
""",
    tags=("agg", "collect"),
)
def agg_string_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG/STRING_AGG semantics done deterministically:
    collect_set → sort → join (an unordered string_agg would be
    partition-order-dependent — never hashable across engines)."""
    cust = table(spark, sf_dir, "customer")
    segs = F.array_sort(F.collect_set("c_mktsegment"))
    return cust.groupBy("c_nationkey").agg(
        F.array_join(segs, "|").alias("segments"),
        F.size(segs).alias("n_segments"),
    )


@register(
    "scalar_date_advanced",
    oracle="""
SELECT o_orderkey,
       STRFTIME(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3mo,
       STRFTIME(LAST_DAY(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
       CAST(DAYOFWEEK(o_orderdate) + 1 AS INTEGER) AS dow_sun1,
       STRFTIME(DATE_TRUNC('MONTH', o_orderdate), '%Y-%m-%d') AS month_start,
       CAST(DAYOFYEAR(o_orderdate) AS INTEGER) AS doy
FROM orders WHERE o_orderkey % 23 = 0
""",
    tags=("scalar", "date"),
)
def scalar_date_advanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """add_months / last_day / dayofweek / date_trunc / dayofyear.
    Weekday numbering differs across engines (Spark: Sunday=1; DuckDB:
    Sunday=0) — the oracle normalizes explicitly, the kind of dialect
    seam this suite pins down."""
    orders = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 23 == 0)
    return orders.select(
        "o_orderkey",
        F.date_format(F.add_months("o_orderdate", 3), "yyyy-MM-dd").alias("plus3mo"),
        F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd").alias("month_end"),
        F.dayofweek("o_orderdate").alias("dow_sun1"),
        F.date_format(F.date_trunc("MONTH", F.col("o_orderdate")), "yyyy-MM-dd").alias(
            "month_start"
        ),
        F.dayofyear("o_orderdate").alias("doy"),
    )


@register(
    "struct_ops",
    oracle="""
SELECT c_custkey,
       c_custkey + 1 AS k_from_struct,
       c_acctbal AS bal_from_struct,
       TRUE AS json_roundtrip_ok,
       c_mktsegment AS seg_nested
FROM customer WHERE c_custkey % 19 = 0
""",
    tags=("scalar", "struct", "json"),
)
def struct_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StructType surface: named_struct construction, field access,
    nested structs, and a to_json → from_json round-trip proven
    lossless (the oracle states the identities the round-trip must
    satisfy; raw JSON text is never compared — engines format numbers
    differently)."""
    cust = table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 19 == 0)
    s = F.struct(
        (F.col("c_custkey") + 1).alias("k"),
        F.col("c_acctbal").alias("bal"),
        F.struct(F.col("c_mktsegment").alias("seg")).alias("inner"),
    )
    rt = F.from_json(
        F.to_json(s), "k bigint, bal double, inner struct<seg: string>"
    )
    return cust.select(
        "c_custkey",
        s.getField("k").alias("k_from_struct"),
        s.getField("bal").alias("bal_from_struct"),
        (rt.getField("bal") == F.col("c_acctbal")).alias("json_roundtrip_ok"),
        rt.getField("inner").getField("seg").alias("seg_nested"),
    )


@register(
    "agg_min_max_by",
    oracle="""
SELECT c_nationkey,
       ARG_MAX(c_name, CAST(ROUND(c_acctbal * 100) AS BIGINT) * 1000000000000 + c_custkey)
         AS richest_customer,
       ARG_MIN(c_name, CAST(ROUND(c_acctbal * 100) AS BIGINT) * 1000000000000 + c_custkey)
         AS poorest_customer,
       MAX(c_acctbal) AS max_bal
FROM customer
GROUP BY c_nationkey
""",
    tags=("agg", "argmax"),
)
def agg_min_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by / min_by (ARG_MAX/ARG_MIN): the per-group argmax without
    a window + filter. The ordering key folds exact cents with the
    unique custkey so equal balances break ties identically in both
    engines — argmax on a float with duplicates is otherwise
    engine-arbitrary. The 10^12 multiplier keeps the fold a true
    (cents, custkey) lexicographic order up to 10^12 customers — TPC-H
    sf ~6.6M, far past the 100 TB envelope's sf100k = 1.5·10^10
    customers (a 10^5 multiplier inverted pairs at ~sf0.7, 10^10 at
    ~sf66k) — while |cents|·10^12 ≤ 10^18 stays inside int64."""
    cust = table(spark, sf_dir, "customer")
    ordk = (
        F.round(F.col("c_acctbal") * 100).cast("long") * 1000000000000
        + F.col("c_custkey")
    )
    return cust.groupBy("c_nationkey").agg(
        F.max_by("c_name", ordk).alias("richest_customer"),
        F.min_by("c_name", ordk).alias("poorest_customer"),
        F.max("c_acctbal").alias("max_bal"),
    )


@register(
    "scalar_bitwise",
    oracle="""
SELECT o_orderkey,
       o_orderkey & 255 AS low_byte,
       o_orderkey | 4096 AS with_flag,
       XOR(o_orderkey, o_custkey) AS key_xor,
       o_orderkey << 2 AS shifted_up,
       o_orderkey >> 3 AS shifted_down,
       CAST(BIT_COUNT(o_orderkey) AS INTEGER) AS popcount,
       GREATEST(o_orderkey, o_custkey * 10) AS biggest,
       LEAST(o_orderkey, o_custkey * 10) AS smallest
FROM orders WHERE o_orderkey % 31 = 0
""",
    tags=("scalar", "bitwise"),
)
def scalar_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise surface (& | ^ << >> bit_count) + greatest/least — the
    integer kernel ops id-mangling and flag-packing pipelines lean on."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 31 == 0)
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).alias("low_byte"),
        k.bitwiseOR(F.lit(4096)).alias("with_flag"),
        k.bitwiseXOR(F.col("o_custkey")).alias("key_xor"),
        F.shiftleft(k, 2).alias("shifted_up"),
        F.shiftright(k, 3).alias("shifted_down"),
        F.bit_count(k).alias("popcount"),
        F.greatest(k, F.col("o_custkey") * 10).alias("biggest"),
        F.least(k, F.col("o_custkey") * 10).alias("smallest"),
    )


@register(
    "union_schema_evolution",
    oracle="""
SELECT doc_id, lang, source, n_chars, quality_tier FROM (
  SELECT doc_id, lang, source, n_chars, NULL AS quality_tier
  FROM documents WHERE doc_id % 2 = 0
  UNION ALL
  SELECT doc_id, lang, NULL AS source, n_chars,
         CASE WHEN n_chars > 200 THEN 'long' ELSE 'short' END AS quality_tier
  FROM documents WHERE doc_id % 2 = 1
)
""",
    tags=("setop", "schema-evolution"),
)
def union_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union: an old batch (no quality_tier column)
    and a new batch (no source column) combined with
    unionByName(allowMissingColumns=True) — missing columns NULL-fill
    by NAME, not position. This is how a long-lived ingest pipeline
    absorbs schema drift without rewriting history."""
    docs = table(spark, sf_dir, "documents")
    old_batch = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", "lang", "source", "n_chars"
    )
    new_batch = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id",
        "lang",
        "n_chars",
        F.when(F.col("n_chars") > 200, "long").otherwise("short").alias("quality_tier"),
    )
    return old_batch.unionByName(new_batch, allowMissingColumns=True).select(
        "doc_id", "lang", "source", "n_chars", "quality_tier"
    )
