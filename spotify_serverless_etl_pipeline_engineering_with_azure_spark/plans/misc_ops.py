"""Remaining surface: sink round-trip (K1/K2 as an oracle-checked
query), SQL-API GROUPING SETS, and batch session_window.

Every sink here writes through ``catalog.sink_run_dir`` — run-unique,
app-scoped, swept-on-death dirs whose /tmp location is the LOCAL-MODE
stand-in for shared storage (see that helper's docstring for the full
three-part lifecycle/scale contract)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import register_views, sink_run_dir, table
from ..functions.exact import dsum, sql_dsum
from ..registry import register
from ..streaming.pipeline import SESSION_COUNTS_SQL, session_counts


@register(
    "csv_sink_roundtrip",
    oracle=f"""
SELECT o_orderstatus, COUNT(*) AS n,
       {sql_dsum("o_totalprice", 2)} AS total
FROM orders
GROUP BY o_orderstatus
""",
    tags=("sink", "csv"),
)
def csv_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1/K2 made verifiable: write orders to a header CSV sink, read it
    back with an explicit schema, aggregate — must equal aggregating the
    source directly (doubles survive: Spark writes shortest-roundtrip
    representations). Output dir: sink_run_dir's lifecycle/scale
    contract.
    """
    from ..operators.sinks import write_csv

    out = sink_run_dir(spark, "csv_roundtrip", sf_dir)
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    write_csv(orders, out)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
        ]
    )
    back = spark.read.schema(schema).option("header", True).csv(out)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"), dsum(F.col("o_totalprice"), 2).alias("total")
    )


@register(
    "ref_x2_runid_sink",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS n,
       TRUE AS run_id_ok,
       CAST(14 AS INTEGER) AS run_id_len
FROM orders
GROUP BY o_orderpriority
""",
    tags=("reference", "sink", "runid"),
)
def ref_x2_runid_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2+X3 made verifiable: a wall-clock run id
    (date_format(current_timestamp(), 'yyyyMMddHHmmss') — the
    reference's spotify_raw_<ts> naming, spotifyextract.py:92 /
    spotifytransform.py:101-105) names a run-scoped output directory
    via run_output_dir; the aggregate is written there, read back
    as a run_id partition, and the recovered partition value is
    validated against the 14-digit pattern INSIDE the hashed
    result. The timestamp itself can't be in a deterministic oracle —
    its shape and the data round-trip are.
    """
    from ..operators.sinks import run_output_dir

    run_id = spark.range(1).select(
        F.date_format(F.current_timestamp(), "yyyyMMddHHmmss").alias("rid")
    ).first()[0]
    # sink_run_dir: fresh base per invocation (a fixed dir wiped with
    # rmtree would destroy files backing previously returned frames),
    # nested under the swept app root (nothing would reclaim bare-uuid
    # /tmp dirs) so a long-lived driver's leftovers are bounded and
    # dead apps' are collected.
    base = sink_run_dir(spark, "runid", sf_dir)
    out = run_output_dir(base, "orders", run_id)
    agg = (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    agg.write.mode("overwrite").parquet(out)
    # The run dir itself, not a run_id=* glob: the basePath still
    # recovers run_id as a partition column, and Spark logs a
    # FileNotFoundException warning for every glob read-back.
    back = spark.read.option("basePath", f"{base}/transformed_data/orders_data").parquet(out)
    rid = F.col("run_id").cast("string")
    return back.select(
        "o_orderpriority",
        "n",
        rid.rlike(r"^\d{14}$").alias("run_id_ok"),
        F.length(rid).alias("run_id_len"),
    )


@register(
    "orc_sink_roundtrip",
    oracle=f"""
SELECT l_returnflag, COUNT(*) AS n,
       {sql_dsum("l_extendedprice", 2)} AS total
FROM lineitem
WHERE l_shipdate >= DATE '1995-01-01'
GROUP BY l_returnflag
""",
    tags=("sink", "orc", "pushdown"),
)
def orc_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar ORC sink + filtered read-back (the second columnar
    format Spark ships natively besides parquet — warehouses routinely
    hold both). The read-back filter and 3-column projection push into
    the ORC scan exactly as with parquet (predicate pushdown + column
    pruning over ORC stripe stats), so the aggregate must equal
    computing it straight from the source table. Output dir:
    sink_run_dir's lifecycle/scale contract; write volume is the
    4-column projection of the full input by design — this op IS the
    table-materialization job.
    """
    out = sink_run_dir(spark, "orc_roundtrip", sf_dir)
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice", "l_shipdate"
    )
    li.write.mode("overwrite").orc(out)
    back = spark.read.orc(out).filter(F.col("l_shipdate") >= "1995-01-01")
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"), dsum(F.col("l_extendedprice"), 2).alias("total")
    )


# One SQL text, run verbatim by Spark and by the DuckDB oracle.
_GROUPING_SETS_SQL = """
SELECT r_name, n_name, COUNT(*) AS n_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
GROUP BY GROUPING SETS ((r_name), (r_name, n_name), ())
"""


@register("sql_grouping_sets", oracle=_GROUPING_SETS_SQL, tags=("agg", "sql-api"))
def sql_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS through the SQL API (temp views + spark.sql) —
    same Catalyst plan as the DataFrame form, exercised as SQL."""
    register_views(spark, sf_dir)
    return spark.sql(_GROUPING_SETS_SQL)


@register(
    "events_session_window_builtin",
    oracle=SESSION_COUNTS_SQL,
    tags=("window", "session"),
)
def events_session_window_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's native session_window (30-min gap) — must agree with the
    gaps-and-islands formulation (events_sessionization) row-for-row.
    The streaming session_counts run as a batch query (a batch plan
    drops the watermark)."""
    return session_counts(table(spark, sf_dir, "events"))


@register(
    "json_sink_roundtrip",
    oracle=f"""
SELECT event_type, COUNT(*) AS n,
       {sql_dsum("value", 2)} AS total,
       MIN(event_id) AS min_id, MAX(event_id) AS max_id
FROM events
GROUP BY event_type
""",
    tags=("sink", "json"),
)
def json_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2's raw-zone JSON sink made verifiable: write events as
    JSON-lines (the distributed form of the reference's one-blob JSON,
    spotifyextract.py:92-101), read back with explicit schema,
    aggregate — must equal aggregating the source. Timestamps excluded
    from the payload on purpose: JSON round-trips them as strings and
    the aggregate proves the numeric/string columns survive exactly.
    Output dir: sink_run_dir's lifecycle/scale contract."""
    out = sink_run_dir(spark, "json_roundtrip", sf_dir)
    ev = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    ev.write.mode("overwrite").json(out)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    back = spark.read.schema(schema).json(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("value"), 2).alias("total"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


# One SQL text, two engines: the query below parses and evaluates
# identically in Spark SQL and DuckDB (shared ANSI subset — joins,
# YEAR(), CASE, decimal casts), so the oracle IS the implementation.
_SHARED_DIALECT_SQL = f"""
SELECT n_name AS nation,
       CAST(YEAR(o_orderdate) AS INTEGER) AS o_year,
       COUNT(*) AS n_lineitems,
       {sql_dsum("l_extendedprice * (1 - l_discount)", 6)} AS revenue,
       CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_returned
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
GROUP BY n_name, YEAR(o_orderdate)
"""


@register("sql_shared_dialect", oracle=_SHARED_DIALECT_SQL, tags=("sql", "dialect"))
def sql_shared_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The spark.sql() entry path, exercised with a query string written
    in the ANSI subset BOTH engines accept — the literal same text runs
    as the oracle. Proves a SQL-first user can bring their warehouse
    queries to this engine unchanged."""
    register_views(spark, sf_dir)
    return spark.sql(_SHARED_DIALECT_SQL)
