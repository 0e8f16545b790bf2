"""UDF surface (SURVEY.md §2.2): Arrow-vectorized pandas_udf and
applyInPandas — the distributed generalization of the reference's
pandas transform stage (/root/reference/spotifytransform.py:86-99).

Both are deterministic and oracle-checked; the point is exercising the
Arrow exchange + grouped-map machinery, not the arithmetic. Scale note:
pandas_udf/applyInPandas move data across the JVM↔Python boundary in
Arrow batches — reserved for logic the built-ins can't express; the
equivalent built-in forms live in analytics.py.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..catalog import table
from ..registry import register


@register(
    "udf_pandas_scalar",
    oracle="""
SELECT doc_id, CAST(LEN(STRING_SPLIT(text, ' ')) AS INTEGER) AS n_tokens
FROM documents WHERE doc_id % 3 = 0
""",
    tags=("udf", "pandas"),
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas_udf: vectorized token count over Arrow batches.

    (Defined inside the call — pandas_udf type resolution needs an
    active session, so a module-level decorator breaks import order.)
    """

    @pandas_udf("int")
    def token_count(texts: pd.Series) -> pd.Series:
        return texts.str.split(" ").str.len().astype("int32")

    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    return docs.select("doc_id", token_count(F.col("text")).alias("n_tokens"))


@register(
    "udf_apply_in_pandas",
    oracle="""
SELECT o_orderpriority, o_orderstatus,
       COUNT(*) AS n_orders,
       MAX(o_totalprice) AS max_price,
       CAST(DATEDIFF('day', CAST(MIN(o_orderdate) AS DATE), CAST(MAX(o_orderdate) AS DATE)) AS BIGINT) AS span_days
FROM orders
GROUP BY o_orderpriority, o_orderstatus
""",
    tags=("udf", "pandas", "grouped"),
)
def udf_apply_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: per-(priority, status) order stats.

    This is exactly what distributes the reference's eager pandas stage:
    each group becomes one pandas DataFrame on an executor. Keyed on a
    BOUNDED composite (15 groups) deliberately: grouped-map pays a
    Python dispatch + Arrow round-trip PER GROUP, so high-cardinality
    keys (e.g. per-customer: 15k tiny groups)
    belong in built-in aggregates (agg_stats) — reserve applyInPandas
    for group logic that genuinely needs pandas on big groups.

    MEMORY CONTRACT, the other half of the key-choice trade: bounded
    key CARDINALITY means data-sized GROUPS — applyInPandas
    materializes each whole group as one in-memory pandas frame, so a
    15-key grouping of 10¹¹ orders puts ~N/15 rows in one Python
    worker. This demo computes aggregates expressible as built-ins
    precisely so its semantics stay oracle-checkable; production
    grouped-map keys must bound GROUP SIZE (entity-level keys), and
    whole-table pandas logic belongs in mapInPandas (streamed batches)
    or built-in aggregates, never a low-cardinality grouped-map.
    """
    orders = table(spark, sf_dir, "orders")

    def stats(pdf: pd.DataFrame) -> pd.DataFrame:
        d = pdf["o_orderdate"].dt.normalize()
        return pd.DataFrame(
            {
                "o_orderpriority": [pdf["o_orderpriority"].iloc[0]],
                "o_orderstatus": [pdf["o_orderstatus"].iloc[0]],
                "n_orders": [len(pdf)],
                "max_price": [pdf["o_totalprice"].max()],
                "span_days": [(d.max() - d.min()).days],
            }
        )

    return orders.groupBy("o_orderpriority", "o_orderstatus").applyInPandas(
        stats,
        schema="o_orderpriority string, o_orderstatus string, n_orders long, "
        "max_price double, span_days long",
    )


@register(
    "from_json_props",
    oracle="""
SELECT CAST(JSON_EXTRACT_STRING(props, '$.k') AS INTEGER) AS k,
       COUNT(*) AS n
FROM events
GROUP BY 1
""",
    tags=("json",),
)
def from_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 as a column operator: from_json with an explicit schema
    (vs get_json_object's path extraction in json_extract_events)."""
    ev = table(spark, sf_dir, "events")
    parsed = ev.select(F.from_json("props", "k INT").alias("p"))
    return parsed.groupBy(F.col("p.k").alias("k")).agg(F.count(F.lit(1)).alias("n"))


@register(
    "udf_map_in_arrow",
    oracle="""
SELECT doc_id, LENGTH(text) AS n_chars_arrow,
       CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens_arrow
FROM documents WHERE doc_id % 17 = 0
""",
    tags=("udf", "arrow"),
)
def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow: the zero-copy sibling of mapInPandas — batches stay
    pyarrow RecordBatches, no pandas conversion, compute runs through
    Arrow's vectorized kernels. The fastest Python-side path when the
    logic is expressible in pyarrow.compute."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def arrow_stats(batches):
        for batch in batches:
            text = batch.column("text")
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    pc.utf8_length(text),
                    pc.list_value_length(pc.split_pattern(text, " ")).cast(pa.int64()),
                ],
                names=["doc_id", "n_chars_arrow", "n_tokens_arrow"],
            )

    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 17 == 0)
    return docs.select("doc_id", "text").mapInArrow(
        arrow_stats, schema="doc_id long, n_chars_arrow int, n_tokens_arrow long"
    )


@register(
    "variant_semistructured",
    oracle="""
SELECT event_id,
       CAST(JSON_EXTRACT(props, '$.k') AS BIGINT) AS k_typed,
       CAST(JSON_EXTRACT(props, '$.k') AS VARCHAR) AS k_string,
       JSON_EXTRACT(props, '$.missing') IS NULL AS missing_is_null
FROM events WHERE event_id % 97 = 0
""",
    tags=("variant", "json", "semistructured"),
)
def variant_semistructured(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT: parse_json into the binary semi-structured type,
    then typed path extraction with variant_get — the open-ended-schema
    column (logs, API payloads) without string re-parsing per access.
    The oracle reads the same paths through DuckDB's JSON type."""
    ev = table(spark, sf_dir, "events").filter(F.col("event_id") % 97 == 0)
    v = F.parse_json("props")
    return ev.select(
        "event_id",
        F.variant_get(v, "$.k", "bigint").alias("k_typed"),
        F.variant_get(v, "$.k", "string").alias("k_string"),
        F.variant_get(v, "$.missing", "string").isNull().alias("missing_is_null"),
    )


@register(
    "udtf_sentence_stats",
    oracle="""
WITH toks AS (
  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents
  WHERE doc_id % 7 = 0
)
SELECT doc_id, tok,
       CAST(LEN(tok) AS INTEGER) AS tok_len,
       (LEN(tok) >= 5) AS is_long
FROM toks
""",
    tags=("udf", "udtf", "python"),
)
def udtf_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4): one input row → N output rows with
    computed columns — the table-function member of the Python surface
    (scalar pandas_udf, grouped applyInPandas, mapInArrow, and this).

    A UDTF is the idiomatic escape hatch when per-row fan-out needs
    imperative logic (parsers, tokenizers with state); here the body is
    deliberately simple so the DuckDB UNNEST oracle can certify the
    machinery. Scale posture: UDTFs evaluate row-local in the Python
    worker (no shuffle introduced); prefer explode()+builtins when the
    logic fits — this exists to verify the boundary, and the lateral
    join it plans stays within the partition.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="tok: string, tok_len: int, is_long: boolean")
    class SentenceStats:
        def eval(self, text: str):
            for tok in (text or "").split(" "):
                yield tok, len(tok), len(tok) >= 5

    # lateral-join the UDTF against the filtered docs via the SQL API
    # (the only stable way to pass a column argument in PySpark 4).
    spark.udtf.register("sse_sentence_stats", SentenceStats)
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0)
    docs.createOrReplaceTempView("sse_udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, s.tok, s.tok_len, s.is_long
        FROM sse_udtf_docs d, LATERAL sse_sentence_stats(d.text) s
        """
    )
