"""Oracle-checked analogues of the reference's concrete operators
(SURVEY.md §2.1), expressed over the driver's test tables.

The exact Spotify-shaped pipeline (nested JSON → explode → project →
cast → dedup → CSV) lives in ``operators/spotify.py`` and is verified
against golden fixtures in tests/; the nested fixture is not one of the
oracle's pre-registered views, so each operator is ALSO exercised here
on oracle-visible tables, giving every §2.1 row a hash-checked query.

Mapping:
  S5 explode            → ref_s5_explode_tokens
  P2 array-head         → ref_p2_array_head
  C1 ISO ts cast        → ref_c1_timestamp_cast
  C2 mixed-gran dates   → ref_c2_mixed_granularity_dates
  D1/D2 keep-first dedup→ ref_d1_keepfirst_dedup
  X1 count              → ref_x1_count
  X4 path split         → ref_x4_path_basename
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.dates import SQL_PARSE_RELEASE_DATE, parse_release_date
from ..operators.spotify import keep_first, sql_keep_first
from ..registry import register


@register(
    "ref_s5_explode_tokens",
    oracle="""
SELECT doc_id, tok, CAST(pos AS INTEGER) AS pos
FROM (
  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok,
         UNNEST(RANGE(1, LEN(STRING_SPLIT(text, ' ')) + 1)) - 1 AS pos
  FROM documents
)
WHERE doc_id % 25 = 0
""",
    tags=("reference", "explode"),
)
def ref_s5_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: explode an array into one row per element, with position.

    Reference: ``for song in data['items']`` at
    /root/reference/spotifytransform.py:29,42,53 → posexplode.
    """
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 25 == 0)
    return docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    ).select("doc_id", "tok", "pos")


@register(
    "ref_p2_array_head",
    oracle="""
SELECT vec_id,
       CAST(embedding[1] AS DOUBLE) AS head_component,
       CAST(LEN(embedding) AS INTEGER) AS n_components
FROM embeddings
WHERE vec_id % 7 = 0
""",
    tags=("reference", "projection"),
)
def ref_p2_array_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: lossy array-head projection (only element 0 read).

    Reference: ``song['track']['artists'][0]`` at
    /root/reference/spotifytransform.py:43-45 → F.get(col, 0).
    """
    emb = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 7 == 0)
    return emb.select(
        "vec_id",
        F.get("embedding", 0).cast("double").alias("head_component"),
        F.size("embedding").alias("n_components"),
    )


@register(
    "ref_c1_timestamp_cast",
    oracle="""
SELECT event_id,
       CAST(STRPTIME(STRFTIME(CAST(ts AS TIMESTAMP), '%Y-%m-%dT%H:%M:%SZ'),
            '%Y-%m-%dT%H:%M:%SZ') AS TIMESTAMP) AS parsed_ts,
       CAST(YEAR(ts) AS INTEGER) AS y
FROM events
WHERE event_id % 50 = 0
""",
    tags=("reference", "cast"),
)
def ref_c1_timestamp_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1: ISO-8601 string → timestamp round-trip.

    Reference: ``pd.to_datetime(song_df['added_date'])`` at
    /root/reference/spotifytransform.py:92. Format/parse an ISO string
    with a trailing Z, second granularity.
    """
    ev = table(spark, sf_dir, "events").filter(F.col("event_id") % 50 == 0)
    iso = F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'")
    return ev.select(
        "event_id",
        F.to_timestamp(iso, "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("parsed_ts"),
        F.year("ts").alias("y"),
    )


@register(
    "ref_c2_mixed_granularity_dates",
    oracle=f"""
WITH raw AS (
  SELECT o_orderkey,
         CASE o_orderkey % 3
           WHEN 0 THEN STRFTIME(o_orderdate, '%Y')
           WHEN 1 THEN STRFTIME(o_orderdate, '%Y-%m')
           ELSE STRFTIME(o_orderdate, '%Y-%m-%d')
         END AS release_date
  FROM orders WHERE o_orderkey % 11 = 0
)
SELECT o_orderkey, release_date,
       STRFTIME({SQL_PARSE_RELEASE_DATE.format(c="release_date")}, '%Y-%m-%d') AS parsed_date
FROM raw
""",
    tags=("reference", "cast"),
)
def ref_c2_mixed_granularity_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2: mixed-granularity (YYYY | YYYY-MM | YYYY-MM-DD) date parsing.

    Reference: ``pd.to_datetime(album_df['release_date'])`` at
    /root/reference/spotifytransform.py:99. Padding rule YYYY→-01-01,
    YYYY-MM→-01 (SURVEY.md §7), identical on both sides.
    """
    orders = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 11 == 0)
    raw = orders.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 3 == 0, F.date_format("o_orderdate", "yyyy"))
        .when(F.col("o_orderkey") % 3 == 1, F.date_format("o_orderdate", "yyyy-MM"))
        .otherwise(F.date_format("o_orderdate", "yyyy-MM-dd"))
        .alias("release_date"),
    )
    return raw.select(
        "o_orderkey",
        "release_date",
        F.date_format(F.expr(parse_release_date("release_date")), "yyyy-MM-dd").alias(
            "parsed_date"
        ),
    )


# D1 over events: per (user_id, event_type), the row of the lowest
# event_id; the rows text and the keep_first arguments of both engines.
_D1_ROWS = "SELECT event_id, user_id, event_type, value FROM {events}"
_D1_KEEP = ("user_id, event_type", "event_id, value", "event_id")


@register(
    "ref_d1_keepfirst_dedup",
    oracle="SELECT event_id, user_id, event_type, value FROM ("
    f"{sql_keep_first(_D1_ROWS.format(events='events'), *_D1_KEEP)})",
    tags=("reference", "dedup"),
)
def ref_d1_keepfirst_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1/D2: key-dedup with deterministic keep-FIRST semantics.

    Reference: ``drop_duplicates(subset='artist_id', keep='first')`` at
    /root/reference/spotifytransform.py:95,98. pandas "first" means file
    order; the distributed equivalent needs an explicit ordering — here
    first-by-event_id, through the pipeline's own keep-first dedup
    (SURVEY.md §7 hard part #1).
    """
    first = keep_first(_D1_ROWS, *_D1_KEEP)
    return spark.sql(first, events=table(spark, sf_dir, "events")).select(
        "event_id", "user_id", "event_type", "value"
    )


@register(
    "ref_x1_count",
    oracle="""
SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY source
""",
    tags=("reference", "count"),
)
def ref_x1_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1: counting (len(data['items']) at spotifyextract.py:75)."""
    docs = table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars")
    )


@register(
    "ref_x4_path_basename",
    oracle="""
SELECT doc_id,
       'raw/to_be_processed/doc_' || CAST(doc_id AS VARCHAR) || '.json' AS blob_path,
       STRING_SPLIT('raw/to_be_processed/doc_' || CAST(doc_id AS VARCHAR) || '.json', '/')[-1] AS file_name
FROM documents
WHERE doc_id % 40 = 0
""",
    tags=("reference", "string"),
)
def ref_x4_path_basename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3/X4: path assembly + split-last-element.

    Reference: ``myblob.name.split('/')[-1]`` at
    /root/reference/spotifytransform.py:140 → element_at(split(...), -1).
    """
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 40 == 0)
    path = F.concat(
        F.lit("raw/to_be_processed/doc_"), F.col("doc_id").cast("string"), F.lit(".json")
    )
    return docs.select(
        "doc_id",
        path.alias("blob_path"),
        F.element_at(F.split(path, "/"), -1).alias("file_name"),
    )
