"""The reference pipeline, Spark-first: nested playlist JSON → explode →
three projection branches → casts → keep-first dedup → star schema.

Operator parity (SURVEY.md §2.1, citations into /root/reference/):
  S4 JSON parse      → spark.read.json with explicit schema (no inference)
  S5 explode items   → posexplode (position kept for keep-first order)
  P1 albums project  → nested-field SELECT (spotifytransform.py:26-37)
  P2 artists[0] head → get(item.track.artists, 0), NULL on an empty
                       array (spotifytransform.py:39-48)
  P3 songs project   → 3-level nested SELECT (spotifytransform.py:50-64)
  P4 schema attach   → AS per column in the STAR_SQL texts
                       (spotifytransform.py:91,94,97)
  C1 ts cast         → to_timestamp (spotifytransform.py:92)
  C2 mixed dates     → parse_release_date: a CASE on length inside
                       to_date (spotifytransform.py:99)
  D1/D2 dedup        → keep_first: min_by over a (doc_order, pos)
                       struct key (spotifytransform.py:95,98 — pandas
                       keep='first'; distributed "first" is made
                       explicit as file-order × item-position,
                       SURVEY.md §7)

Scale posture: one SELECT text per table — Catalyst prunes the
nested schema down to the accessed fields (the reference does this
pruning by hand); dedup is a keep-first aggregate over the natural
key, which shuffles once on the key unless the input already sits in
one partition. For set-semantics dedup (row choice irrelevant) use
``dropDuplicates`` instead — noted per call site.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, DataFrameReader, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamReader

from ..catalog import share
from ..functions.dates import parse_release_date

# Explicit input schema for the playlist JSON —
# /root/reference/Readme.MD:170-187, field accesses at
# spotifytransform.py:26-64. No inference pass at scale.
EXTERNAL_URLS = T.StructType([T.StructField("spotify", T.StringType())])
TRACK_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("popularity", T.LongType()),
        T.StructField("external_urls", EXTERNAL_URLS),
        T.StructField(
            "artists",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("id", T.StringType()),
                        T.StructField("name", T.StringType()),
                        T.StructField("external_urls", EXTERNAL_URLS),
                    ]
                )
            ),
        ),
        T.StructField(
            "album",
            T.StructType(
                [
                    T.StructField("id", T.StringType()),
                    T.StructField("name", T.StringType()),
                    T.StructField("release_date", T.StringType()),
                    T.StructField("total_tracks", T.LongType()),
                    T.StructField("external_urls", EXTERNAL_URLS),
                ]
            ),
        ),
    ]
)
ITEM_SCHEMA = T.StructType(
    [T.StructField("added_at", T.StringType()), T.StructField("track", TRACK_SCHEMA)]
)
PLAYLIST_SCHEMA = T.StructType([T.StructField("items", T.ArrayType(ITEM_SCHEMA))])


def read_playlists(reader: DataFrameReader | DataStreamReader, path: str) -> DataFrame:
    """S4: the raw playlist JSON blobs (multiline docs) at ``path``
    through ``reader``, a batch or a stream reader with its own options
    already set. Reference: json.loads at spotifytransform.py:79.

    doc_order is the source file URI: the reference's timestamped blob
    names sort by run, so file order is document order. keep-first
    orders by (doc_order, pos) and pos restarts at 0 per file, so a
    constant here would break cross-file ties arbitrarily whenever one
    frame (a backfill, a micro-batch) holds more than one file.
    """
    df = reader.schema(PLAYLIST_SCHEMA).option("multiLine", True).json(path)
    return df.withColumn("doc_order", F.input_file_name())


def read_raw_json(spark: SparkSession, path: str) -> DataFrame:
    """S4 as a batch: a directory of raw playlist JSON blobs."""
    return read_playlists(spark.read, path)


def explode_items(raw: DataFrame) -> DataFrame:
    """S5: one row per playlist item, keeping (doc_order, pos) so that
    pandas' file-order 'first' has a distributed meaning.

    doc_order is REQUIRED, not defaulted: a silently-injected constant
    would make (doc_order, pos) tie across documents and keep-first
    dedup pick an arbitrary winner per run — the exact
    nondeterminism this column exists to prevent. Callers attach it
    from the file name (read_playlists), the page name or the fixture's
    explicit order.
    """
    if "doc_order" not in raw.columns:
        raise ValueError(
            "explode_items requires a doc_order column (file name or "
            "explicit document order); without it keep-first dedup is "
            "nondeterministic across documents"
        )
    return raw.select("doc_order", item_rows("items"))


def item_rows(items: Column | str) -> Column:
    """S5's generator: one (pos, item) row per element of the playlist
    ``items`` array, pos kept for the keep-first order."""
    return F.posexplode(items).alias("pos", "item")


def keep_first(rows: str, key: str, values: str, order: str) -> str:
    """D1/D2: Spark SQL text of a deterministic keep-first dedup by
    natural key: per ``key`` value of the ``rows`` query, the
    ``values`` of the row that sorts first by ``order`` (each a comma
    list of column names). Returns the ``key`` columns, then
    ``values``.

    Exact parity with pandas drop_duplicates(keep='first') under an
    explicit ordering such as (doc_order, pos). min_by over a struct
    ordering key, NOT a row_number window: the aggregate keeps ONE
    buffered row per key with map-side partial aggregation, while a
    window must route and SORT every duplicate of a hot key (a viral
    album, a NULL natural key) in a single task. One shuffle on the
    key either way.
    """
    return (
        f"SELECT {key}, _r.* FROM (SELECT {key}, min_by(struct({values}), "
        f"struct({order})) AS _r FROM ({rows}) GROUP BY {key})"
    )


def sql_keep_first(rows: str, key: str, values: str, order: str) -> str:
    """DuckDB twin of ``keep_first`` for the oracles, same arguments and
    output columns: the textbook ROW_NUMBER window, an engine and a
    formulation independent of the Spark side."""
    return (
        f"SELECT {key}, {values} FROM (SELECT *, ROW_NUMBER() OVER "
        f"(PARTITION BY {key} ORDER BY {order}) AS _rn FROM ({rows})) WHERE _rn = 1"
    )


# P2: artists[0] ONLY, the reference's lossy array head
# (spotifytransform.py:43-45); explode_artists is the generalized form.
# get(), not [0]: under ANSI an index past the end raises, get is NULL.
_HEAD = "get(item.track.artists, 0)"
_ALBUM = "item.track.album"

# The star schema as one Spark SQL text per table over the exploded
# items, bound as ``{items}``. A text is parsed in the JVM, so a
# table's build is a handful of py4j round trips, not one per column.
STAR_SQL = {
    # P3 + C1: songs fact table (spotifytransform.py:50-64,91-92).
    "songs": (
        "SELECT item.track.id AS song_id, item.track.name AS name, "
        "item.track.duration_ms AS duration_ms, item.track.external_urls.spotify AS url, "
        "item.track.popularity AS popularity, to_timestamp(item.added_at) AS added_date, "
        f"{_ALBUM}.id AS album_id, {_HEAD}.id AS artist_id FROM {{items}}"
    ),
    # P2 + D1: artists dimension (spotifytransform.py:39-48,95).
    "artists": keep_first(
        f"SELECT doc_order, pos, {_HEAD}.id AS artist_id, {_HEAD}.name AS name, "
        f"{_HEAD}.external_urls.spotify AS url FROM {{items}}",
        "artist_id",
        "name, url",
        "doc_order, pos",
    ),
    # P1 + C2 + D2: albums dimension (spotifytransform.py:26-37,97-99).
    "albums": keep_first(
        f"SELECT doc_order, pos, {_ALBUM}.id AS album_id, {_ALBUM}.name AS name, "
        f"{parse_release_date(_ALBUM + '.release_date')} AS release_date, "
        f"{_ALBUM}.total_tracks AS total_tracks, {_ALBUM}.external_urls.spotify AS url "
        "FROM {items}",
        "album_id",
        "name, release_date, total_tracks, url",
        "doc_order, pos",
    ),
}


def explode_artists(items: DataFrame) -> DataFrame:
    """Generalization of P2: every artist, not just element 0."""
    return items.select(
        "doc_order",
        "pos",
        F.posexplode("item.track.artists").alias("artist_pos", "artist"),
    ).select(
        "doc_order",
        "pos",
        "artist_pos",
        F.col("artist.id").alias("artist_id"),
        F.col("artist.name").alias("name"),
        F.col("artist.external_urls.spotify").alias("url"),
    )


def star_tables(items: DataFrame) -> dict[str, DataFrame]:
    """The star schema over exploded items: songs fact plus the
    keep-first artists and albums dimensions, each one ``STAR_SQL``
    text with ``items`` bound as a query-scoped view."""
    spark = items.sparkSession
    return {name: spark.sql(text, items=items) for name, text in STAR_SQL.items()}


def transform(raw: DataFrame) -> dict[str, DataFrame]:
    """The full reference transform (spotifytransform.py:77-99): the
    star schema over the raw playlist docs, for a backfill and for one
    micro-batch alike.

    The exploded items are ``catalog.share``d, so a caller that writes
    all three tables parses the raw JSON once, not once per table.
    """
    return star_tables(share(explode_items(raw)))
