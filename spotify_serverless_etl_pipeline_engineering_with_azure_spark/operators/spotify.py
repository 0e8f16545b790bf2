"""The reference pipeline, Spark-first: nested playlist JSON → explode →
three projection branches → casts → keep-first dedup → star schema.

Operator parity (SURVEY.md §2.1, citations into /root/reference/):
  S4 JSON parse      → spark.read.json with explicit schema (no inference)
  S5 explode items   → posexplode (position kept for keep-first order)
  P1 albums project  → nested-field select (spotifytransform.py:26-37)
  P2 artists[0] head → F.get(track.artists, 0) (spotifytransform.py:39-48)
  P3 songs project   → 3-level nested select (spotifytransform.py:50-64)
  P4 schema attach   → .alias per column (spotifytransform.py:91,94,97)
  C1 ts cast         → to_timestamp (spotifytransform.py:92)
  C2 mixed dates     → parse_release_date (spotifytransform.py:99)
  D1/D2 dedup        → min_by over a (doc_order, pos) struct key
                       (spotifytransform.py:95,98 — pandas keep='first';
                       distributed "first" is made explicit as
                       file-order × item-position, SURVEY.md §7)

Scale posture: one wide `select` per branch — Catalyst prunes the
nested schema down to the accessed fields (the reference does this
pruning by hand); dedup is a keep-first aggregate over the natural
key, which shuffles once on the key unless the input already sits in
one partition. For set-semantics dedup (row choice irrelevant) use
``dropDuplicates`` instead — noted per call site.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

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


def read_raw_json(spark: SparkSession, path: str) -> DataFrame:
    """S4: read a directory of raw playlist JSON blobs (multiline docs).

    Reference: json.loads at spotifytransform.py:79. Document order is
    the file name (the reference's timestamped blob names sort by run).
    """
    df = spark.read.schema(PLAYLIST_SCHEMA).option("multiLine", True).json(path)
    return df.withColumn("doc_order", F.input_file_name())


def explode_items(raw: DataFrame) -> DataFrame:
    """S5: one row per playlist item, keeping (doc_order, pos) so that
    pandas' file-order 'first' has a distributed meaning.

    doc_order is REQUIRED, not defaulted: a silently-injected constant
    would make (doc_order, pos) tie across documents and keep-first
    dedup pick an arbitrary winner per run — the exact
    nondeterminism this column exists to prevent. Callers attach it
    from the file name (read_raw_json, the streaming source) or the
    fixture's explicit order.
    """
    if "doc_order" not in raw.columns:
        raise ValueError(
            "explode_items requires a doc_order column (file name or "
            "explicit document order); without it keep-first dedup is "
            "nondeterministic across documents"
        )
    return raw.select("doc_order", F.posexplode("items").alias("pos", "item"))


def _keep_first(df: DataFrame, keys: list[str], order: list[str]) -> DataFrame:
    """D1/D2: deterministic keep-first dedup by natural key: per
    ``keys`` value, the row that sorts first by ``order``. Returns the
    ``keys`` columns, then the others in input order.

    Exact parity with pandas drop_duplicates(keep='first') under an
    explicit ordering such as (doc_order, pos). min_by over a struct
    ordering key, NOT a row_number window: the aggregate keeps ONE
    buffered row per key with map-side partial aggregation, while a
    window must route and SORT every duplicate of a hot key (a viral
    album, a NULL natural key) in a single task. One shuffle on the
    key either way.
    """
    others = [c for c in df.columns if c not in keys]
    return (
        df.groupBy(*keys)
        .agg(F.min_by(F.struct(*others), F.struct(*order)).alias("_r"))
        .select(*keys, *[F.col(f"_r.{c}").alias(c) for c in others])
    )


def make_albums(items: DataFrame) -> DataFrame:
    """P1 + C2 + D2: albums dimension (spotifytransform.py:26-37,97-99)."""
    proj = items.select(
        "doc_order",
        "pos",
        F.col("item.track.album.id").alias("album_id"),
        F.col("item.track.album.name").alias("name"),
        parse_release_date(F.col("item.track.album.release_date")).alias("release_date"),
        F.col("item.track.album.total_tracks").alias("total_tracks"),
        F.col("item.track.album.external_urls.spotify").alias("url"),
    )
    return _keep_first(proj, ["album_id"], ["doc_order", "pos"]).select(
        "album_id", "name", "release_date", "total_tracks", "url"
    )


def make_artists(items: DataFrame) -> DataFrame:
    """P2 + D1: artists dimension from artists[0] ONLY — the reference's
    lossy array-head projection (spotifytransform.py:43-45). The
    generalized explode-all-artists form is explode_artists()."""
    head = F.get(F.col("item.track.artists"), 0)
    proj = items.select(
        "doc_order",
        "pos",
        head.getField("id").alias("artist_id"),
        head.getField("name").alias("name"),
        head.getField("external_urls").getField("spotify").alias("url"),
    )
    return _keep_first(proj, ["artist_id"], ["doc_order", "pos"]).select(
        "artist_id", "name", "url"
    )


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


def make_songs(items: DataFrame) -> DataFrame:
    """P3 + C1: songs fact table (spotifytransform.py:50-64,91-92)."""
    return items.select(
        F.col("item.track.id").alias("song_id"),
        F.col("item.track.name").alias("name"),
        F.col("item.track.duration_ms").alias("duration_ms"),
        F.col("item.track.external_urls.spotify").alias("url"),
        F.col("item.track.popularity").alias("popularity"),
        F.to_timestamp(F.col("item.added_at")).alias("added_date"),
        F.col("item.track.album.id").alias("album_id"),
        F.get(F.col("item.track.artists"), 0).getField("id").alias("artist_id"),
    )


def star_tables(items: DataFrame) -> dict[str, DataFrame]:
    """The star schema over exploded items: songs fact plus the
    keep-first artists and albums dimensions."""
    return {
        "songs": make_songs(items),
        "artists": make_artists(items),
        "albums": make_albums(items),
    }


def transform(raw: DataFrame) -> dict[str, DataFrame]:
    """The full reference transform (spotifytransform.py:77-99): the
    star schema over the raw playlist docs, for a backfill and for one
    micro-batch alike.

    The exploded items are ``catalog.share``d, so a caller that writes
    all three tables parses the raw JSON once, not once per table.
    """
    return star_tables(share(explode_items(raw)))
