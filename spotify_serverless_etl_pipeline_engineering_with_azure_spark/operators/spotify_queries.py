"""Registry entries for the reference-parity Spotify pipeline.

Every query here is hash-certified: the Spark side reads the staged
seed-42 raw-zone JSON pages (the reference's S2 blob shape) and the
DuckDB oracle ``read_json``s the IDENTICAL bytes, so the driver's
value-hash compare covers the full pipeline — S4 parse, S5 explode,
P1/P2/P3 projections, C1/C2 casts, D1/D2 keep-first dedup
(/root/reference/spotifytransform.py:26-99). Golden-value tests live in
tests/test_spotify_pipeline.py; the four star-schema queries are
additionally digest-certified via ``reference_pipeline_suite``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.dates import SQL_PARSE_RELEASE_DATE
from ..registry import register
from . import spotify

_DS_FIXTURE_DIR = "/tmp/sse_playlist_pages_v1"

# Explicit read_json schema — mirror of spotify.PLAYLIST_SCHEMA (no
# inference on either engine).
_DS_COLUMNS = """{'items': 'STRUCT(added_at VARCHAR, track STRUCT(id VARCHAR,
      name VARCHAR, duration_ms BIGINT, popularity BIGINT,
      external_urls STRUCT(spotify VARCHAR),
      artists STRUCT(id VARCHAR, name VARCHAR,
                     external_urls STRUCT(spotify VARCHAR))[],
      album STRUCT(id VARCHAR, name VARCHAR, release_date VARCHAR,
                   total_tracks BIGINT,
                   external_urls STRUCT(spotify VARCHAR))))[]'}"""

# One row per playlist item with its source file and 0-based position —
# the distributed analogue of pandas' file-order keep='first'
# (spotifytransform.py:95,98). Zipped unnests give the position.
_DS_ITEMS = f"""
  SELECT filename,
         UNNEST(items) AS item,
         UNNEST(RANGE(0, LEN(items))) AS pos
  FROM read_json('{_DS_FIXTURE_DIR}/*.json', filename=true, auto_detect=false,
    columns={_DS_COLUMNS})
"""

_DS_ORACLE = f"""
SELECT REGEXP_EXTRACT(u.filename, '([^/]+)$', 1) AS page,
       u.item.added_at AS added_at,
       u.item.track.id AS track_id,
       u.item.track.name AS track_name,
       u.item.track.duration_ms AS duration_ms,
       u.item.track.popularity AS popularity,
       u.item.track.artists[1].id AS artist_id,
       u.item.track.artists[1].name AS artist_name,
       u.item.track.album.id AS album_id,
       u.item.track.album.name AS album_name,
       u.item.track.album.release_date AS release_date,
       u.item.track.album.total_tracks AS total_tracks
FROM ({_DS_ITEMS}) u
"""


def _ensure_ds_fixture() -> str:
    """Stage the seed-42 page files once per host (deterministic path so
    the DuckDB oracle reads the very same bytes). The freshness check is
    by exact FILENAME SET, not count: a leftover extra page (older
    generator, concurrent tool) would be silently ingested by BOTH
    engines under a count check — parity green, goldens mysteriously
    red — and a 5-file dir would re-stage on every call without ever
    converging.

    Repair is CONVERGENT, never destructive-then-rebuild: expected
    files land first via write_json_dir's atomic per-file replace, THEN
    stray files are removed. The old rmtree+restage form had a window
    where a concurrent session (this is a fixed world-shared path by
    design) saw an empty or partially-staged directory; two sessions
    staging concurrently now race only on byte-identical seed-42
    replaces, which os.replace makes harmless.
    """
    import glob as _glob
    import os as _os

    from .fixtures import blob_name, write_json_dir

    expected = {blob_name(d) for d in range(4)}
    have = {_os.path.basename(p) for p in _glob.glob(f"{_DS_FIXTURE_DIR}/*.json")}
    if have != expected:
        write_json_dir(_DS_FIXTURE_DIR, n_docs=4)
        for fname in have - expected:
            try:
                _os.remove(_os.path.join(_DS_FIXTURE_DIR, fname))
            except OSError:
                pass  # a concurrent repairer removed it first
    return _DS_FIXTURE_DIR


# Stage at import: the driver may evaluate the oracle before (or
# without) invoking the Spark side, and the SQL references the files.
_ensure_ds_fixture()


def _items(spark: SparkSession) -> DataFrame:
    """S4+S5 over the staged raw zone: parse + posexplode. doc_order is
    the file URI — same lexicographic order as the oracle's filename
    (one directory, timestamp-named blobs)."""
    return spotify.explode_items(spotify.read_raw_json(spark, _ensure_ds_fixture()))


_SONGS_ORACLE = f"""
SELECT u.item.track.id AS song_id,
       u.item.track.name AS name,
       u.item.track.duration_ms AS duration_ms,
       u.item.track.external_urls.spotify AS url,
       u.item.track.popularity AS popularity,
       CAST(u.item.added_at AS TIMESTAMP) AS added_date,
       u.item.track.album.id AS album_id,
       u.item.track.artists[1].id AS artist_id
FROM ({_DS_ITEMS}) u
"""


@register("spotify_songs", oracle=_SONGS_ORACLE, tags=("reference", "spotify"))
def spotify_songs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4+S5+P3+P4+C1: songs fact table from nested playlist docs
    (spotifytransform.py:50-64,91-92). added_at carries an explicit Z
    offset, so the parsed instant does not depend on the session
    timezone; its rendering does, and the registry's read pins render
    it in UTC, as the oracle does."""
    return spotify.star_tables(_items(spark))["songs"]


_ARTISTS_ORACLE = f"""
SELECT artist_id, name, url
FROM (
  SELECT u.item.track.artists[1].id AS artist_id,
         u.item.track.artists[1].name AS name,
         u.item.track.artists[1].external_urls.spotify AS url,
         ROW_NUMBER() OVER (
           PARTITION BY u.item.track.artists[1].id
           ORDER BY u.filename, u.pos) AS rn
  FROM ({_DS_ITEMS}) u
) d
WHERE rn = 1
"""


@register("spotify_artists", oracle=_ARTISTS_ORACLE, tags=("reference", "spotify"))
def spotify_artists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2+D1: artists dim — artists[0] head projection (the reference's
    lossy array-head, spotifytransform.py:43-45), keep-first dedup."""
    return spotify.star_tables(_items(spark))["artists"]


_ALBUMS_ORACLE = f"""
SELECT album_id, name, release_date, total_tracks, url
FROM (
  SELECT u.item.track.album.id AS album_id,
         u.item.track.album.name AS name,
         STRFTIME({SQL_PARSE_RELEASE_DATE.format(c="u.item.track.album.release_date")},
                  '%Y-%m-%d') AS release_date,
         u.item.track.album.total_tracks AS total_tracks,
         u.item.track.album.external_urls.spotify AS url,
         ROW_NUMBER() OVER (
           PARTITION BY u.item.track.album.id
           ORDER BY u.filename, u.pos) AS rn
  FROM ({_DS_ITEMS}) u
) d
WHERE rn = 1
"""


@register("spotify_albums", oracle=_ALBUMS_ORACLE, tags=("reference", "spotify"))
def spotify_albums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1+C2+D2: albums dim — mixed-granularity dates
    (spotifytransform.py:26-37,97-99), keep-first dedup. release_date is
    rendered 'yyyy-MM-dd' on both engines (the ref_c2 convention —
    pandas collapses DuckDB DATE to datetime64, so a raw date column
    cannot canonicalize identically); star_tables keeps the date type."""
    return spotify.star_tables(_items(spark))["albums"].withColumn(
        "release_date", F.date_format("release_date", "yyyy-MM-dd")
    )


_ARTISTS_EXPLODED_ORACLE = f"""
SELECT e.page, e.pos, e.artist_pos,
       e.artist.id AS artist_id,
       e.artist.name AS name,
       e.artist.external_urls.spotify AS url
FROM (
  SELECT REGEXP_EXTRACT(u.filename, '([^/]+)$', 1) AS page,
         u.pos,
         UNNEST(RANGE(0, LEN(u.item.track.artists))) AS artist_pos,
         UNNEST(u.item.track.artists) AS artist
  FROM ({_DS_ITEMS}) u
) e
"""


@register(
    "spotify_artists_exploded",
    oracle=_ARTISTS_EXPLODED_ORACLE,
    tags=("reference", "spotify"),
)
def spotify_artists_exploded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized P2: every artist (the reference drops artists 2..n).
    doc_order (a file URI on this path) is surfaced as the page basename
    so both engines emit identical provenance columns."""
    ex = spotify.explode_artists(_items(spark))
    return ex.select(
        F.regexp_extract("doc_order", r"([^/]+)$", 1).alias("page"),
        "pos",
        "artist_pos",
        "artist_id",
        "name",
        "url",
    )


@register("rest_datasource_playlist", oracle=_DS_ORACLE, tags=("source", "datasource", "rest"))
def rest_datasource_playlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 via the PySpark 4 Python DataSource API: page files =
    InputPartitions, parsed executor-side in parallel
    (sources/playlist_datasource.py). Hash-checked against DuckDB
    reading the identical raw-zone JSON."""
    from ..sources.playlist_datasource import SpotifyPlaylistDataSource

    try:
        spark.dataSource.register(SpotifyPlaylistDataSource)
    except Exception as e:
        # Only the already-registered case is benign; anything else
        # (pickling failure, missing DataSource API) would otherwise
        # resurface downstream as an unrelated "data source not found".
        # Match the specific message shape — a bare "exist" substring
        # would also swallow unrelated "path does not exist" failures.
        msg = str(e).lower()
        if "already exist" not in msg and "already registered" not in msg:
            raise
    path = _ensure_ds_fixture()
    return spark.read.format("spotify_playlist").option("path", path).load()
