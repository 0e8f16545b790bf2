"""Golden tests for the reference-parity Spotify pipeline.

Expected values are computed by an INDEPENDENT pure-Python
reimplementation of the reference's pandas semantics
(/root/reference/spotifytransform.py:26-99): explode file-order,
artists[0] head, keep-first dedup, mixed-granularity date padding.
"""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import functions as F

from spotify_serverless_etl_pipeline_engineering_with_azure_spark.catalog import share
from spotify_serverless_etl_pipeline_engineering_with_azure_spark.functions.dates import (
    parse_release_date,
)
from spotify_serverless_etl_pipeline_engineering_with_azure_spark.operators import spotify
from spotify_serverless_etl_pipeline_engineering_with_azure_spark.operators.fixtures import (
    fixture_df,
    generate_docs,
    write_json_dir,
)

from .conftest import py4j_round_trips
from .plan_digest import digest, fields


def _pad_date(s: str) -> dt.date:
    if len(s) == 4:
        s += "-01-01"
    elif len(s) == 7:
        s += "-01"
    return dt.date.fromisoformat(s)


def expected_tables(docs):
    songs, artists, albums = [], {}, {}
    for doc in docs:
        for item in doc["items"]:
            t = item["track"]
            head = t["artists"][0]
            songs.append(
                (
                    t["id"],
                    t["name"],
                    t["duration_ms"],
                    t["external_urls"]["spotify"],
                    t["popularity"],
                    dt.datetime.strptime(item["added_at"], "%Y-%m-%dT%H:%M:%SZ"),
                    t["album"]["id"],
                    head["id"],
                )
            )
            if head["id"] not in artists:  # keep-first
                artists[head["id"]] = (
                    head["id"],
                    head["name"],
                    head["external_urls"]["spotify"],
                )
            al = t["album"]
            if al["id"] not in albums:  # keep-first
                albums[al["id"]] = (
                    al["id"],
                    al["name"],
                    _pad_date(al["release_date"]),
                    al["total_tracks"],
                    al["external_urls"]["spotify"],
                )
    return songs, list(artists.values()), list(albums.values())


@pytest.fixture(scope="module")
def docs():
    return generate_docs()


@pytest.fixture(scope="module")
def tables(spark, docs):
    return spotify.transform(fixture_df(spark))


def test_songs_match_reference_semantics(tables, docs):
    exp_songs, _, _ = expected_tables(docs)
    got = sorted(tuple(r) for r in tables["songs"].collect())
    assert got == sorted(exp_songs)
    assert tables["songs"].columns == [
        "song_id", "name", "duration_ms", "url", "popularity",
        "added_date", "album_id", "artist_id",
    ]


def test_artists_keep_first_dedup(tables, docs):
    _, exp_artists, _ = expected_tables(docs)
    got = sorted(tuple(r) for r in tables["artists"].collect())
    assert got == sorted(exp_artists)  # values prove keep-FIRST, ids prove dedup
    assert tables["artists"].columns == ["artist_id", "name", "url"]


def test_albums_keep_first_and_date_padding(tables, docs):
    _, _, exp_albums = expected_tables(docs)
    got = sorted(tuple(r) for r in tables["albums"].collect())
    assert got == sorted(exp_albums)
    assert tables["albums"].columns == ["album_id", "name", "release_date", "total_tracks", "url"]


def test_row_count_invariants(tables, docs):
    n_items = sum(len(d["items"]) for d in docs)
    assert tables["songs"].count() == n_items
    assert tables["artists"].count() <= n_items
    assert tables["albums"].count() <= n_items


def test_array_head_is_lossy_and_explode_generalizes(spark, docs):
    items = spotify.explode_items(fixture_df(spark))
    n_all_artists = sum(len(i["track"]["artists"]) for d in docs for i in d["items"])
    exploded = spotify.explode_artists(items)
    assert exploded.count() == n_all_artists
    # the head projection sees strictly fewer artist ids than explode
    head_ids = {r.artist_id for r in spotify.star_tables(items)["artists"].collect()}
    all_ids = {r.artist_id for r in exploded.collect()}
    assert head_ids <= all_ids and len(head_ids) < len(all_ids)


def test_json_dir_roundtrip(spark, tmp_path, docs):
    """S4/S2: the raw-zone JSON files parse to the same star schema."""
    write_json_dir(str(tmp_path / "raw"))
    raw = spotify.read_raw_json(spark, str(tmp_path / "raw"))
    got = spotify.transform(raw)
    exp_songs, exp_artists, exp_albums = expected_tables(docs)
    assert sorted(tuple(r) for r in got["songs"].collect()) == sorted(exp_songs)
    # file order == doc order (names sort by doc index) → same keep-first
    assert sorted(tuple(r) for r in got["artists"].collect()) == sorted(exp_artists)
    assert sorted(tuple(r) for r in got["albums"].collect()) == sorted(exp_albums)


def test_transform_parses_raw_json_once(spark, tmp_path):
    """transform shares the exploded items across its three tables, so
    no table's plan scans the raw JSON again: the parse runs once per
    transform, not once per written table. The unshared builder over
    the same raw frame is the negative fixture: one JSON scan per
    table."""
    write_json_dir(str(tmp_path / "raw"))
    raw = spotify.read_raw_json(spark, str(tmp_path / "raw"))

    def json_scans(tables):
        return sum(
            s[0] == "(json)" for df in tables.values() for s in fields(digest(df))["scan"]
        )

    shared = spotify.transform(raw)
    for df in shared.values():
        df.collect()
    assert json_scans(shared) == 0
    assert json_scans(spotify.star_tables(spotify.explode_items(raw))) == 3


def test_keep_first_across_blobs_in_one_partition(spark, tmp_path):
    """Keep-first picks its winner by (doc_order, pos), not by the order
    rows reach the aggregate. Twelve blobs read into ONE partition (the
    file scan packs files by size, not by name, and names cross the
    ...0009/...0010 boundary) give the reference's file-order winners:
    a stream batch holding several blobs and a backfill agree."""
    write_json_dir(str(tmp_path / "raw"), n_docs=12)
    raw = spotify.read_raw_json(spark, str(tmp_path / "raw")).coalesce(1)
    got = spotify.transform(raw)
    for name, want in zip(("songs", "artists", "albums"), expected_tables(generate_docs(12))):
        assert sorted(tuple(r) for r in got[name].collect()) == sorted(want), name


# py4j round trips of one transform build over a one-blob frame: 48
# measured (Spark 4.1, py4j 0.10.9.9); 295 for _column_star_tables.
TRANSFORM_ROUND_TRIPS = 60


def _column_star_tables(items):
    """The star schema built column by column with the DataFrame API,
    each F.col(...).alias(...) one or more py4j round trips."""
    head = F.get(F.col("item.track.artists"), 0)

    def keep_first(key, cols):
        proj = items.select("doc_order", "pos", *[c.alias(n) for n, c in cols.items()])
        others = [n for n in cols if n != key]
        first = F.min_by(F.struct(*others), F.struct("doc_order", "pos")).alias("_r")
        return proj.groupBy(key).agg(first).select(
            key, *[F.col(f"_r.{n}").alias(n) for n in others]
        )

    return {
        "songs": items.select(
            F.col("item.track.id").alias("song_id"),
            F.col("item.track.name").alias("name"),
            F.col("item.track.duration_ms").alias("duration_ms"),
            F.col("item.track.external_urls.spotify").alias("url"),
            F.col("item.track.popularity").alias("popularity"),
            F.to_timestamp(F.col("item.added_at")).alias("added_date"),
            F.col("item.track.album.id").alias("album_id"),
            head.getField("id").alias("artist_id"),
        ),
        "artists": keep_first(
            "artist_id",
            {
                "artist_id": head.getField("id"),
                "name": head.getField("name"),
                "url": head.getField("external_urls").getField("spotify"),
            },
        ),
        "albums": keep_first(
            "album_id",
            {
                "album_id": F.col("item.track.album.id"),
                "name": F.col("item.track.album.name"),
                "release_date": F.expr(parse_release_date("item.track.album.release_date")),
                "total_tracks": F.col("item.track.album.total_tracks"),
                "url": F.col("item.track.album.external_urls.spotify"),
            },
        ),
    }


def test_transform_build_round_trips_are_bounded(spark, tmp_path):
    """The fixed per-trigger cost of the blob stream: one transform
    build over a one-blob frame, as sink_batch runs it, stays within
    TRANSFORM_ROUND_TRIPS py4j round trips. The same tables built
    column by column (the negative fixture) give the same rows and
    schemas and exceed the bound."""
    write_json_dir(str(tmp_path / "raw"), n_docs=1)
    raw = spotify.read_raw_json(spark, str(tmp_path / "raw")).coalesce(1)
    spotify.transform(raw)  # the first build resolves classes once per session
    with py4j_round_trips() as sql_build:
        tables = spotify.transform(raw)
    with py4j_round_trips() as column_build:
        by_column = _column_star_tables(share(spotify.explode_items(raw)))
    assert sql_build.n <= TRANSFORM_ROUND_TRIPS < column_build.n, (sql_build.n, column_build.n)
    for name, df in tables.items():
        assert df.schema == by_column[name].schema, name
        assert sorted(df.collect()) == sorted(by_column[name].collect()), name


def test_datasource_tolerates_explicit_nulls(spark, tmp_path):
    """The Spotify API emits EXPLICIT nulls ('items': null on an empty
    page, 'track': null for removed/local tracks); reading such pages
    through the spotify_playlist source must skip them or give NULL
    columns, not fail the task."""
    import json

    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.operators.spotify_queries import (
        read_playlist_pages,
    )

    pages = tmp_path / "pages"
    pages.mkdir()
    (pages / "spotify_raw_20230101000000.json").write_text(json.dumps({
        "items": [
            None,
            {"added_at": "2023-01-01T00:00:00Z", "track": None},
            {"added_at": "2023-01-02T00:00:00Z",
             "track": {"id": "t1", "name": "song", "artists": None,
                       "album": None, "duration_ms": 1000}},
            {"added_at": "2023-01-03T00:00:00Z",
             "track": {"id": "t2", "name": "s2", "artists": [None],
                       "album": {"id": "al1"}}},
        ],
    }))
    rows = read_playlist_pages(spark, str(pages)).collect()
    assert len(rows) == 4  # every item yields a row, nulls become NULL columns
    by_track = {r.track_id: r for r in rows}
    assert by_track["t1"].artist_id is None  # artists null -> artist_id NULL
    assert by_track["t2"].album_id == "al1"  # album survives a null artists[0]

    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "spotify_raw_20230101000001.json").write_text(json.dumps({"items": None}))
    assert read_playlist_pages(spark, str(empty)).count() == 0

    # A torn page is an error, not an empty page.
    (empty / "spotify_raw_20230101000002.json").write_text('{"items": [')
    with pytest.raises(Exception, match="MALFORMED_RECORD"):
        read_playlist_pages(spark, str(empty)).count()


def test_datasource_parses_each_page_once(spark):
    """S1 parses each page body once: the optimized plan of
    rest_datasource_playlist holds one from_json. Exploding a computed
    items column instead lets the optimizer infer a non-empty filter
    and push it below the parse with the parse substituted in: three."""
    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.operators.spotify_queries import (
        _ensure_ds_fixture,
        read_playlist_pages,
    )

    df = read_playlist_pages(spark, _ensure_ds_fixture())
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("from_json(") == 1, plan


def test_stream_oracle_tells_blobs_from_one_merged_batch():
    """streaming_csv_sink_roundtrip's oracle keeps first per blob, one
    micro-batch per blob as the reference runs. A stream that merged
    the blobs into one batch would keep first across all of them; on
    the seed-42 pages that gives other rows, so the hash check catches
    it."""
    import duckdb

    from spotify_serverless_etl_pipeline_engineering_with_azure_spark import registry
    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.operators.spotify_queries import (
        _stream_oracle,
    )

    from .oracle_mirror import compare

    per_blob_sql = _stream_oracle("u.filename")
    assert registry.load_all()["streaming_csv_sink_roundtrip"].oracle == per_blob_sql
    per_blob = duckdb.sql(per_blob_sql).df()
    merged = duckdb.sql(_stream_oracle("'one batch'")).df()
    assert len(per_blob) == len(merged) == 290  # one row per song either way
    assert compare(per_blob, merged)


def test_datasource_packs_files_beyond_partition_ceiling(tmp_path, monkeypatch):
    """Beyond MAX_PARTITIONS page files, partitions must PACK multiple
    files each (bounded task count — one-task-per-file is a 10^7-task
    job at catalog scale) while covering every file exactly once and
    keeping one-file-per-task below the ceiling."""
    import json

    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.sources import (
        playlist_datasource as pds,
    )

    for i in range(10):
        (tmp_path / f"page_{i:03d}.json").write_text(json.dumps({"items": []}))
    reader = pds.SpotifyPlaylistReader({"path": str(tmp_path)})

    monkeypatch.setattr(pds, "MAX_PARTITIONS", 4)
    parts = reader.partitions()
    assert len(parts) <= 4
    covered = [p for part in parts for p in part.paths]
    assert len(covered) == 10 and len(set(covered)) == 10

    monkeypatch.setattr(pds, "MAX_PARTITIONS", 4096)
    parts = reader.partitions()
    assert len(parts) == 10 and all(len(p.paths) == 1 for p in parts)


def test_datasource_empty_glob_fails_loudly(tmp_path):
    """Zero glob matches must raise, not return an empty frame: glob
    does not resolve cloud URIs, so a wrong/typo'd path would otherwise
    make every downstream table silently empty on a green run. An
    explicitly-empty raw zone opts out via allowEmpty."""
    import pytest

    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.sources import (
        playlist_datasource as pds,
    )

    empty = tmp_path / "nothing_here"
    empty.mkdir()
    with pytest.raises(FileNotFoundError, match="allowEmpty"):
        pds.SpotifyPlaylistReader({"path": str(empty)}).partitions()
    with pytest.raises(FileNotFoundError):
        pds.SpotifyPlaylistReader(
            {"path": "abfss://raw@acct.dfs.core.windows.net/pages"}
        ).partitions()
    ok = pds.SpotifyPlaylistReader({"path": str(empty), "allowEmpty": "true"})
    assert ok.partitions() == []


def test_write_json_dir_padded_names_sort_in_doc_order(tmp_path):
    """Blob names must sort lexicographically in doc order past ten
    docs — keep-first dedup's winner is defined by that order, and the
    old unpadded index made '...010' sort before '...02', silently
    flipping winners relative to fixture_df's padded doc_order (both
    engines read the same filenames, so parity could never catch it)."""
    import os

    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.operators.fixtures import (
        write_json_dir,
    )

    paths = write_json_dir(str(tmp_path / "raw"), n_docs=12)
    names = [os.path.basename(p) for p in paths]
    assert sorted(names) == names, f"blob names must sort in doc order: {names}"
    assert not [p for p in os.listdir(tmp_path / "raw") if ".tmp." in p]
