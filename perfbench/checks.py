"""Output checks, run outside every timed region.

- Registry queries: the Spark result against the query's DuckDB oracle
  SQL (``registry.oracle_sql()``), compared order-insensitively on
  canonical cell strings, so any bit difference between engines shows.
- ETL outputs: the CSV tables against a plain-Python keep-first oracle
  over the same generated playlist documents.

Each check returns a list of problems; empty means the output matched.
"""

from __future__ import annotations

import csv
import datetime as dt
import glob
import math
import os
from collections import Counter

import duckdb
import pandas as pd


def _canon(v) -> str:
    if v is None or v is pd.NaT:
        return "<null>"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, (pd.Timestamp, dt.datetime)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, int):
        return str(int(v))
    return str(v)


def frame_rows(df: pd.DataFrame) -> Counter:
    """Canonical rows of a result frame, columns in name order."""
    cols = sorted(df.columns)
    return Counter(tuple(_canon(v) for v in row) for row in df[cols].itertuples(index=False))


def oracle_conn(data_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB views over every table file in ``data_dir``."""
    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def check_query(name: str, got: pd.DataFrame, oracle_sql: str, data_dir: str,
                corrupt: bool = False) -> list[str]:
    con = oracle_conn(data_dir)
    try:
        want = con.execute(oracle_sql).fetchdf()
    finally:
        con.close()
    if sorted(got.columns) != sorted(want.columns):
        return [f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}"]
    rows = frame_rows(got)
    return compare_rows(name, corrupt_one(rows) if corrupt and rows else rows, frame_rows(want))


# --- ETL: keep-first star schema -------------------------------------------


def _release_date(s: str) -> str:
    parts = s.split("-")
    return "-".join(parts + ["01"] * (3 - len(parts)))


def star_oracle(docs: list[dict]) -> dict[str, Counter]:
    """songs / artists / albums as the reference transform defines them,
    with keep-first over (document order, item position). Cells are the
    strings the CSV sink writes."""
    songs: Counter = Counter()
    artists: dict[str, tuple] = {}
    albums: dict[str, tuple] = {}
    for doc in docs:
        for item in doc["items"]:
            t = item["track"]
            head = t["artists"][0]
            al = t["album"]
            songs[
                (
                    t["id"], t["name"], str(t["duration_ms"]), t["external_urls"]["spotify"],
                    str(t["popularity"]), item["added_at"], al["id"], head["id"],
                )
            ] += 1
            artists.setdefault(head["id"], (head["id"], head["name"], head["external_urls"]["spotify"]))
            albums.setdefault(
                al["id"],
                (
                    al["id"], al["name"], _release_date(al["release_date"]),
                    str(al["total_tracks"]), al["external_urls"]["spotify"],
                ),
            )
    return {
        "songs": songs,
        "artists": Counter(artists.values()),
        "albums": Counter(albums.values()),
    }


COLUMNS = {
    "songs": ("song_id", "name", "duration_ms", "url", "popularity", "added_date", "album_id", "artist_id"),
    "artists": ("artist_id", "name", "url"),
    "albums": ("album_id", "name", "release_date", "total_tracks", "url"),
}


def read_csv_dir(path: str, table: str) -> Counter:
    """Rows of a multi-part header CSV directory, in COLUMNS order."""
    rows: Counter = Counter()
    for part in sorted(glob.glob(os.path.join(path, "part-*.csv"))):
        with open(part, newline="", encoding="utf-8") as f:
            reader = csv.reader(f)
            header = next(reader, None)
            if header is None:
                continue
            idx = [header.index(c) for c in COLUMNS[table]]
            for rec in reader:
                rows[tuple(rec[i] for i in idx)] += 1
    return rows


def compare_rows(table: str, got: Counter, want: Counter) -> list[str]:
    if got == want:
        return []
    extra, missing = got - want, want - got
    return [
        f"{table}: {sum(extra.values())} unexpected and {sum(missing.values())} "
        f"missing rows; e.g. got {sorted(extra)[:1]} want {sorted(missing)[:1]}"
    ]


def corrupt_one(rows: Counter) -> Counter:
    """A copy of ``rows`` with one cell of one row changed (the negative
    case of the smoke test)."""
    out = rows.copy()
    victim = min(out)
    out[victim] -= 1
    out += Counter({(victim[0] + "#corrupt",) + victim[1:]: 1})
    return +out
