"""Deterministic Spotify-shaped fixture generator (FIXTURES.md §1).

Seed-42 synthetic playlist documents exercising every reference
semantic: duplicate album/artist ids with DIFFERING non-key fields
(keep-first observable), multi-artist tracks (array-head loss
observable), mixed-granularity release dates, several documents (stream
micro-batches).
"""

from __future__ import annotations

import json
import os
import random
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .spotify import PLAYLIST_SCHEMA


def make_playlist_doc(rng: random.Random, doc_idx: int, n_items: int) -> dict[str, Any]:
    items = []
    for i in range(n_items):
        album_n = rng.randrange(0, max(2, n_items // 3))
        artist_pool = rng.sample(range(0, max(4, n_items // 2)), k=rng.randint(1, 4))
        gran = rng.choice(["y", "ym", "ymd"])
        year = rng.randint(1990, 2023)
        release = {
            "y": f"{year}",
            "ym": f"{year}-{rng.randint(1, 12):02d}",
            "ymd": f"{year}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}",
        }[gran]
        items.append(
            {
                "added_at": f"2023-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
                f"T{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}Z",
                "track": {
                    "id": f"track_{doc_idx}_{i}",
                    "name": f"Song {doc_idx}-{i}",
                    "duration_ms": rng.randint(90_000, 360_000),
                    "popularity": rng.randint(0, 100),
                    "external_urls": {"spotify": f"https://open.spotify.com/track/t{doc_idx}_{i}"},
                    "artists": [
                        {
                            "id": f"artist_{a}",
                            # differing non-key payload per occurrence →
                            # keep-first is observable
                            "name": f"Artist {a} (seen in doc{doc_idx} item{i})",
                            "external_urls": {"spotify": f"https://open.spotify.com/artist/a{a}"},
                        }
                        for a in artist_pool
                    ],
                    "album": {
                        "id": f"album_{album_n}",
                        "name": f"Album {album_n} (seen in doc{doc_idx} item{i})",
                        "release_date": release,
                        "total_tracks": rng.randint(1, 20),
                        "external_urls": {"spotify": f"https://open.spotify.com/album/al{album_n}"},
                    },
                },
            }
        )
    return {"items": items}


def generate_docs(n_docs: int = 4, seed: int = 42) -> list[dict[str, Any]]:
    rng = random.Random(seed)
    return [make_playlist_doc(rng, d, rng.randint(50, 100)) for d in range(n_docs)]


def blob_name(d: int) -> str:
    """Raw-zone blob name for doc index d. ZERO-PADDED: keep-first
    dedup's winner is defined by lexicographic filename order (the
    'timestamped blobs sort by run' contract), and an unpadded index
    breaks it at d >= 10 ('...010.json' sorts before '...02.json'),
    silently changing dedup winners relative to fixture_df's padded
    doc_order — a divergence both engines would agree on (they read
    the same filenames), so oracle parity could never catch it."""
    return f"spotify_raw_2023010100{d:04d}.json"


def write_json_dir(out_dir: str, n_docs: int = 4, seed: int = 42) -> list[str]:
    """Write one pretty-printed JSON blob per doc (S2's raw-zone shape:
    spotify_raw_<ts>.json, spotifyextract.py:92-101).

    Each file lands via tmp-write + os.replace, so a concurrent reader
    (another test session, the DuckDB oracle's glob) never sees a
    half-flushed JSON document — json.dump in place would expose torn
    files for the duration of the write."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for d, doc in enumerate(generate_docs(n_docs, seed)):
        p = os.path.join(out_dir, blob_name(d))
        tmp = f"{p}.tmp.{os.getpid()}"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(doc, f, indent=2)
        os.replace(tmp, p)
        paths.append(p)
    return paths


def fixture_df(spark: SparkSession) -> DataFrame:
    """In-memory fixture DataFrame over ``generate_docs()`` with an
    explicit doc_order column (analogue of the file-name order for
    createDataFrame input)."""
    docs = generate_docs()
    rows = [(f"doc_{d:04d}", doc["items"]) for d, doc in enumerate(docs)]
    schema = "doc_order string, items " + PLAYLIST_SCHEMA["items"].dataType.simpleString()
    df = spark.createDataFrame(rows, schema=schema)
    return df.select("doc_order", F.col("items"))
