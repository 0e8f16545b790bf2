"""S1 as a first-class Spark source: a PySpark 4 Python DataSource.

The reference fetches playlist pages driver-side inside an Azure
Function (/root/reference/spotifyextract.py:61-74). The idiomatic
Spark-4 form is a custom ``DataSource``: each REST page becomes an
``InputPartition``, so page fetch runs ON EXECUTORS in parallel — the
scale path when "one playlist" becomes "ten million catalog pages".
This implementation reads raw-zone JSON page files (the reference's
own landing format, spotifyextract.py:92-101); a real deployment swaps
the file read in ``read`` for an HTTP GET with the same pagination
contract.

Registered under format name ``spotify_playlist``, one
``(page, body)`` row per page; the body is parsed and flattened on the
frame by the pipeline's own operators
(``spotify_queries.read_playlist_pages``):

    spark.dataSource.register(SpotifyPlaylistDataSource)
    spark.read.format("spotify_playlist").option("path", dir).load()
"""

from __future__ import annotations

import glob
import os
from collections.abc import Iterator

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

# Scheduler-task ceiling: beyond this many page files, partitions PACK
# multiple files each (what Spark's native file sources do via
# maxPartitionBytes/openCostInBytes). One-task-per-file at the module's
# "ten million catalog pages" posture would mean 10⁷ pickled partition
# objects on the driver and a 10⁷-task job whose scheduling overhead
# dwarfs the parsing; packing keeps the task count bounded while each
# task streams its file batch sequentially. (At production listing
# scale the enumeration itself comes from a catalog/object-store
# inventory rather than a glob — the partition SHAPE is the part this
# source pins.)
MAX_PARTITIONS = 4096


class _PagePartition(InputPartition):
    def __init__(self, paths: tuple[str, ...]) -> None:
        self.paths = paths


class SpotifyPlaylistReader(DataSourceReader):
    def __init__(self, options: dict[str, str]) -> None:
        self.path = options["path"]
        self.allow_empty = options.get("allowEmpty", "false").lower() == "true"

    def partitions(self) -> list[InputPartition]:
        # Pages are enumerated here (listing) and fetched in read()
        # (expensive IO) on the cluster; files pack MAX_PARTITIONS-ways
        # so the task count is bounded while small page sets keep one
        # file per task (batch size 1 until the ceiling is reached).
        files = sorted(glob.glob(os.path.join(self.path, "*.json")))
        if not files:
            # Zero matches is almost always a WRONG PATH (glob.glob
            # does not understand cloud URIs, and a typo'd local dir
            # matches nothing) — returning an empty frame would make
            # every downstream table silently empty on a green run.
            # Mirror Spark's native file sources: fail loudly, with an
            # explicit allowEmpty opt-out for genuinely-empty raw zones.
            if self.allow_empty:
                return []
            raise FileNotFoundError(
                f"spotify_playlist source matched no *.json under "
                f"{self.path!r} (glob does not resolve cloud URIs; set "
                f"option('allowEmpty', 'true') if an empty raw zone is "
                f"expected)"
            )
        per = -(-len(files) // MAX_PARTITIONS)  # ceil division
        return [
            _PagePartition(tuple(files[i : i + per]))
            for i in range(0, len(files), per)
        ]

    def read(self, partition: _PagePartition) -> Iterator[tuple]:
        # The page body as fetched: parsing and flattening are the
        # pipeline's own S4/S5 operators, run on the frame.
        for path in partition.paths:
            with open(path, encoding="utf-8") as f:
                yield os.path.basename(path), f.read()


class SpotifyPlaylistDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "spotify_playlist"

    def schema(self) -> str:
        return "page string, body string"

    def reader(self, schema) -> SpotifyPlaylistReader:
        return SpotifyPlaylistReader(dict(self.options))
