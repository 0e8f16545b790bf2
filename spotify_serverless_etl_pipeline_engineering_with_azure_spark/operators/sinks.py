"""Sinks (SURVEY.md §2.1 K1/K2/X2/X3).

Reference behavior: per-run timestamped CSV per table under
``transformed_data/{song,album,artist}_data/`` with header, UTF-8,
single object (spotifytransform.py:19-24,101-130).

Scale posture: multi-part output, one file per partition, which is
what survives 100 TB. Run-scoped output naming maps to a run_id
subdirectory instead of a filename suffix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_csv(df: DataFrame, out_dir: str) -> None:
    """K1/K2: header CSV sink, overwriting ``out_dir``. Multi-part
    output (one file per partition) — the reference's single object
    per table is a coalesce(1) away, an anti-pattern at scale."""
    (
        df.write.mode("overwrite")
        .option("header", True)
        .option("encoding", "UTF-8")
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ssXXX")
        .csv(out_dir)
    )


def run_output_dir(base: str, table_name: str, run_id: str) -> str:
    """X2/X3: run-scoped output path. The reference suffixes file names
    with a wall-clock timestamp (spotifytransform.py:101-105); the
    scalable equivalent is a run_id partition directory."""
    return f"{base}/transformed_data/{table_name}_data/run_id={run_id}"
