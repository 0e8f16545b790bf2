"""Query registry backing the driver contract (__spark_entry__.py).

Every implemented operator from SURVEY.md §2 is registered here as a
named query: a callable ``(spark, sf_dir) -> DataFrame`` plus (where
SQL-expressible) the equivalent DuckDB oracle SQL. The driver runs both
at sf0.01 and compares row count + schema + order-insensitive value
hash, so every computed column is aliased identically on both sides and
floating-point aggregates use the exact-decimal discipline in
``functions/exact.py``.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .session import pin_reads

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, Query] = {}

# Modules that register queries on import. plans.suites is left out:
# it composes its members' oracles, so it imports these first.
_QUERY_MODULES = (
    "plans.analytics",
    "plans.reference_ops",
    "plans.text_ops",
    "plans.dedup",
    "plans.similarity",
    "plans.streaming_queries",
    "plans.udfs",
    "plans.misc_ops",
    "plans.extended_ops",
    "plans.tpch_suite",
    "plans.advanced_ops",
    "plans.behavior_ops",
    "plans.etl_ops",
    "plans.scale_ops",
    "plans.sketches",
    "plans.quality_ops",
    "plans.llm_corpus",
    "operators.spotify_queries",
    "multimodal.media",
)

_loaded = False


def import_query_modules() -> None:
    """Import (idempotently) every query module except plans.suites."""
    pkg = __name__.rsplit(".", 1)[0]
    for mod in _QUERY_MODULES:
        importlib.import_module(f"{pkg}.{mod}")


def _ensure_workers_can_import(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via addPyFile.

    The driver process may import this package from an arbitrary CWD via
    sys.path manipulation — which executor Python workers do NOT
    inherit, so any query that pickles package-defined callables or
    classes (the Python DataSource, mapInPandas helpers) would fail
    with ModuleNotFoundError on the workers. A zip of the package added
    once per SparkContext makes the import resolve everywhere.
    """
    sc = spark.sparkContext
    if getattr(sc, "_sse_pkg_shipped", False):
        return
    sc.addPyFile(_package_zip())
    sc._sse_pkg_shipped = True


_PKG_ZIP: str | None = None


def _package_zip() -> str:
    """Build (once per process) a zip snapshot of this package.

    The snapshot is taken at FIRST use per process and reused for every
    SparkContext in that process; code edits after that are not
    reflected on executors until a new Python process starts. The temp
    file is removed at interpreter exit instead of accumulating in
    /tmp.
    """
    global _PKG_ZIP
    if _PKG_ZIP is not None:
        return _PKG_ZIP
    import atexit
    import contextlib
    import os
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    fd, zip_path = tempfile.mkstemp(prefix="sse_pkg_", suffix=".zip")
    os.close(fd)
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    arc = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                    zf.write(full, arc)

    def _cleanup(path: str = zip_path) -> None:
        with contextlib.suppress(OSError):
            os.unlink(path)

    atexit.register(_cleanup)
    _PKG_ZIP = zip_path
    return zip_path


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Register ``fn`` as query ``name``. Each build first ships the
    package to the workers and sets the read pins (session.pin_reads),
    whatever the caller set since boot."""
    def deco(fn: QueryFn) -> QueryFn:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            _ensure_workers_can_import(spark)
            pin_reads(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = Query(name=name, fn=wrapped, oracle=oracle, tags=tags)
        return fn

    return deco


# The external driver verifies a bounded PREFIX of this registry
# (exactly the first 50 queries in iteration order). This list
# pins the first 50 to a maximal-coverage set: every SURVEY.md §2.1
# operator and §2.2 category has an oracle-backed representative here,
# with digest suites (plans/suites.py) standing in for whole families
# (all of TPC-H, the scalar surface, UDFs, streaming variants, …) so
# one driver row certifies every member. Queries beyond the prefix stay
# registered and are verified by tests/test_oracle_parity.py.
PRIORITY: tuple[str, ...] = (
    # flagship + the whole TPC-H suite
    "q1_pricing_summary",
    "tpch_digest",
    # reference §2.1 operators: sources, sinks, streaming, row ops
    "rest_datasource_playlist",
    "json_sink_roundtrip",
    "csv_sink_roundtrip",
    "streaming_csv_sink_roundtrip",
    "json_extract_events",
    "ref_s5_explode_tokens",
    "ref_p2_array_head",
    "ref_c1_timestamp_cast",
    "ref_c2_mixed_granularity_dates",
    "ref_d1_keepfirst_dedup",
    "dedup_exact",
    "ref_x1_count",
    "ref_x4_path_basename",
    # the full star-schema pipeline (P1/P2/P3 + C1/C2 + D1/D2 over the
    # staged raw zone) as one digest row per output table
    "reference_pipeline_suite",
    # analytical surface, one representative (or suite) per category
    "filter_predicates",
    "join_suite",
    "join_broadcast_enrich",
    "join_salted",
    "bucketed_join_colocated",
    "asof_join_events",
    "range_join_close_events",
    "agg_stats",
    "agg_grouping_suite",
    "pivot_returnflag",
    "agg_advanced_suite",
    "window_suite",
    "sort_limit_topk",
    "set_ops_suite",
    "scalar_suite",
    "array_ops_embeddings",
    "udf_surface_suite",
    "variant_semistructured",
    # All streaming variants (tumbling window, watermark dedup,
    # sliding, stream-stream join, stateful, session windows,
    # foreachBatch) are certified as streaming_suite members; none
    # holds an individual slot. The freed slots fund the
    # etl_misc/advanced_misc split and reference_pipeline_suite.
    "streaming_suite",
    "etl_misc_suite",
    "advanced_misc_suite",
    "merge_upsert_orders",
    # LLM-pipeline north-star operators
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine",
    "dedup_connected_components",
    "dedup_filtered_corpus",
    "sim_cosine_topk_bruteforce",
    "sim_ann_lsh_bucketed",
    "sim_ann_ivf",
    "embedding_centroids",
    "text_suite",
    # behavior analytics + warehouse audits (funnel, cohort, attribution,
    # Markov, RFM, PIT, EWMA, salted agg, CDC diff, anomaly) in one row;
    # events_sessionization is certified as an etl_misc_suite member.
    "behavior_suite",
)


def load_all() -> dict[str, Query]:
    global _loaded
    if not _loaded:
        import_query_modules()
        from .plans import suites  # noqa: F401  (registers the digest suites)
        missing = [n for n in PRIORITY if n not in REGISTRY]
        if missing:
            raise RuntimeError(f"PRIORITY names not registered: {missing}")
        no_oracle = [n for n in PRIORITY if REGISTRY[n].oracle is None]
        if no_oracle:
            raise RuntimeError(
                f"PRIORITY slots must be oracle-backed, these are not: {no_oracle}"
            )
        # Reorder: priority prefix first, then remaining oracle-backed
        # queries in registration order, then rows-only queries.
        rest = [n for n in REGISTRY if n not in PRIORITY]
        ordered = (
            list(PRIORITY)
            + [n for n in rest if REGISTRY[n].oracle is not None]
            + [n for n in rest if REGISTRY[n].oracle is None]
        )
        reordered = {n: REGISTRY[n] for n in ordered}
        REGISTRY.clear()
        REGISTRY.update(reordered)
        _loaded = True
    return REGISTRY


def queries() -> dict[str, QueryFn]:
    return {name: q.fn for name, q in load_all().items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in load_all().items() if q.oracle is not None}
