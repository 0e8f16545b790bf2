"""One plan reader: a compact, order-stable record of a query's
physical plan, and the records of every registered query.

``digest(df)`` walks the pre-AQE physical plan over py4j (the
``AdaptiveSparkPlan``'s initial plan, so the record depends on the
plan, not on data size or runtime statistics) and descends into
subquery plans. The record is canonical JSON; ``fields(record)`` reads
it back with every field present:

- ``exchange``: shuffle exchanges by partitioning — ``hash(keys)``,
  ``range(order)``, ``single``, ``roundrobin`` — with expression ids
  and partition counts stripped (both vary with the session and the
  core count, the plan shape does not) and hash keys sorted (a
  grouping-set aggregate orders its keys differently per run);
- ``broadcast``: broadcast exchanges;
- ``join``: joins by kind (SMJ, BHJ, SHJ, BNLJ, Cartesian);
- ``agg``: aggregate nodes (hash, object-hash and sort aggregates);
- ``window``, ``generate``: Window and Generate nodes;
- ``group_limit``: WindowGroupLimit nodes by mode (Partial, Final);
- ``python``: Python-boundary nodes by name;
- ``scan``: per file scan, ``[table, ReadSchema columns, PushedFilters]``,
  and per Python DataSource scan, ``[source name, read columns, []]``;
- ``window_fed_by_exchange``: Windows whose input, directly or through
  a Sort, is an ENSURE_REQUIREMENTS hash exchange — a rank filter
  without a map-side group limit funnels every row of a group there;
- ``sort_over_single``: Sorts directly over a SinglePartition exchange
  (a serialized global sort);
- ``float_aggs``: aggregates whose double result depends on the order
  rows are summed in — a Sum or Average over a floating column, and
  every central-moment, correlation and covariance aggregate — in
  aggregate and window nodes, each counted once (its Partial or
  Complete mode). ``functions/exact.py``'s sums read as long sums.

A checkpointed or cached-index frame shows only an RDD scan, so
``digests`` builds every query with ``catalog.share`` rebound to
identity (``unshared``) and pins the index builds through
``INDEX_BUILD_FRAMES``.
"""

from __future__ import annotations

import contextlib
import json
import re
import sys
from collections import Counter

from spotify_serverless_etl_pipeline_engineering_with_azure_spark import catalog, registry
from spotify_serverless_etl_pipeline_engineering_with_azure_spark.plans import (
    advanced_ops as _advanced_ops,
    dedup as _dedup,
    similarity as _similarity,
)

JOINS = {
    "SortMergeJoinExec": "SMJ",
    "BroadcastHashJoinExec": "BHJ",
    "ShuffledHashJoinExec": "SHJ",
    "BroadcastNestedLoopJoinExec": "BNLJ",
    "CartesianProductExec": "Cartesian",
}
AGGREGATES = {"HashAggregateExec", "ObjectHashAggregateExec", "SortAggregateExec"}
PYTHON = {"ArrowEvalPython", "MapInArrow", "MapInPandas", "FlatMapGroupsInPandas", "BatchEvalPython"}
_COUNTERS = ("exchange", "join", "group_limit", "python")
_COUNTS = (
    "broadcast", "agg", "window", "generate", "window_fed_by_exchange", "sort_over_single",
    "float_aggs",
)
# Sum and Average are order-dependent over a floating input; these
# aggregate families are over any input.
FLOAT_SUMS = {"Sum", "Average"}
FLOAT_FAMILIES = {"CentralMomentAgg", "PearsonCorrelation", "Covariance"}
_EXPR_ID = re.compile(r"#\d+L?")


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _cls(node) -> str:
    return node.getClass().getSimpleName()


def _unwrap(node):
    """The node a plan reader sees: codegen wrappers are skipped."""
    while _cls(node) in ("WholeStageCodegenExec", "InputAdapter"):
        node = node.child()
    return node


def _partitioning(exchange) -> str:
    p = exchange.outputPartitioning()
    kind = _cls(p)
    if kind == "HashPartitioning":
        keys = sorted(_EXPR_ID.sub("", str(e.toString())) for e in _seq(p.expressions()))
        return "hash(" + ", ".join(keys) + ")"
    if kind == "RangePartitioning":
        keys = [str(o.toString()) for o in _seq(p.ordering())]
        return "range(" + _EXPR_ID.sub("", ", ".join(keys)) + ")"
    return {"SinglePartition$": "single", "RoundRobinPartitioning": "roundrobin"}.get(kind, kind)


def _scan(node) -> list:
    """[table, columns, pushed filters]; a file outside the catalog (a
    sink read back, a fixture) is named by its format, since its path
    is run-unique."""
    rel = node.relation()
    table = str(_seq(rel.location().rootPaths())[0].getName()).removesuffix(".parquet")
    if table not in catalog.TABLES:
        table = f"({str(rel.fileFormat().toString()).lower()})"
    cols = list(node.requiredSchema().fieldNames())
    return [table, cols, [str(f.toString()) for f in _seq(node.pushedDownFilters())]]


def _batch_scan(node) -> list:
    """[source name, columns, []] of a DataSource V2 scan — in this
    package only a Python DataSource (``BatchScan ... (Python)``), whose
    scan exposes no pushed filters."""
    return [str(node.table().name()), list(node.scan().readSchema().fieldNames()), []]


def _float_aggs(exprs) -> int:
    """Order-dependent floating aggregates under ``exprs``, each counted
    in the mode that reads input rows (Partial or Complete), so a
    partial/final pair counts once."""
    n = 0
    for e in exprs:
        if _cls(e) == "AggregateExpression":
            if str(e.mode().toString()) in ("Partial", "Complete"):
                f = e.aggregateFunction()
                family = str(f.getClass().getSuperclass().getSimpleName())
                n += family in FLOAT_FAMILIES or (
                    _cls(f) in FLOAT_SUMS
                    and str(f.child().dataType().typeName()) in ("double", "float")
                )
        else:
            n += _float_aggs(_seq(e.children()))
    return n


def _is_hash_requirement(node) -> bool:
    return (
        _cls(node) == "ShuffleExchangeExec"
        and _cls(node.outputPartitioning()) == "HashPartitioning"
        and str(node.shuffleOrigin().toString()) == "ENSURE_REQUIREMENTS"
    )


def _walk(node, rec: dict) -> None:
    node = _unwrap(node)
    kind = _cls(node)
    if kind == "AdaptiveSparkPlanExec":
        return _walk(node.initialPlan(), rec)
    if kind in ("ReusedExchangeExec", "ReusedSubqueryExec"):
        return
    children = [_unwrap(c) for c in _seq(node.children())]
    if kind == "ShuffleExchangeExec":
        rec["exchange"][_partitioning(node)] += 1
    elif kind == "BroadcastExchangeExec":
        rec["broadcast"] += 1
    elif kind in JOINS:
        rec["join"][JOINS[kind]] += 1
    elif kind in AGGREGATES:
        rec["agg"] += 1
        rec["float_aggs"] += _float_aggs(_seq(node.aggregateExpressions()))
    elif kind == "WindowExec":
        rec["window"] += 1
        rec["float_aggs"] += _float_aggs(_seq(node.windowExpression()))
        feed = children[0]
        if _cls(feed) == "SortExec":
            feed = _unwrap(feed.child())
        rec["window_fed_by_exchange"] += _is_hash_requirement(feed)
    elif kind == "WindowGroupLimitExec":
        rec["group_limit"][str(node.mode().toString())] += 1
    elif kind == "GenerateExec":
        rec["generate"] += 1
    elif kind == "SortExec":
        feed = children[0]
        rec["sort_over_single"] += (
            _cls(feed) == "ShuffleExchangeExec"
            and _partitioning(feed) == "single"
        )
    elif kind == "FileSourceScanExec":
        rec["scan"].append(_scan(node))
    elif kind == "BatchScanExec":
        rec["scan"].append(_batch_scan(node))
    elif kind == "InMemoryTableScanExec":
        children.append(node.relation().cachedPlan())
    if str(node.nodeName()) in PYTHON:
        rec["python"][str(node.nodeName())] += 1
    for child in children + _seq(node.subqueries()):
        _walk(child, rec)


def _empty(counter=dict) -> dict:
    return {k: counter() for k in _COUNTERS} | {k: 0 for k in _COUNTS} | {"scan": []}


def digest(df) -> str:
    """The plan record of ``df`` as canonical JSON (empty fields left out)."""
    rec = _empty(Counter)
    _walk(df._jdf.queryExecution().executedPlan(), rec)
    rec["scan"].sort(key=json.dumps)
    return json.dumps({k: v for k, v in rec.items() if v}, sort_keys=True, separators=(",", ":"))


def fields(record: str) -> dict:
    """A record read back, every field present (zero or empty when absent)."""
    return _empty() | json.loads(record)


@contextlib.contextmanager
def unshared():
    """Rebind every package module's ``catalog.share`` to identity while
    plans are built. A shared frame is a checkpoint, which the plan
    shows as an RDD scan, so the record would otherwise not see the
    subtree the query shares."""
    prefix = catalog.__name__.rpartition(".")[0] + "."
    mods = [
        mod for mod in list(sys.modules.values())
        if mod is not catalog
        and getattr(mod, "__name__", "").startswith(prefix)
        and getattr(mod, "share", None) is catalog.share
    ]
    for mod in mods:
        mod.share = lambda df: df
    try:
        yield
    finally:
        for mod in mods:
            mod.share = catalog.share


# The pre-checkpoint build plans of every cached index: the queries
# that read an index show only its RDD scan, and at scale the build is
# the part that processes the corpus.
INDEX_BUILD_FRAMES = {
    "minhash_bands": lambda s, sf: _dedup._minhash_bands_frame(s, sf),
    "minhash_pairs": lambda s, sf: _dedup._minhash_pairs_frame(_dedup._minhash_index(s, sf)[0]),
    # The width-stats agg is checkpointed inside the pairs frame, which
    # hides it from minhash_pairs' plan.
    "minhash_stats": lambda s, sf: _dedup._minhash_stats_frame(_dedup._minhash_index(s, sf)[0]),
    "ngram_index": lambda s, sf: _dedup._ngram_index_frame(s, sf),
    "semdedup_member": lambda s, sf: _advanced_ops._top1_cell_frame(
        s, sf, _dedup._semdedup_k(_similarity.vector_store(s, sf).count())
    ),
    "lsh_index": lambda s, sf: _similarity._lsh_index_frame(s, sf),
    # k and nprobe are the IVF index's own (its build derives them).
    "ivf_member": lambda s, sf: _advanced_ops._top1_cell_frame(
        s, sf, _advanced_ops._ivf_index(s, sf)["k"]
    ),
    "ivf_probe_cells": lambda s, sf: _advanced_ops._ivf_probe_cells_frame(
        s, sf, _advanced_ops._ivf_index(s, sf)["k"], _advanced_ops._ivf_index(s, sf)["nprobe"]
    ),
    "vector_store": lambda s, sf: _similarity._vector_store_frame(s, sf),
}


def index_key(name: str) -> str:
    return f"index:{name}"


def digests(spark, sf_dir: str) -> dict[str, str]:
    """The record of every registered query and every index build."""
    frames = registry.queries() | {index_key(n): fn for n, fn in INDEX_BUILD_FRAMES.items()}
    with unshared():
        return {name: digest(frames[name](spark, sf_dir)) for name in sorted(frames)}
