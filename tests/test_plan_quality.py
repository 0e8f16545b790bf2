"""Physical-plan guards: the scale discipline, enforced.

Correctness tests prove the numbers; these prove the PLAN is the one
we'd want at 100 TB — filters reaching the parquet scan, column
pruning, partial aggregation, broadcast joins for bounded dims, and no
accidental cartesian products anywhere in the registry.

Every guard is a predicate over a query's plan record
(tests/plan_digest.py), computed once per session by the
``plan_records`` fixture. ``test_plan_digest_pinned`` pins every
record to tests/plan_pins.py, which scripts/gen_plan_digest.py
generates; the guards name the part of a plan that must not regress
even through a reviewed regeneration. Each guard has a negative
fixture, a conf flip or a frame with the forbidden shape, on which its
predicate must fail.
"""

from __future__ import annotations

import contextlib

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from spotify_serverless_etl_pipeline_engineering_with_azure_spark import catalog, registry
from spotify_serverless_etl_pipeline_engineering_with_azure_spark.functions.exact import dsum
from spotify_serverless_etl_pipeline_engineering_with_azure_spark.plans import (
    advanced_ops as _advanced_ops,
)

from .conftest import SF_SMOKE
from .plan_digest import INDEX_BUILD_FRAMES, digest, fields, index_key, unshared
from .plan_pins import PLAN_DIGEST


def _pushes(p: dict, table: str, *cols: str) -> bool:
    """Some scan of ``table`` pushes a value filter (not just IsNotNull)
    on every one of ``cols``."""
    return any(
        all(any(c in f and not f.startswith("IsNotNull") for f in s[2]) for c in cols)
        for s in p["scan"] if s[0] == table
    )


def _reads_only(p: dict, cols: set) -> bool:
    return bool(p["scan"]) and all(set(s[1]) <= cols for s in p["scan"])


def _shuffles(p: dict) -> int:
    return sum(p["exchange"].values())


def no_cartesian(p: dict) -> bool:
    return "Cartesian" not in p["join"]


def rank_limit_is_safe(p: dict) -> bool:
    """A map-side WindowGroupLimit(Partial) with its Final, or no
    exchange feeding a window at all (the window reuses an upstream
    partitioning, so there is no funnel for the partial limit to cut)."""
    limits = p["group_limit"]
    return ("Partial" in limits and "Final" in limits) or not p["window_fed_by_exchange"]


# guard → (the query whose record it reads, the predicate it must hold)
GUARDS = {
    "q6_filters_reach_parquet_scan": (
        "q6_forecast_revenue", lambda p: _pushes(p, "lineitem", "l_shipdate", "l_discount")),
    "q6_prunes_columns": (
        "q6_forecast_revenue",
        lambda p: [set(s[1]) for s in p["scan"]]
        == [{"l_quantity", "l_extendedprice", "l_discount", "l_shipdate"}]),
    # every dim join broadcasts (no shuffle join, no cartesian)
    "flagship_broadcasts_dims": (
        "top_customers_by_revenue", lambda p: set(p["join"]) == {"BHJ"}),
    # partial + final aggregate pair: map-side combine before the shuffle
    "q1_partial_aggregation": ("q1_pricing_summary", lambda p: p["agg"] >= 2),
    # both sides bucketBy(8) on the join key: the SortMergeJoin reads
    # buckets in place; the only exchange left is the final aggregation
    "bucketed_join_is_shuffle_free": (
        "bucketed_join_colocated", lambda p: "SMJ" in p["join"] and _shuffles(p) == 1),
    # exact cosine runs on SemDeDup-cell candidate pairs whose vectors
    # ride the cell self-join; the all-pairs theta join (a BNLJ,
    # quadratic on a full corpus) must not come back
    "embedding_cosine_is_candidate_guarded": (
        "dedup_embedding_cosine", lambda p: "BNLJ" not in p["join"] and no_cartesian(p)),
    # hash-mod sampling stays map-side and scans only its three columns
    "stratified_sample_is_pure_scan_filter": (
        "corpus_sample_stratified",
        lambda p: not _shuffles(p) and not p["broadcast"]
        and [s[1] for s in p["scan"]] == [["doc_id", "lang", "source"]]),
    # chunking is 1 row → N rows, all row-local
    "chunk_windows_is_shuffle_free": (
        "text_chunk_windows", lambda p: not _shuffles(p) and not p["broadcast"]),
    # the window runs per shard; one SinglePartition exchange is the
    # 1-row corpus count that derives the fan-out, and no Sort may
    # consume it (a serialized global sort)
    "pack_sequences_shuffles_only_on_shard": (
        "corpus_pack_sequences",
        lambda p: "hash(shard)" in p["exchange"] and p["exchange"].get("single") == 1
        and not p["sort_over_single"]),
    # both keyed aggregations, (doc, token) and (doc, bigram), combine map-side
    "repetition_signals_partial_aggregation": ("text_repetition_signals", lambda p: p["agg"] >= 4),
    # one hash(user_id) exchange plus an in-partition sort, never a
    # self-join or a global sort
    "time_range_window_single_shuffle": (
        "window_time_range_trailing",
        lambda p: p["exchange"] == {"hash(user_id)": 1} and not p["join"]),
    # the packed bloom words and the exact semi-join build side arrive
    # by broadcast (2 word probes + the semi-join); the fact table is
    # never shuffled on its key
    "bloom_prune_join_broadcasts_filter": (
        "bloom_filter_prune_join",
        lambda p: p["join"].get("BHJ", 0) >= 3
        and not any("o_custkey" in k for k in p["exchange"])),
    # per-(group, register) MAX then per-group SUM, each with a partial pair
    "hll_sketch_two_level_partial_aggregation": ("sketch_hll_distinct", lambda p: p["agg"] >= 4),
    # CMS cells (≤ 2048 rows) broadcast to the probe side
    "countmin_probe_is_broadcast": ("sketch_countmin_heavy_hitters", lambda p: "BHJ" in p["join"]),
    # the benchmark gram set is the small side and broadcasts
    "decontaminate_broadcasts_benchmark_grams": ("corpus_decontaminate", lambda p: "BHJ" in p["join"]),
    # each funnel step's event_type equality reaches the scan, and no
    # scan reads more than (user_id, event_type, ts)
    "funnel_pushes_event_type_to_scan": (
        "events_funnel_conversion",
        lambda p: _pushes(p, "events", "event_type") and _reads_only(p, {"user_id", "event_type", "ts"})),
    # last-touch attribution is one window over user_id
    "attribution_is_single_shuffle": (
        "events_attribution_last_touch", lambda p: _shuffles(p) == 1 and not p["join"]),
    # the percentile pass reduces to 2 scalars that broadcast back; only
    # doc_id and text are ever scanned
    "length_band_filter_never_shuffles_text": (
        "corpus_length_band_filter",
        lambda p: _reads_only(p, {"doc_id", "text"}) and ("BNLJ" in p["join"] or p["broadcast"])),
    # the Pareto total and running revenue re-sum exact long partials,
    # never the per-part doubles (an order-dependent sum)
    "pareto_sums_exactly": ("top_parts_pareto", lambda p: not p["float_aggs"]),
}


def _guard(plan_records, guard: str) -> None:
    query, holds = GUARDS[guard]
    assert holds(fields(plan_records[query])), f"{guard}: {query} plans {plan_records[query]}"


def test_q6_filters_reach_parquet_scan(plan_records):
    _guard(plan_records, "q6_filters_reach_parquet_scan")


def test_q6_prunes_columns(plan_records):
    _guard(plan_records, "q6_prunes_columns")


def test_flagship_broadcasts_dims(plan_records):
    _guard(plan_records, "flagship_broadcasts_dims")


def test_q1_partial_aggregation(plan_records):
    _guard(plan_records, "q1_partial_aggregation")


def test_bucketed_join_is_shuffle_free(plan_records):
    _guard(plan_records, "bucketed_join_is_shuffle_free")


def test_embedding_cosine_is_candidate_guarded(plan_records):
    _guard(plan_records, "embedding_cosine_is_candidate_guarded")


def test_stratified_sample_is_pure_scan_filter(plan_records):
    _guard(plan_records, "stratified_sample_is_pure_scan_filter")


def test_chunk_windows_is_shuffle_free(plan_records):
    _guard(plan_records, "chunk_windows_is_shuffle_free")


def test_pack_sequences_shuffles_only_on_shard(plan_records):
    _guard(plan_records, "pack_sequences_shuffles_only_on_shard")


def test_repetition_signals_partial_aggregation(plan_records):
    _guard(plan_records, "repetition_signals_partial_aggregation")


def test_time_range_window_single_shuffle(plan_records):
    _guard(plan_records, "time_range_window_single_shuffle")


def test_bloom_prune_join_broadcasts_filter(plan_records):
    _guard(plan_records, "bloom_prune_join_broadcasts_filter")


def test_hll_sketch_two_level_partial_aggregation(plan_records):
    _guard(plan_records, "hll_sketch_two_level_partial_aggregation")


def test_countmin_probe_is_broadcast(plan_records):
    _guard(plan_records, "countmin_probe_is_broadcast")


def test_decontaminate_broadcasts_benchmark_grams(plan_records):
    _guard(plan_records, "decontaminate_broadcasts_benchmark_grams")


def test_funnel_pushes_event_type_to_scan(plan_records):
    _guard(plan_records, "funnel_pushes_event_type_to_scan")


def test_attribution_is_single_shuffle(plan_records):
    _guard(plan_records, "attribution_is_single_shuffle")


def test_length_band_filter_never_shuffles_text(plan_records):
    _guard(plan_records, "length_band_filter_never_shuffles_text")


def test_pareto_sums_exactly(plan_records):
    _guard(plan_records, "pareto_sums_exactly")


@pytest.mark.parametrize(
    "name",
    sorted(
        n
        for n, q in registry.load_all().items()
        if not ({"streaming", "sink", "parquet"} & set(q.tags))
    ),
)
def test_no_cartesian_product_anywhere(plan_records, name):
    """CartesianProduct = an unkeyed join that ships every row to every
    row — never acceptable. (BroadcastNestedLoopJoin against a 1-row
    scalar aggregate or a K-row centroid table is the intended plan for
    scalar subqueries / IVF assignment and is allowed.) Queries built
    on cached indexes or iterative driver loops show only an RDD scan
    here; their build pipelines are guarded by
    test_index_build_plans_no_cartesian."""
    assert no_cartesian(fields(plan_records[name])), plan_records[name]


@pytest.mark.parametrize("name", sorted(INDEX_BUILD_FRAMES))
def test_index_build_plans_no_cartesian(plan_records, name):
    """Index build pipelines stay cartesian-free: checkpointed, they
    are hidden from the registry sweep, but they are the corpus-wide
    work at scale."""
    record = plan_records[index_key(name)]
    assert no_cartesian(fields(record)), record


# Rank-limit windows that are scale-safe ONLY because Spark ≥3.5 plans
# a map-side WindowGroupLimit(Partial) BEFORE the exchange: each map
# partition forwards at most k rows per group, so a per-probe/per-group
# rank over a corpus-sized frame never funnels the whole frame through
# the window's sort. A harmless-looking refactor (compute the rank,
# project, filter later) silently loses the optimization — the query
# stays correct and the plan becomes the single-task straggler this pin
# exists to prevent.
WINDOW_GROUP_LIMIT_QUERIES = (
    "sim_cosine_topk_bruteforce",
    "sim_ann_lsh_bucketed",
    "sim_ann_ivf",
    "window_rank_topn",
    # text_tfidf_top_terms's top-k window can reuse scatter(docs,
    # "doc_id")'s partitioning when the tf aggregate keeps it; at scale
    # the tf aggregate re-keys by (doc_id, term), the window pays its
    # exchange, and Spark re-plans the Partial/Final split.
    "text_tfidf_top_terms",
    # ~5 lang strata over the whole corpus: without the partial group
    # limit each stratum funnels through ONE window-sort task
    "corpus_sample_reservoir",
)


@pytest.mark.parametrize("name", WINDOW_GROUP_LIMIT_QUERIES)
def test_rank_limit_window_keeps_partial_group_limit(plan_records, name):
    assert rank_limit_is_safe(fields(plan_records[name])), (
        f"{name}: no map-side WindowGroupLimit(Partial) AND the window still "
        f"pays an exchange: {plan_records[name]}"
    )


def test_rank_limit_guard_fires_without_partial_group_limit(spark):
    """With the optimizer's group-limit insertion disabled, a pinned
    rank-limit query takes the regression shape, and the guard fires."""
    with _confs(spark, {"spark.sql.optimizer.windowGroupLimitThreshold": "-1"}):
        p = fields(digest(registry.queries()["window_rank_topn"](spark, SF_SMOKE)))
    assert not p["group_limit"] and p["window_fed_by_exchange"], p
    assert not rank_limit_is_safe(p)


@pytest.mark.parametrize("name", sorted(PLAN_DIGEST))
def test_plan_digest_pinned(plan_records, name):
    """Every registered query and index build plans exactly its pinned
    record. A drift is a plan change to review: regenerate the pin with
    scripts/gen_plan_digest.py and say in the change why it moved."""
    got, want = fields(plan_records[name]), fields(PLAN_DIGEST[name])
    changed = {k: {"pinned": want[k], "now": got[k]} for k in want if got[k] != want[k]}
    assert not changed, f"{name}: plan drifted from tests/plan_pins.py in {changed}"


def test_plan_pin_covers_every_query(plan_records):
    assert sorted(plan_records) == sorted(PLAN_DIGEST), (
        "tests/plan_pins.py is stale; regenerate it with scripts/gen_plan_digest.py"
    )


@contextlib.contextmanager
def _confs(spark, confs: dict):
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _t(spark, name):
    return catalog.table(spark, SF_SMOKE, name)


def _query(name):
    def build(spark):
        with unshared():
            return registry.queries()[name](spark, SF_SMOKE)

    return build


def _self_join(spark):
    ev = _t(spark, "events").select("user_id", "event_type", "ts")
    return ev.alias("a").join(ev.alias("b"), "user_id")


def _global_window(spark):
    return _t(spark, "documents").select(
        "doc_id", F.sum("n_chars").over(Window.orderBy("doc_id")).alias("c")
    )


def _grouped_in_python(spark):
    return _t(spark, "lineitem").groupBy("l_returnflag").applyInPandas(
        lambda pdf: pdf.head(1), "l_returnflag string"
    )


def _pareto_over_doubles(spark):
    """top_parts_pareto's totals as double sums of per-part doubles."""
    per_part = _t(spark, "lineitem").groupBy("l_partkey").agg(
        dsum(F.col("l_extendedprice"), 2).alias("revenue")
    )
    run = Window.orderBy(F.desc("revenue")).rowsBetween(Window.unboundedPreceding, 0)
    return per_part.select("revenue", F.sum("revenue").over(run).alias("cum")).crossJoin(
        per_part.agg(F.sum("revenue").alias("total"))
    )


def _unbroadcast_join(spark):
    return _t(spark, "orders").join(
        _t(spark, "customer"), F.col("o_custkey") == F.col("c_custkey")
    )


_NO_BROADCAST = {"spark.sql.autoBroadcastJoinThreshold": "-1"}

# guard → (confs, a frame on which its predicate must fail)
NEGATIVE = {
    # functions of a column are evaluated after the scan, not pushed
    "q6_filters_reach_parquet_scan": ({}, lambda s: _t(s, "lineitem").filter(
        (F.year("l_shipdate") == 1994) & (F.abs(F.col("l_discount") - 0.06) <= 0.01))),
    "q6_prunes_columns": ({}, lambda s: _t(s, "lineitem").filter(F.col("l_quantity") < 24)),
    "flagship_broadcasts_dims": (_NO_BROADCAST, _query("top_customers_by_revenue")),
    "q1_partial_aggregation": ({}, _grouped_in_python),
    "bucketed_join_is_shuffle_free": (
        {"spark.sql.sources.bucketing.enabled": "false"}, _query("bucketed_join_colocated")),
    "embedding_cosine_is_candidate_guarded": ({}, lambda s: _t(s, "embeddings").alias("a").join(
        _t(s, "embeddings").alias("b"), F.col("a.vec_id") < F.col("b.vec_id"))),
    "stratified_sample_is_pure_scan_filter": (
        {}, lambda s: _t(s, "documents").select("doc_id", "lang", "source").distinct()),
    "chunk_windows_is_shuffle_free": ({}, lambda s: _t(s, "documents").repartition(4)),
    "pack_sequences_shuffles_only_on_shard": ({}, _global_window),
    "repetition_signals_partial_aggregation": ({}, _grouped_in_python),
    "time_range_window_single_shuffle": (_NO_BROADCAST, _self_join),
    "bloom_prune_join_broadcasts_filter": (_NO_BROADCAST, _query("bloom_filter_prune_join")),
    "hll_sketch_two_level_partial_aggregation": ({}, _grouped_in_python),
    "countmin_probe_is_broadcast": (_NO_BROADCAST, _unbroadcast_join),
    "decontaminate_broadcasts_benchmark_grams": (_NO_BROADCAST, _query("corpus_decontaminate")),
    "funnel_pushes_event_type_to_scan": ({}, lambda s: _t(s, "events").filter(
        F.upper("event_type") == "VIEW").select("user_id", "event_type", "ts", "value")),
    "attribution_is_single_shuffle": (_NO_BROADCAST, _self_join),
    "length_band_filter_never_shuffles_text": (
        {}, lambda s: _t(s, "documents").select("doc_id", "text", "lang").repartition(4)),
    "pareto_sums_exactly": ({}, _pareto_over_doubles),
}


@pytest.mark.parametrize("guard", sorted(GUARDS))
def test_guard_fires_on_negative_fixture(spark, guard):
    confs, build = NEGATIVE[guard]
    with _confs(spark, confs):
        record = digest(build(spark))
    assert not GUARDS[guard][1](fields(record)), f"{guard} does not fire on {record}"


def test_no_cartesian_fires_on_a_cartesian_product(spark):
    with _confs(spark, _NO_BROADCAST):
        p = fields(digest(_t(spark, "orders").crossJoin(_t(spark, "customer"))))
    assert not no_cartesian(p), p


def test_ivf_inverted_lists_are_a_posting_table(spark):
    """The IVF index must store inverted lists as (cid, vec_id) posting
    ROWS, never collect_list arrays: one cell's array holds ~N/K
    elements in a single aggregation buffer/row — the JVM 2³¹ cliff at
    ~2e9 members and a single-task OOM long before. A regression back
    to the array form is invisible to every correctness gate (the
    exploded candidates are identical), so pin the build plan."""
    idx = _advanced_ops._ivf_index(spark, SF_SMOKE)
    cells = dict(idx["cells"].dtypes)
    assert set(cells) == {"vec_id", "cid"} and not any(
        t.startswith("array") for t in cells.values()
    ), f"IVF cells regressed away from the (cid, vec_id) posting table: {cells}"
    plan = (
        _advanced_ops._top1_cell_frame(spark, SF_SMOKE, idx["k"])
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "collect_list" not in plan


def test_scatter_passes_wide_frames_through(spark):
    """scatter() is a SMALL-INPUT parallelism repair: a frame already at
    (or beyond) cluster width must pass through untouched — at 100 TB
    an unconditional repartition would be a gratuitous O(data) shuffle
    of inputs that already span many splits."""
    parallelism = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 1000).repartition(parallelism + 8)
    assert catalog.scatter(wide) is wide, "wide frame must not re-shuffle"
    narrow = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    assert narrow.rdd.getNumPartitions() < parallelism, "fixture not narrow"
    scattered = catalog.scatter(narrow)
    assert scattered is not narrow
    assert scattered.rdd.getNumPartitions() == parallelism
