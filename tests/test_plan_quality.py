"""Physical-plan regression tests: the scale discipline, enforced.

Correctness tests prove the numbers; these prove the PLAN is the one
we'd want at 100 TB — filters reaching the parquet scan, column
pruning, broadcast joins for bounded dims, and no accidental cartesian
products anywhere in the registry.
"""

from __future__ import annotations

import re
import sys

import pytest

from spotify_serverless_etl_pipeline_engineering_with_azure_spark import catalog, registry
from spotify_serverless_etl_pipeline_engineering_with_azure_spark.plans import (
    advanced_ops as _advanced_ops,
    dedup as _dedup,
    similarity as _similarity,
)

from .conftest import SF_SMOKE


@pytest.fixture
def unshared(monkeypatch):
    """Rebind every package module's ``catalog.share`` to identity while
    a guard builds its frame. A shared frame is a checkpoint, which
    explain shows as an RDD scan, so a guard would otherwise not see
    the subtree the query shares."""
    prefix = catalog.__name__.rpartition(".")[0] + "."
    for mod in list(sys.modules.values()):
        if (
            mod is not catalog
            and getattr(mod, "__name__", "").startswith(prefix)
            and getattr(mod, "share", None) is catalog.share
        ):
            monkeypatch.setattr(mod, "share", lambda df: df)


def _plan(spark, name: str, mode: str = "formatted") -> str:
    df = registry.queries()[name](spark, SF_SMOKE)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


def test_q6_filters_reach_parquet_scan(spark):
    plan = _plan(spark, "q6_forecast_revenue")
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed, "no PushedFilters in scan"
    assert "l_shipdate" in pushed.group(1), "shipdate range not pushed to parquet"
    assert "l_discount" in pushed.group(1), "discount bounds not pushed to parquet"


def test_q6_prunes_columns(spark):
    plan = _plan(spark, "q6_forecast_revenue")
    schema = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert schema, "no ReadSchema in scan"
    cols = {c.split(":")[0] for c in schema.group(1).split(",") if c}
    assert cols == {"l_quantity", "l_extendedprice", "l_discount", "l_shipdate"}, (
        f"scan reads {cols}, expected only the 4 referenced columns"
    )


def test_flagship_broadcasts_dims(spark):
    plan = _plan(spark, "top_customers_by_revenue")
    assert "BroadcastHashJoin" in plan, "dim joins should broadcast"
    assert "CartesianProduct" not in plan


def test_q1_partial_aggregation(spark):
    plan = _plan(spark, "q1_pricing_summary")
    # partial + final HashAggregate pair: map-side combine before the shuffle
    assert len(re.findall(r"HashAggregate", plan)) >= 2


def test_bucketed_join_is_shuffle_free(spark):
    """Both sides bucketBy(8) on the join key → the SortMergeJoin reads
    buckets in place; the ONLY exchange left is the final aggregation."""
    df = registry.queries()["bucketed_join_colocated"](spark, SF_SMOKE)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    plan = df._jdf.queryExecution().explainString(jmode)
    assert "SortMergeJoin" in plan
    assert len(_SHUFFLE_NODE.findall(plan)) == 1, (
        f"expected only the post-join agg shuffle, got:\n{plan}"
    )


@pytest.mark.parametrize(
    "name",
    sorted(
        n
        for n, q in registry.load_all().items()
        if not ({"streaming", "sink", "parquet"} & set(q.tags))
    ),
)
def test_no_cartesian_product_anywhere(spark, unshared, name):
    """CartesianProduct = an unkeyed join that ships every row to every
    row — never acceptable. (BroadcastNestedLoopJoin against a 1-row
    scalar aggregate or a K-row centroid table is the intended plan for
    scalar subqueries / IVF assignment and is allowed.)

    BLIND SPOT, covered elsewhere: queries built on cached indexes
    (cached_index consumers) or iterative driver loops show only an RDD
    scan here — materializing truncates lineage — so their BUILD
    pipelines are asserted separately in
    test_index_build_plans_no_cartesian."""
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"


# The pre-checkpoint build plans of every cached index — the part of
# those queries the sweep above cannot see (and, at 100 TB, the part
# that actually processes the corpus).
INDEX_BUILD_FRAMES = {
    "minhash_bands": lambda s: _dedup._minhash_bands_frame(s, SF_SMOKE),
    "minhash_pairs": lambda s: _dedup._minhash_pairs_frame(
        _dedup._minhash_index(s, SF_SMOKE)[0]
    ),
    # The width-stats agg is checkpointed inside the pairs frame
    # (single evaluation across the small/star legs), which truncates it
    # out of minhash_pairs' explain — so pin its build shape directly.
    "minhash_stats": lambda s: _dedup._minhash_stats_frame(
        _dedup._minhash_index(s, SF_SMOKE)[0]
    ),
    "ngram_index": lambda s: _dedup._ngram_index_frame(s, SF_SMOKE),
    "semdedup_member": lambda s: _dedup._semdedup_member_frame(s, SF_SMOKE),
    "lsh_index": lambda s: _similarity._lsh_index_frame(s, SF_SMOKE),
    "ivf_member": lambda s: _advanced_ops._ivf_member_frame(s, SF_SMOKE),
    "ivf_probe_cells": lambda s: _advanced_ops._ivf_probe_cells_frame(s, SF_SMOKE),
    "vector_store": lambda s: _similarity._vector_store_frame(s, SF_SMOKE),
}


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
        _advanced_ops._ivf_member_frame(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "collect_list" not in plan


@pytest.mark.parametrize("name", sorted(INDEX_BUILD_FRAMES))
def test_index_build_plans_no_cartesian(spark, name):
    """Index BUILD pipelines stay cartesian-free and keyed: these plans
    are hidden from the registry sweep once checkpointed, but they are
    the corpus-wide work at scale."""
    df = INDEX_BUILD_FRAMES[name](spark)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    plan = df._jdf.queryExecution().explainString(jmode)
    assert "CartesianProduct" not in plan, f"{name} build plans a cartesian:\n{plan}"


def test_embedding_cosine_is_candidate_guarded(spark):
    """Exact cosine must run on SemDeDup-cell candidate pairs whose
    vectors RIDE the cell self-join itself (_cell_pair_cosines: each
    side carries its embedding+norm into the cluster-keyed join, the
    cosine is computed in the join's output pipeline) — the all-pairs
    theta-join form (a BroadcastNestedLoopJoin, quadratic on a full
    corpus) must not come back."""
    plan = _plan(spark, "dedup_embedding_cosine")
    assert "BroadcastNestedLoopJoin" not in plan, (
        f"dedup_embedding_cosine regressed to all-pairs:\n{plan}"
    )
    assert "CartesianProduct" not in plan


def test_stratified_sample_is_pure_scan_filter(spark):
    """Hash-mod sampling must stay map-side: no shuffle anywhere, and
    only the three output columns (plus lang for the rate) scanned."""
    plan = _plan(spark, "corpus_sample_stratified")
    assert "Exchange" not in plan, "sampling should not shuffle"
    schema = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = {c.split(":")[0] for c in schema.group(1).split(",") if c}
    assert cols == {"doc_id", "lang", "source"}, f"scan reads {cols}"


def test_chunk_windows_is_shuffle_free(spark):
    """Chunking is 1 row → N rows, all row-local (explode over a
    sequence + array slice): the plan must contain no Exchange."""
    plan = _plan(spark, "text_chunk_windows")
    assert "Exchange" not in plan, "chunking should be map-side only"


def test_pack_sequences_shuffles_only_on_shard(spark):
    """Sharded packing: the window runs per shard — a hash-partitioned
    exchange on shard feeds the sort, plus the final (shard, bin)
    aggregation exchange; never a single-partition global sort. A
    SinglePartition exchange is allowed ONLY for the 1-row corpus count
    that derives the shard fan-out (it must not feed a Sort)."""
    plan = _plan(spark, "corpus_pack_sequences")
    assert "hashpartitioning(shard" in plan, "window should partition by shard"
    # Simple mode keeps "Exchange SinglePartition" on one line, so the
    # tree shape is assertable: exactly one global stage (the 1-row
    # count), and no Sort may consume it — a Sort whose direct child is
    # the SinglePartition exchange is the serialized-global-sort shape
    # this test exists to forbid.
    df = registry.queries()["corpus_pack_sequences"](spark, SF_SMOKE)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    splan = df._jdf.queryExecution().explainString(jmode)
    assert splan.count("Exchange SinglePartition") == 1, splan
    assert not re.search(
        r"Sort \[[^\n]*\n\s*\+- Exchange SinglePartition", splan
    ), f"global sort detected:\n{splan}"


def test_repetition_signals_partial_aggregation(spark):
    """Both keyed aggregations (doc,token) and (doc,bigram) must do
    map-side partial combine before their shuffles."""
    plan = _plan(spark, "text_repetition_signals")
    assert len(re.findall(r"HashAggregate", plan)) >= 4


def test_time_range_window_single_shuffle(spark):
    """The 7-day trailing window must be one hashpartitioning(user_id)
    exchange + in-partition sort — never a self-join or global sort."""
    plan = _plan(spark, "window_time_range_trailing")
    assert "hashpartitioning(user_id" in plan
    assert "SinglePartition" not in plan
    assert "Join" not in plan, "rolling window must not expand into a self-join"


def test_bloom_prune_join_broadcasts_filter(spark, unshared):
    """The packed bloom words and the exact semi-join build side must
    both arrive by broadcast: the fact table is never shuffled."""
    plan = _plan(spark, "bloom_filter_prune_join")
    assert plan.count("BroadcastHashJoin") >= 3  # 2 word probes + semi-join
    assert "hashpartitioning(o_custkey" not in plan, "fact side must not shuffle on key"


def test_hll_sketch_two_level_partial_aggregation(spark):
    """HLL = per-(group,register) MAX then per-group SUM, each with a
    map-side partial pair — 4 HashAggregates; registers, not raw keys,
    cross the shuffle."""
    plan = _plan(spark, "sketch_hll_distinct")
    assert len(re.findall(r"HashAggregate", plan)) >= 4


def test_countmin_probe_is_broadcast(spark):
    """CMS cells (≤ 2048 rows) must broadcast to the probe side."""
    plan = _plan(spark, "sketch_countmin_heavy_hitters")
    assert "BroadcastHashJoin" in plan


def test_decontaminate_broadcasts_benchmark_grams(spark):
    """The benchmark gram set is the small side (an eval suite): it must
    broadcast; the training corpus must not shuffle its grams for the
    probe join."""
    plan = _plan(spark, "corpus_decontaminate")
    assert "BroadcastHashJoin" in plan


def test_funnel_pushes_event_type_to_scan(spark, unshared):
    """Each funnel step's event_type equality must reach the parquet
    scan, and no scan reads more than (user_id, event_type, ts)."""
    plan = _plan(spark, "events_funnel_conversion")
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("event_type" in p for p in pushed), "event_type not pushed"
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
        assert cols <= {"user_id", "event_type", "ts"}, f"scan reads {cols}"


def test_attribution_is_single_shuffle(spark):
    """Last-touch attribution = one window over user_id: exactly one
    Exchange (hashpartitioning on user_id), no join operators."""
    df = registry.queries()["events_attribution_last_touch"](spark, SF_SMOKE)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    plan = df._jdf.queryExecution().explainString(jmode)
    assert len(_SHUFFLE_NODE.findall(plan)) == 1, plan
    assert "Join" not in plan


def test_length_band_filter_never_shuffles_text(spark):
    """The percentile pass reduces to 2 scalars; the re-scan applies
    the cutoffs row-locally. The text column itself must not appear in
    any exchange: only length(text) is ever materialized."""
    plan = _plan(spark, "corpus_length_band_filter")
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
        assert cols <= {"doc_id", "text"}, f"scan reads {cols}"
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


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
    "text_tfidf_top_terms",
    # ~5 lang strata over the whole corpus: without the partial group
    # limit each stratum funnels through ONE window-sort task
    "corpus_sample_reservoir",
)


# The regression shape, in explain order (each node prints ABOVE its
# child): a Window whose input — directly or through its Sort — is an
# ENSURE_REQUIREMENTS hash exchange, with no group limit in between.
_WINDOW_FED_BY_EXCHANGE = re.compile(
    r"Window \[[^\n]*\n"
    r"(?:[\s:]*\+- (?:\*\(\d+\) )?Sort [^\n]*\n)?"
    r"[\s:]*\+- Exchange hashpartitioning\([^\n]*, ENSURE_REQUIREMENTS"
)


@pytest.mark.parametrize("name", WINDOW_GROUP_LIMIT_QUERIES)
def test_rank_limit_window_keeps_partial_group_limit(spark, unshared, name):
    plan = _plan(spark, name, "simple")
    if re.search(r"WindowGroupLimit .*, Partial", plan):
        assert re.search(r"WindowGroupLimit .*, Final", plan), plan
        return
    # No Partial group limit is ONLY safe when no exchange feeds the
    # window at all — the window reuses an upstream partitioning, so
    # the funnel the partial limit protects against does not exist
    # (text_tfidf_top_terms's top-k window can reuse
    # scatter(docs, "doc_id")'s partitioning when the tf aggregate
    # keeps it; at scale the tf aggregate re-keys by (doc_id, term),
    # the window pays its exchange, and Spark re-plans the
    # Partial/Final split). The dangerous shape — a window-feeding
    # ENSURE_REQUIREMENTS exchange WITHOUT the partial limit — fails.
    assert not _WINDOW_FED_BY_EXCHANGE.search(plan), (
        f"{name}: no map-side WindowGroupLimit(Partial) AND the window "
        f"still pays an exchange — the rank filter no longer bounds rows "
        f"before the shuffle:\n{plan}"
    )


def test_rank_limit_guard_fires_without_partial_group_limit(spark):
    """Negative fixture for the guard above: with the optimizer's
    group-limit insertion disabled, a pinned rank-limit query takes the
    regression shape, and the guard's pattern must match it."""
    key = "spark.sql.optimizer.windowGroupLimitThreshold"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "-1")
    try:
        plan = _plan(spark, "window_rank_topn", "simple")
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert "WindowGroupLimit" not in plan, plan
    assert _WINDOW_FED_BY_EXCHANGE.search(plan), plan


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


# Shuffle budget per headline bench query: exact (shuffle, broadcast)
# exchange counts, measured at the current best plans under Spark
# 4.1.2 "simple" explain. Shuffle and broadcast nodes are counted by
# their distinct physical operator spellings (not a bare 'Exchange'
# substring, which conflated the two and would break on explain-format
# drift); ReusedExchange is an optimization artifact and deliberately
# uncounted. A regression that ADDS a shuffle fails loudly — at 100 TB
# one extra shuffle on lineitem dwarfs every other plan change. Bounds
# are exact, not <=: losing an exchange is also a semantic change worth
# reviewing.
_SHUFFLE_NODE = re.compile(
    r"\bExchange (?:hashpartitioning|rangepartitioning|SinglePartition|RoundRobinPartitioning)"
)
HEADLINE_EXCHANGE_BUDGET = {
    "q1_pricing_summary": (1, 0),
    "q3_shipping_priority": (1, 2),
    # (3, 6) since the early-EU-pruning rewrite: supplier/customer are
    # pre-joined with the broadcast nation slice, so the fact joins see
    # JOIN OUTPUTS (no static size stats → statically planned as
    # shuffle joins; AQE broadcasts them at runtime while small). The
    # two extra static shuffles carry ~5× less data than the single
    # pre-rewrite shuffle whose output was region-filtered at the end.
    "q5_local_supplier_volume": (3, 6),
    "q6_forecast_revenue": (1, 0),
    "q9_product_profit": (1, 4),
    "q13_customer_distribution": (2, 1),
    # single lineitem scan: the HAVING aggregate IS the output
    # aggregate, so one orderkey agg feeds both filter and result
    "q18_large_volume_customers": (1, 2),
    "top_customers_by_revenue": (1, 4),
    "join_broadcast_enrich": (1, 2),
    "window_rank_topn": (1, 0),
    "window_running_lag": (1, 0),
    "events_tumbling_window": (1, 0),
    "events_sessionization": (1, 0),
    "json_extract_events": (1, 0),
    "dedup_exact": (1, 0),
    # index-build shuffles (shingle scatter + minhash agg + bucket
    # groupBy) live in _minhash_index / _ngram_index, not the
    # per-query search plan — same split as sim_ann_ivf below
    "dedup_minhash_lsh": (1, 0),
    # The 1 is scatter(docs, "doc_id")'s small-input repair, whose
    # hashpartitioning the packed-popcount groupBy(doc_id) REUSES (r11:
    # round-robin scatter left a second agg exchange — 2 → 1, measured
    # 1.9×/1.5× at sf0.1/sf1; the round-robin arm and its A/B script
    # were removed later, the measurement stays in SIMHASH_AB_r11.json). The pin
    # assumes this suite's environment (local[32] + single-split
    # sf0.001 fixtures keep the scan below defaultParallelism, so the
    # conditional scatter fires); if the fixture layout ever widens,
    # the agg pays its own exchange again and the pin stays (1, 0).
    "dedup_simhash": (1, 0),
    "dedup_ngram_jaccard": (1, 2),
    # 1 = scatter()'s conditional small-input repair (r11): documents
    # is ONE parquet row group at every test SF, so the md5/fold map
    # work ran as a single task regardless of cores — measured 9.1× at
    # sf10 from the repair (FP_SCATTER_AB_r11.json). At corpus scale
    # the scan is already wide and scatter passes through: (0, 0) then.
    "text_fingerprint": (1, 0),
    "text_quality_score": (1, 0),
    "sim_cosine_topk_bruteforce": (1, 1),
    "sim_ann_lsh_bucketed": (2, 1),
    # index-build shuffles (assignment agg / probe window) live in
    # _ivf_index, not the per-query search plan. The search's 3
    # shuffles are the two cid-join sides (posting+vectors,
    # probes+vectors — corpus-/probe-batch-sized rows) and the final
    # per-probe window; the CANDIDATE stream itself never exchanges:
    # cosine is computed inside the cid join's output pipeline and
    # WindowGroupLimit(Partial) cuts top-k map-side. The old (1, 3)
    # shape broadcast-attached vectors onto the candidate stream —
    # fewer exchanges at test SF, quadratic exchanged BYTES at scale
    # (round 6's 100x probe filled the disk with spill).
    "sim_ann_ivf": (3, 2),
    "asof_join_events": (1, 0),
    "range_join_close_events": (1, 1),
    "merge_upsert_orders": (3, 0),
    "events_multires_rollup": (1, 0),
}


@pytest.mark.parametrize("name", sorted(HEADLINE_EXCHANGE_BUDGET))
def test_headline_shuffle_budget(spark, name):
    df = registry.queries()[name](spark, SF_SMOKE)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    plan = df._jdf.queryExecution().explainString(jmode)
    got = (len(_SHUFFLE_NODE.findall(plan)), plan.count("BroadcastExchange"))
    want = HEADLINE_EXCHANGE_BUDGET[name]
    assert got == want, (
        f"{name}: plan has {got[0]} shuffle / {got[1]} broadcast exchanges, "
        f"budget is {want} — a new shuffle appeared (or one vanished); "
        f"re-audit the plan before re-pinning"
    )
