"""Semantic invariants for the user-behavior operators (funnel, cohort
retention, EWMA decay, salted aggregation). Oracle parity is covered by
test_oracle_parity.py; these pin the properties a hash compare can't
express."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spotify_serverless_etl_pipeline_engineering_with_azure_spark import registry
from spotify_serverless_etl_pipeline_engineering_with_azure_spark.catalog import share, table

from .plan_digest import digest, fields
from .test_plan_quality import no_cartesian

ALL = registry.load_all()


def test_funnel_counts_monotonically_shrink(spark, sf_dir):
    rows = sorted(
        ALL["events_funnel_conversion"].fn(spark, sf_dir).collect(),
        key=lambda r: r["step"],
    )
    assert [r["step_name"] for r in rows] == ["view", "click", "purchase"]
    counts = [r["n_users"] for r in rows]
    assert counts == sorted(counts, reverse=True), "each step loses (or keeps) users"
    assert rows[0]["conv_rate"] == 1.0
    assert all(0.0 <= r["conv_rate"] <= 1.0 for r in rows)


def test_cohort_week0_is_full_cohort(spark, sf_dir):
    """Every user is active in their own first-seen week, so week 0
    retention is exactly 1.0 and week-0 cells sum to the user count."""
    cells = ALL["events_cohort_retention"].fn(spark, sf_dir).collect()
    week0 = [r for r in cells if r["week_offset"] == 0]
    assert week0, "at least one cohort exists"
    assert all(r["retention"] == 1.0 for r in week0)
    n_users = (
        table(spark, sf_dir, "events").select("user_id").distinct().count()
    )
    assert sum(r["n_active"] for r in week0) == n_users
    assert all(r["week_offset"] >= 0 for r in cells)


def test_ewma_bounded_by_value_range(spark, sf_dir):
    """A convex-combination recurrence stays within [min, max] of each
    user's values; n_events sums to the table size."""
    ev = table(spark, sf_dir, "events")
    bounds = {
        r["user_id"]: (r["lo"], r["hi"])
        for r in ev.groupBy("user_id")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
        .collect()
    }
    out = ALL["timeseries_ewma_decay"].fn(spark, sf_dir).collect()
    assert sum(r["n_events"] for r in out) == ev.count()
    for r in out:
        lo, hi = bounds[r["user_id"]]
        assert lo <= r["ewma_value"] <= hi


def test_attribution_gap_nonnegative_and_window_bounded(spark, sf_dir):
    """Attributed purchases have 0 <= gap <= 7 days; the click always
    precedes (or ties) the purchase under (ts, event_id) ordering."""
    rows = ALL["events_attribution_last_touch"].fn(spark, sf_dir).collect()
    n_purchases = (
        table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase").count()
    )
    assert len(rows) == n_purchases, "one output row per purchase"
    seven_days_us = 7 * 86_400 * 1_000_000
    for r in rows:
        if r["gap_us"] is not None:
            assert r["gap_us"] >= 0
            assert r["attributed"] == (r["gap_us"] <= seven_days_us)
        else:
            assert not r["attributed"]


def test_markov_rows_are_stochastic(spark, sf_dir):
    """Each cur_type's outgoing probabilities sum to 1 (row-stochastic)
    and every probability is in (0, 1]."""
    rows = ALL["events_markov_transitions"].fn(spark, sf_dir).collect()
    by_cur: dict[str, float] = {}
    for r in rows:
        assert 0.0 < r["prob"] <= 1.0
        by_cur[r["cur_type"]] = by_cur.get(r["cur_type"], 0.0) + r["prob"]
    for cur, total in by_cur.items():
        assert abs(total - 1.0) < 1e-9, f"{cur}: {total}"


def test_rfm_scores_are_balanced_quartiles(spark, sf_dir):
    """NTILE(4) buckets differ in size by at most one user and every
    score is in 1..4."""
    rows = ALL["events_rfm_segmentation"].fn(spark, sf_dir).collect()
    for col in ("r_score", "f_score", "m_score"):
        sizes: dict[int, int] = {}
        for r in rows:
            assert 1 <= r[col] <= 4
            sizes[r[col]] = sizes.get(r[col], 0) + 1
        assert max(sizes.values()) - min(sizes.values()) <= 1, (col, sizes)


def test_point_in_time_matches_range_join_form(spark, sf_dir):
    """The carry-forward formulation must equal the naive SCD2 range
    join (user_id equal, effective_from <= ts < effective_to) — the
    semantics it optimizes away."""
    ev = table(spark, sf_dir, "events")
    hist = (
        ev.filter(F.col("event_type") == "signup")
        .select(
            "user_id",
            F.col("ts").alias("effective_from"),
            F.col("event_id").alias("dim_eid"),
            F.col("value").alias("dim_value"),
        )
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    # latest version with (from, eid) <= (ts, purchase event_id): join all
    # earlier versions, keep max by (effective_from, dim_eid)
    joined = purchases.join(hist, "user_id").filter(
        F.col("effective_from") <= F.col("ts")
    )
    latest = (
        joined.groupBy("purchase_id")
        .agg(
            F.max_by(
                "dim_value", F.struct("effective_from", "dim_eid")
            ).alias("expect_value")
        )
    )
    got = {
        r["purchase_id"]: r["dim_value_at"]
        for r in ALL["events_point_in_time_enrich"].fn(spark, sf_dir).collect()
    }
    expect = {r["purchase_id"]: r["expect_value"] for r in latest.collect()}
    for pid, v in expect.items():
        assert got[pid] == v, pid
    # purchases with no prior signup must be NULL in the carry-forward form
    for pid, v in got.items():
        if pid not in expect:
            assert v is None


def test_salted_agg_has_two_aggregation_phases(plan_records):
    """The physical plan must contain the salted pre-aggregation, keyed
    on (l_returnflag, salt), feeding the final merge, each phase with
    its partial and final aggregate."""
    p = fields(plan_records["agg_salted_skew"])
    assert "hash(l_returnflag, salt)" in p["exchange"], p
    assert p["agg"] >= 4, "partial+final for both phases"


@pytest.mark.parametrize(
    "name",
    ["events_funnel_conversion", "events_cohort_retention", "agg_salted_skew"],
)
def test_behavior_plans_have_no_cartesian(plan_records, name):
    assert no_cartesian(fields(plan_records[name])), plan_records[name]


def test_rolling_active_users_bounds(spark, sf_dir):
    """WAU >= DAU everywhere, stickiness in (0, 1], and the max WAU
    never exceeds the total user count."""
    rows = ALL["events_rolling_active_users"].fn(spark, sf_dir).collect()
    n_users = table(spark, sf_dir, "events").select("user_id").distinct().count()
    assert rows, "at least one report day"
    for r in rows:
        assert r["dau_users"] <= r["wau_users"] <= n_users
        assert 0.0 < r["stickiness"] <= 1.0


@pytest.mark.parametrize("n", [1, 2, 3, 4, 5, 7, 8, 97, 100])
def test_distributed_ntile_matches_window_ntile(spark, n):
    """_distributed_ntile's quota formula must equal the window NTILE
    for every n mod t residue (the quota split between ceil- and
    floor-sized tiles is where an off-by-one would live) — including
    n < t, where each row is its own tile. Uses a deliberately
    shuffled id frame so range partitioning does real work."""
    from pyspark.sql import Window as W

    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.plans.behavior_ops import (
        _distributed_ntile,
    )

    df = (
        spark.range(n)
        .select((F.col("id") * 7919 % 104729).alias("metric"), F.col("id").alias("user_id"))
        .repartition(5)
    )
    order = [F.desc("metric"), F.asc("user_id")]
    got = {
        r["user_id"]: r["score"]
        for r in _distributed_ntile(df, order, 4, "score").collect()
    }
    want = {
        r["user_id"]: r["t"]
        for r in df.select(
            "user_id", F.ntile(4).over(W.orderBy(*order)).alias("t")
        ).collect()
    }
    assert got == want


def test_distributed_ntile_broadcast_offset_path(spark, monkeypatch):
    """Past _NTILE_MAP_LITERAL_MAX partitions the offset lookup swaps
    from a literal create_map (janino has a 64 KB method ceiling — a
    map literal over 1e5-1e6 range partitions is a multi-MB expression)
    to a broadcast-joined (pid, offset) frame. Force that path with a
    zero threshold and pin (a) exact parity with the window NTILE and
    (b) that the offset join is a broadcast, not a shuffle."""
    from pyspark.sql import Window as W

    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.plans import (
        behavior_ops,
    )

    monkeypatch.setattr(behavior_ops, "_NTILE_MAP_LITERAL_MAX", 0)
    df = (
        spark.range(97)
        .select((F.col("id") * 7919 % 104729).alias("metric"), F.col("id").alias("user_id"))
        .repartition(5)
    )
    order = [F.desc("metric"), F.asc("user_id")]
    out = behavior_ops._distributed_ntile(df, order, 4, "score")
    joins = fields(digest(out))["join"]
    assert "BHJ" in joins and "SMJ" not in joins, joins
    got = {r["user_id"]: r["score"] for r in out.collect()}
    want = {
        r["user_id"]: r["t"]
        for r in df.select(
            "user_id", F.ntile(4).over(W.orderBy(*order)).alias("t")
        ).collect()
    }
    assert got == want


def test_checkpoint_dir_makes_eager_materializations_durable(spark, sf_dir, tmp_path):
    """The checkpoint dir is the one durability switch: with one set,
    _distributed_ntile's range-partitioned frame, agg_approx_sketches'
    sketch aggregate, text_tfidf_top_terms' shared tf and
    spotify.transform's shared items become reliable checkpoints under
    it (rdd-* dirs), and each returns the same rows as the
    local-checkpoint run."""
    import os

    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.operators import spotify
    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.operators.fixtures import (
        write_json_dir,
    )
    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.plans.behavior_ops import (
        _distributed_ntile,
    )

    from .conftest import checkpoint_dir

    raw_dir = str(tmp_path / "raw")
    write_json_dir(raw_dir)

    df = (
        spark.range(97)
        .select((F.col("id") * 7919 % 104729).alias("metric"), F.col("id").alias("user_id"))
        .repartition(5)
    )
    order = [F.desc("metric"), F.asc("user_id")]
    runs = {
        "ntile": lambda: _distributed_ntile(df, order, 4, "score").collect(),
        "sketches": lambda: ALL["agg_approx_sketches"].fn(spark, sf_dir).collect(),
        "tfidf": lambda: ALL["text_tfidf_top_terms"].fn(spark, sf_dir).collect(),
        "spotify_transform": lambda: [
            (table_name, *row)
            for table_name, out in spotify.transform(
                spotify.read_raw_json(spark, raw_dir)
            ).items()
            for row in out.collect()
        ],
    }
    for name, run in runs.items():
        local = sorted(map(tuple, run()))
        with checkpoint_dir(spark, tmp_path / name) as ck:
            durable = sorted(map(tuple, run()))
            entries = os.listdir(ck)
        assert any(e.startswith("rdd-") for e in entries), (
            f"{name}: no reliable checkpoint under the checkpoint dir: {entries}"
        )
        assert durable == local, name


# The queries that read one aggregate from several consumers through
# catalog.share.
SHARING_QUERIES = (
    "bloom_filter_prune_join",
    "events_anomaly_zscore",
    "events_funnel_conversion",
    "events_rolling_active_users",
    "fuzzy_match_part_names",
    "q11_important_parts",
    "q15_top_supplier",
    "set_ops",
    "sketch_hll_merge",
    "text_pmi_collocations",
    "text_tfidf_top_terms",
    "text_unigram_logprob",
    "text_vocab_coverage",
    "timeseries_gap_fill",
    "top_parts_pareto",
)


def test_no_cache_entry_outlives_a_query(spark, sf_dir):
    """A shared aggregate is a checkpoint that ContextCleaner frees with
    its frame, never a CacheManager entry, which would outlive the
    query until someone unpersists it."""
    for name in SHARING_QUERIES:
        ALL[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_share_is_lazy_only_for_a_narrow_frame(spark):
    """Without a checkpoint dir, ``share`` of a narrow frame runs no job
    until an action (so spotify.transform adds no job per trigger),
    while ``share`` of an aggregate runs its shuffle-map stage at once:
    one job for its one exchange."""
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None

    def jobs_at_share(df, group):
        sc.setJobGroup(group, "share laziness probe")
        try:
            shared = share(df)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # Job records arrive through the listener bus; drain it first.
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group)), shared

    narrow = spark.range(1000).select((F.col("id") * 2).alias("x"))
    n_jobs, shared = jobs_at_share(narrow, "share_probe_narrow")
    assert n_jobs == 0
    assert shared.count() == 1000

    wide = spark.range(1000).groupBy((F.col("id") % 97).alias("k")).count()
    n_jobs, shared = jobs_at_share(wide, "share_probe_wide")
    assert n_jobs == 1
    assert shared.count() == 97
