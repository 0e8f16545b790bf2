"""Invariants for the digest suites and the driver-checked prefix.

The external driver verifies a bounded prefix of the registry (round 1:
the first 50 queries). These tests pin the properties that make that
prefix a complete correctness gate:

1. the prefix IS the declared PRIORITY list, every slot oracle-backed;
2. every oracle-backed query in the registry is certified inside the
   prefix — individually or as a member of a prefix suite;
3. the digest machinery actually discriminates: a value perturbation in
   a member's result flips its digest row.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spotify_serverless_etl_pipeline_engineering_with_azure_spark.plans.member_dtypes import (
    MEMBER_DTYPES,
)
from spotify_serverless_etl_pipeline_engineering_with_azure_spark.plans.suites import (
    SUITES,
    digest_fold_exprs,
    digest_spark,
)
from spotify_serverless_etl_pipeline_engineering_with_azure_spark.registry import (
    PRIORITY,
    load_all,
)

from .conftest import SF_SMOKE


def test_priority_is_the_registry_prefix():
    reg = load_all()
    assert list(reg)[: len(PRIORITY)] == list(PRIORITY)
    assert len(PRIORITY) == 50


def test_priority_slots_all_oracle_backed():
    reg = load_all()
    assert all(reg[n].oracle is not None for n in PRIORITY)


def test_every_oracle_backed_query_certified_in_prefix():
    reg = load_all()
    covered = set(PRIORITY)
    for suite in PRIORITY:
        covered.update(SUITES.get(suite, ()))
    uncovered = [n for n, q in reg.items() if q.oracle is not None and n not in covered]
    assert not uncovered, f"oracle-backed but not driver-certified: {uncovered}"


def test_suite_members_exist_with_kinds():
    reg = load_all()
    for suite, members in SUITES.items():
        for m in members:
            assert m in reg, f"{suite}: unknown member {m}"
            assert reg[m].oracle is not None, f"{suite}: member {m} has no oracle"
            assert m in MEMBER_DTYPES, f"{suite}: member {m} has no pinned dtypes"


def test_digest_flips_on_value_change(spark):
    load_all()
    df = spark.range(100).select(
        F.col("id").alias("doc_id"), (F.col("id") * 2).alias("n_tokens")
    )
    base = digest_spark(df, "udf_pandas_scalar").collect()[0]
    bumped = df.withColumn(
        "n_tokens", F.when(F.col("doc_id") == 57, F.col("n_tokens") + 1).otherwise(F.col("n_tokens"))
    )
    changed = digest_spark(bumped, "udf_pandas_scalar").collect()[0]
    assert base.n_rows == changed.n_rows
    assert (base.h1, base.h2) != (changed.h1, changed.h2)


def test_digest_rejects_schema_drift(spark):
    load_all()
    df = spark.range(5).select(
        F.col("id").alias("doc_id"), (F.col("id") * 1.5).alias("n_tokens")
    )  # double where the oracle schema says verbatim/int
    with pytest.raises(TypeError, match="class"):
        digest_spark(df, "udf_pandas_scalar")


def test_digest_flips_on_same_class_dtype_drift(spark):
    """int→bigint stays inside canonicalization class 'v', so h1/h2 and
    the class check cannot see it — h3 (exact dtype signature vs the
    pinned plans/member_dtypes.py entry) must flip the row."""
    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.plans.suites import (
        _sig_hash,
        dtype_signature,
    )

    load_all()
    good = spark.range(100).select(
        F.col("id").alias("doc_id"), (F.col("id") * 2).cast("int").alias("n_tokens")
    )
    assert dtype_signature(good) == MEMBER_DTYPES["udf_pandas_scalar"]
    pinned_h3 = _sig_hash(MEMBER_DTYPES["udf_pandas_scalar"])
    assert digest_spark(good, "udf_pandas_scalar").collect()[0].h3 == pinned_h3

    drifted = good.withColumn("n_tokens", F.col("n_tokens").cast("bigint"))
    row = digest_spark(drifted, "udf_pandas_scalar").collect()[0]
    assert row.h3 != pinned_h3, "same-class dtype drift must flip h3"


def test_member_dtypes_pins_complete():
    """Every suite member has a pinned exact-dtype signature, and every
    pinned dtype maps to a canonicalization class (the pin is where the
    digest takes each column's class from)."""
    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.plans.suites import (
        _spark_class,
    )

    members = {m for ms in SUITES.values() for m in ms}
    missing = sorted(members - set(MEMBER_DTYPES))
    assert not missing, f"run scripts/gen_member_dtypes.py: {missing}"
    for m in sorted(members):
        for kv in MEMBER_DTYPES[m].split(";"):
            c, dt = kv.split(":", 1)
            assert _spark_class(dt) in ("v", "d", "t"), (m, c, dt)


def test_unpinned_member_suite_builds_and_fails_loud(spark):
    """A member with no pin yet (the state scripts/gen_member_dtypes.py
    bootstraps from) must not break building its suite: the DuckDB
    oracle row carries a negative n_rows no Spark COUNT can equal, and
    the Spark digest refuses the member, naming the script."""
    import duckdb

    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.plans.suites import (
        _make_suite,
    )
    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.registry import (
        REGISTRY,
        register,
    )

    load_all()
    member, suite = "unpinned_probe", "unpinned_probe_suite"
    assert member not in MEMBER_DTYPES
    register(member, oracle="SELECT 1 AS x")(
        lambda spark, sf_dir: spark.range(1).select(F.lit(1).alias("x"))
    )
    try:
        _make_suite(suite, (member,))
        with duckdb.connect() as con:
            row = con.execute(REGISTRY[suite].oracle).fetchone()
        assert row[0] == member and row[1] < 0
        with pytest.raises(ValueError, match="gen_member_dtypes"):
            REGISTRY[suite].fn(spark, SF_SMOKE)
    finally:
        REGISTRY.pop(member, None)
        REGISTRY.pop(suite, None)


@pytest.mark.parametrize("suite", sorted(SUITES))
def test_suites_match_oracle_at_smoke_scale(spark, suite):
    """Suite parity AT SF_SMOKE specifically. Suites are oracle-backed
    registry entries, so test_oracle_parity already runs this exact
    comparison at its sf_dir — re-running the most expensive digests
    (tpch_digest executes all 22 TPC-H members) is only informative
    when the two SFs differ (SSE_TEST_SF_DIR points parity elsewhere).
    """
    import os

    if os.environ.get("SSE_TEST_SF_DIR", SF_SMOKE) == SF_SMOKE:
        pytest.skip("duplicate of test_oracle_parity at this sf_dir")
    from .oracle_mirror import compare, duckdb_conn, run_query_pair

    reg = load_all()
    con = duckdb_conn(SF_SMOKE)
    try:
        q = reg[suite]
        s, o = run_query_pair(spark, con, q.fn, q.oracle, SF_SMOKE)
        assert not compare(s, o)
    finally:
        con.close()


def test_digest_second_fold_separates_equal_first_fold_multisets(spark):
    """The two folds must be INDEPENDENT constraints: for two distinct
    hash multisets with equal row count and equal h1 (Σh mod M), h2
    must still separate them. Under an affine second fold a·h+b — the
    pre-fix shape — h2 ≡ a·h1 + b·n_rows (mod M) identically, so every
    equal-h1 corruption (paired +d/−d value drifts, any deltas summing
    to 0 mod M) passed both folds; this test fails for ANY affine h2."""
    a = spark.createDataFrame([(1,), (10,)], "h long")
    b = spark.createDataFrame([(4,), (7,)], "h long")

    def fold(df):
        h1, h2 = digest_fold_exprs(F.col("h"))
        return df.agg(h1.alias("h1"), h2.alias("h2")).collect()[0]

    ra, rb = fold(a), fold(b)
    assert ra.h1 == rb.h1, "fixture must collide in the first fold"
    assert ra.h2 != rb.h2, (
        "second fold is a function of (h1, n_rows) — it adds no "
        "discrimination beyond the first"
    )
