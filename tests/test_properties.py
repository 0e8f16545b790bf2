"""Property-based tests (hypothesis) for the cross-engine primitives.

The oracle-parity suite proves the registry queries on one fixed
dataset; these properties prove the underlying primitives on arbitrary
inputs — the hash fold really is engine-independent, the pair expansion
really is C(n,2), the date padding really matches pandas' coercion.
"""

from __future__ import annotations

import hashlib
from itertools import combinations

import duckdb
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from spotify_serverless_etl_pipeline_engineering_with_azure_spark.functions.dates import (
    parse_release_date,
)
from spotify_serverless_etl_pipeline_engineering_with_azure_spark.functions.hashing import (
    HEX_CHARS,
    sql_md5_int48,
)
from spotify_serverless_etl_pipeline_engineering_with_azure_spark.plans.dedup import (
    _bucket_pairs,
)


@given(st.text(alphabet=st.characters(codec="ascii"), min_size=0, max_size=64))
@settings(max_examples=200, deadline=None)
def test_md5_fold_matches_python(s: str):
    """The DuckDB hex-fold fragment equals int(md5_hex[:12], 16) for any
    ascii string — the invariant every dedup signature rests on."""
    expected = int(hashlib.md5(s.encode()).hexdigest()[:HEX_CHARS], 16)
    got = duckdb.execute(
        f"SELECT {sql_md5_int48('?')} AS h", [s]
    ).fetchone()[0]
    assert got == expected


@given(
    st.lists(st.integers(min_value=0, max_value=10**9), min_size=2, max_size=12, unique=True)
)
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_bucket_pairs_is_all_ordered_pairs(spark, ids: list[int]):
    """_bucket_pairs emits exactly the C(n,2) ascending pairs of a
    bucket, no dupes, no misses — for arbitrary id sets."""
    ids = sorted(ids)
    df = spark.createDataFrame([(ids,)], "ids: array<long>")
    got = {(r.doc_a, r.doc_b) for r in _bucket_pairs(df).collect()}
    assert got == set(combinations(ids, 2))


_gran = st.sampled_from(["y", "ym", "ymd"])


@given(
    st.lists(
        st.tuples(
            st.integers(1900, 2099), st.integers(1, 12), st.integers(1, 28), _gran
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_release_date_padding_matches_pandas(spark, specs):
    """parse_release_date coerces YYYY / YYYY-MM / YYYY-MM-DD exactly
    like the reference's pd.to_datetime
    (/root/reference/spotifytransform.py:99) for any well-formed mix."""
    raw = [
        {"y": f"{y}", "ym": f"{y}-{m:02d}", "ymd": f"{y}-{m:02d}-{d:02d}"}[g]
        for y, m, d, g in specs
    ]
    df = spark.createDataFrame([(s,) for s in raw], "release_date: string")
    got = [
        r.parsed.isoformat() if r.parsed else None
        for r in df.selectExpr(f"{parse_release_date('release_date')} AS parsed").collect()
    ]
    expected = [ts.date().isoformat() for ts in pd.to_datetime(raw, format="mixed")]
    assert got == expected
