"""Property-based tests (hypothesis) for the cross-engine primitives.

The oracle-parity suite proves the registry queries on one fixed
dataset; these properties prove the underlying primitives on arbitrary
inputs — the hash fold really is engine-independent, the pair expansion
really is C(n,2), the date padding really matches pandas' coercion, and
each functions/exact.py twin agrees bit for bit with its Spark builder.
"""

from __future__ import annotations

import hashlib
import math
import random
from fractions import Fraction
from itertools import combinations

import duckdb
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

from spotify_serverless_etl_pipeline_engineering_with_azure_spark.functions.dates import (
    parse_release_date,
)
from spotify_serverless_etl_pipeline_engineering_with_azure_spark.functions.exact import (
    dsum,
    dsum_over,
    roundk,
    sql_double,
    sql_dsum,
    sql_dsum_over,
    sql_roundk,
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



def _on_both_engines(spark, values, schema="g int, x double"):
    """A Spark frame and a DuckDB table ``t`` over the same rows."""
    con = duckdb.connect()
    columns = [c.split()[0] for c in schema.split(",")]
    con.register("t", pd.DataFrame(values, columns=columns))
    return spark.createDataFrame(values, schema), con


def _bits(rows) -> list[str | None]:
    return [None if y is None else y.hex() for (y,) in rows]


def test_roundk_twins_agree_at_half_boundaries(spark):
    """roundk and sql_roundk round the doubles 1 ulp either side of every
    6dp half boundary k/1280 (the cume_dist class) identically; the
    scale-argument ROUND(x, 6) of the two engines does not, so the
    inputs discriminate."""
    halves = [Fraction(k, 1280) * 2 * 10**6 for k in range(1, 1280)]
    edges = [float(h / (2 * 10**6)) for h in halves if h.denominator == 1 and h.numerator % 2]
    xs = [y for x in edges for y in (math.nextafter(x, 0.0), x, math.nextafter(x, 1.0))]
    df, con = _on_both_engines(spark, list(enumerate(xs)))

    def both(col, sql):
        return (
            _bits(df.orderBy("g").select(col).collect()),
            _bits(con.execute(f"SELECT {sql} FROM t ORDER BY g").fetchall()),
        )

    twin_spark, twin_duckdb = both(roundk(F.col("x"), 6), sql_roundk("x", 6))
    assert twin_spark == twin_duckdb
    raw_spark, raw_duckdb = both(F.round("x", 6), "ROUND(x, 6)")
    assert raw_spark != raw_duckdb


def test_dsum_twins_agree_past_2_53_units(spark):
    """dsum and sql_dsum give the same double for exact 2dp sums past
    2^53 units (the sf1 q1 sum_charge case); DuckDB's direct
    DECIMAL→DOUBLE cast of the same sums does not, so the inputs
    discriminate. The windowed twins agree on the same sums frame by
    frame, and the 9dp sums of quantized raw doubles agree with the
    wide decimal sum."""
    rng = random.Random(7)
    values = [(g, rng.randrange(5 * 10**14, 10**15) / 100) for g in range(40) for _ in range(20)]
    df, con = _on_both_engines(spark, values)
    per_group = " FROM t GROUP BY g ORDER BY g"
    twin_duckdb = _bits(con.execute(f"SELECT {sql_dsum('x', 2)}{per_group}").fetchall())
    twin_spark = _bits(
        df.groupBy("g").agg(dsum(F.col("x"), 2).alias("s")).orderBy("g").select("s").collect()
    )
    assert twin_spark == twin_duckdb
    assert min(float.fromhex(y) for y in twin_duckdb) * 100 > 2**53
    direct = _bits(con.execute(f"SELECT CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE){per_group}").fetchall())
    assert direct != twin_duckdb

    # Windowed arm: dsum_over and sql_dsum_over agree frame by frame on
    # a running ROWS frame and a RANGE frame, and a frame over NULLs
    # only (group 40) is NULL on both engines.
    rows = [(g, i, x) for i, (g, x) in enumerate(values)] + [(40, 800 + i, None) for i in range(5)]
    df, con = _on_both_engines(spark, rows, "g int, i int, x double")
    by_g = Window.partitionBy("g").orderBy("i")
    frames = {
        "running rows": (
            by_g.rowsBetween(Window.unboundedPreceding, Window.currentRow),
            "(PARTITION BY g ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)",
        ),
        "range": (
            by_g.rangeBetween(-3, Window.currentRow),
            "(PARTITION BY g ORDER BY i RANGE BETWEEN 3 PRECEDING AND CURRENT ROW)",
        ),
    }
    for frame, (w, sql_w) in frames.items():
        got = _bits(
            df.select("g", "i", dsum_over(F.col("x"), 2, w).alias("s"))
            .orderBy("g", "i")
            .select("s")
            .collect()
        )
        want = _bits(
            con.execute(f"SELECT {sql_dsum_over('x', 2, sql_w)} FROM t ORDER BY g, i").fetchall()
        )
        assert got == want, frame
        assert got[-5:] == [None] * 5 and None not in got[:-5], frame

    # 9dp arm: dsum of roundk(x, 9), the exact contribution sum of
    # PageRank and the centroid means, equals the DECIMAL(28,12) sum on
    # both engines, and sql_dsum at scale 9 is its twin.
    values = [(g, rng.random() / rng.randrange(1, 50)) for g in range(40) for _ in range(20)]
    df, con = _on_both_engines(spark, values)
    q9 = roundk(F.col("x"), 9)
    got = _bits(df.groupBy("g").agg(dsum(q9, 9).alias("s")).orderBy("g").select("s").collect())
    wide = _bits(
        df.groupBy("g")
        .agg(F.sum(q9.cast("decimal(28,12)")).cast("double").alias("s"))
        .orderBy("g")
        .select("s")
        .collect()
    )
    wide_sql = sql_double(f"SUM(CAST({sql_roundk('x', 9)} AS DECIMAL(28,12)))")
    for sql in (wide_sql, sql_dsum(sql_roundk("x", 9), 9)):
        assert got == _bits(con.execute(f"SELECT {sql}{per_group}").fetchall())
    assert got == wide
