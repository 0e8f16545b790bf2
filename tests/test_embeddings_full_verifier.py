"""Regression tests for the embedding references in
scripts/verify_scale.py — the full-population numpy mirror that
certifies the embedding dedup family (dedup_embedding_cosine,
dedup_semdedup) at scales the pairwise DuckDB oracle cannot reach. The
mirror is pinned here against the REGISTERED oracle SQL itself on a
synthetic corpus crafted to hit the hard spots: exact duplicate
vectors (assignment ties → min-cid rule), near-duplicates straddling
the emission threshold, and negative cosines (sign-aware HALF_UP)."""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
)

from verify_scale import (  # noqa: E402
    load_store,
    reference_outputs,
    round6_vec,
    seq_fold_rows,
)


def test_round6_vec_sign_aware_half_up():
    import decimal

    ys = np.array(
        [2.5, -2.5, 0.5, -0.5, 1.4999994, -1.4999994, 123456.5, -123456.5, 0.0,
         2.4999999999999996, -2.4999999999999996]
    )
    want = [
        float(decimal.Decimal(float(y)).quantize(decimal.Decimal(1), decimal.ROUND_HALF_UP))
        for y in ys
    ]
    assert round6_vec(ys).tolist() == want


def test_seq_fold_rows_matches_scalar_left_to_right_fold():
    rng = np.random.default_rng(11)
    A = rng.normal(size=(50, 64))
    B = rng.normal(size=(50, 64))
    got = seq_fold_rows(A, B)
    for i in range(len(A)):
        acc = 0.0
        for d in range(64):
            acc = acc + float(A[i, d]) * float(B[i, d])
        assert got[i] == acc


def _write_corpus(path: str, vecs: np.ndarray) -> None:
    emb = pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32()))
    ids = pa.array(np.arange(len(vecs), dtype=np.int32), type=pa.int32())
    pq.write_table(pa.table({"vec_id": ids, "embedding": emb}), path)


def test_reference_matches_registered_oracle_sql(tmp_path):
    import duckdb

    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.plans.dedup import (
        _emb_cosine_oracle,
        _semdedup_oracle,
    )

    rng = np.random.default_rng(23)
    n, dim = 160, 16
    vecs = rng.normal(size=(n, dim))
    # exact duplicates (assignment tie + cosine exactly 1.0), a
    # near-duplicate pair, and an antipodal pair (negative cosine)
    vecs[40] = vecs[3]
    vecs[41] = vecs[3]
    vecs[42] = vecs[3] + 1e-4 * rng.normal(size=dim)
    vecs[43] = -vecs[3]
    path = str(tmp_path / "embeddings.parquet")
    _write_corpus(path, vecs)

    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')")
    sd = (
        con.execute(_semdedup_oracle()).fetchdf().sort_values("vec_id").reset_index(drop=True)
    )
    ec = (
        con.execute(_emb_cosine_oracle())
        .fetchdf()
        .sort_values(["vec_a", "vec_b"])
        .reset_index(drop=True)
    )

    # odd block: exercise chunk seams
    ref = reference_outputs(load_store(str(tmp_path)), row_block=7)
    rsd, rec = ref["semdedup"], ref["cosine"]
    assert np.array_equal(sd["vec_id"].to_numpy(np.int64), rsd["vec_id"])
    assert np.array_equal(sd["cluster"].to_numpy(np.int64), rsd["cluster"])
    assert np.array_equal(sd["max_sim_lower"].to_numpy(np.float64), rsd["max_sim_lower"])
    assert np.array_equal(sd["keep"].to_numpy(bool), rsd["keep"])
    assert np.array_equal(ec["vec_a"].to_numpy(np.int64), rec["vec_a"])
    assert np.array_equal(ec["vec_b"].to_numpy(np.int64), rec["vec_b"])
    assert np.array_equal(ec["cos_sim"].to_numpy(np.float64), rec["cos_sim"])
    # the crafted corpus actually exercised the hard spots
    assert (rsd["max_sim_lower"] == 1.0).any()  # exact-dup cosine
    assert not rsd["keep"].all()  # some drops happened
