"""Regression test for the ANN references in scripts/verify_scale.py —
the full-population numpy mirrors that certify the ANN search members
(sim_ann_ivf, sim_ann_lsh_bucketed) at scale. Pinned against the
REGISTERED oracle SQL on a synthetic 64-dim corpus (the hyperplane
tables are 64-dim, so the LSH oracle requires the real EMB_DIM) with
exact duplicates to force assignment and ranking ties."""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
)

from verify_scale import load_store, reference_ivf, reference_lsh  # noqa: E402


def test_ann_references_match_registered_oracle_sql(tmp_path):
    import duckdb

    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.plans.advanced_ops import (
        _ivf_oracle,
    )
    import spotify_serverless_etl_pipeline_engineering_with_azure_spark.plans.similarity  # noqa: F401
    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.registry import REGISTRY

    rng = np.random.default_rng(31)
    n, dim = 232, 64  # 232 % 29 = 0 probes at 0, 29, ..., 203
    vecs = rng.normal(size=(n, dim))
    vecs[58] = vecs[29]  # duplicate a probe: cosine-1.0 neighbor + ties
    vecs[59] = vecs[29]
    emb = pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32()))
    ids = pa.array(np.arange(n, dtype=np.int32), type=pa.int32())
    pq.write_table(
        pa.table({"vec_id": ids, "embedding": emb}),
        str(tmp_path / "embeddings.parquet"),
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{tmp_path}/embeddings.parquet')"
    )

    ivf = con.execute(_ivf_oracle()).fetchdf()
    got_ivf = sorted(
        zip(
            ivf["probe_id"].astype("int64"),
            ivf["neighbor_id"].astype("int64"),
            ivf["cos_sim"].astype("float64"),
            ivf["rk"].astype("int64"),
        )
    )
    assert got_ivf == sorted(reference_ivf(load_store(str(tmp_path))))

    lsh_sql = REGISTRY["sim_ann_lsh_bucketed"].oracle
    lsh = con.execute(lsh_sql).fetchdf()
    got_lsh = sorted(
        zip(
            lsh["probe_id"].astype("int64"),
            lsh["neighbor_id"].astype("int64"),
            lsh["cos_sim"].astype("float64"),
            lsh["rank"].astype("int64"),
        )
    )
    assert got_lsh == sorted(reference_lsh(load_store(str(tmp_path))))
    # the duplicate-probe construction actually produced a 1.0 hit
    assert any(c == 1.0 for _, _, c, _ in got_ivf)
