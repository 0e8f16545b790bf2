"""Regression tests for the prefix-filter Jaccard reference in
scripts/verify_scale.py — the full-population numpy mirror that
certifies dedup_prefix_filter_jaccard at scales the member's quadratic
DuckDB oracle cannot reach. The mirror is pinned here against the
REGISTERED oracle SQL itself (which applies NO length/positional
filters — so a filter that wrongly dropped a true pair would surface
as a missing row in this compare) on a corpus crafted to hit the hard
spots: an exact-duplicate boilerplate cluster, a pair landing EXACTLY
on the 0.6 threshold (3/5), sub-threshold near-misses, document-
frequency ties forcing the ORDER BY sh tiebreak, and a sub-3-token doc
excluded from shingling."""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
)

from verify_scale import (  # noqa: E402
    load_shingles,
    reference_output,
)


def _write_docs(dirpath, rows):
    tbl = pa.table(
        {
            "doc_id": pa.array([i for i, _ in rows], pa.int64()),
            "text": pa.array([t for _, t in rows], pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
            "source": pa.array([f"src{i % 3}" for i, _ in rows], pa.string()),
            "n_chars": pa.array([len(t) for _, t in rows], pa.int64()),
        }
    )
    pq.write_table(tbl, str(dirpath / "documents.parquet"))
    return str(dirpath)


@pytest.fixture(scope="module")
def crafted_dir(tmp_path_factory):
    rng = np.random.default_rng(7)
    vocab = [f"w{i}" for i in range(24)]
    rows = []
    # random base docs, lengths 3..12 over a small vocab -> df ties
    # (many shingles share a frequency) force the ORDER BY sh tiebreak
    for i in range(40):
        n = int(rng.integers(3, 13))
        rows.append((i, " ".join(rng.choice(vocab, size=n))))
    # boilerplate cluster: 5 byte-identical docs (jaccard 1.0 clique)
    for j in range(5):
        rows.append((100 + j, "lorem ipsum dolor sit amet consectetur"))
    # EXACTLY the 0.6 threshold: shingle sets of size 4 sharing 3
    # (nc=3, nu=5, 3/5 = 0.6 -> >= t keeps it)
    rows.append((200, "a1 a2 a3 a4 a5 a6"))
    rows.append((201, "a1 a2 a3 a4 a5 zz"))
    # just below threshold: m=4 vs m=4 sharing 2 -> 2/6 = 0.333
    rows.append((210, "b1 b2 b3 b4 b5 b6"))
    rows.append((211, "b1 b2 b3 qq b5 b6"))
    # sub-3-token doc: excluded from shingling entirely
    rows.append((300, "tiny doc"))
    # near-dup chain: suffix variants of one base (the gen_sf1 shape)
    base = "c1 c2 c3 c4 c5 c6 c7 c8 c9"
    for j in range(4):
        rows.append((400 + j, base + (f" copytok{j}" if j else "")))
    return _write_docs(tmp_path_factory.mktemp("pfj_crafted"), rows)


def test_mirror_matches_registered_oracle_sql(crafted_dir):
    """The mirror's full adjudicated population must equal the
    REGISTERED (filter-free) oracle SQL row-for-row, value-for-value —
    pinning blocking, filters, exact intersection, and quantization
    in one compare."""
    from spotify_serverless_etl_pipeline_engineering_with_azure_spark import registry

    oracle = registry.load_all()["dedup_prefix_filter_jaccard"].oracle
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{crafted_dir}/documents.parquet')"
    )
    odf = con.execute(oracle).fetchdf().sort_values(["doc_a", "doc_b"])

    ref = reference_output(crafted_dir)
    assert len(odf) == len(ref["doc_a"])
    assert np.array_equal(odf["doc_a"].to_numpy(np.int64), ref["doc_a"])
    assert np.array_equal(odf["doc_b"].to_numpy(np.int64), ref["doc_b"])
    assert np.array_equal(odf["n_common"].to_numpy(np.int64), ref["n_common"])
    assert np.array_equal(odf["n_union"].to_numpy(np.int64), ref["n_union"])
    assert np.array_equal(odf["jaccard"].to_numpy(np.float64), ref["jaccard"])
    # the crafted corpus actually exercised the hard spots
    emitted = set(zip(ref["doc_a"].tolist(), ref["doc_b"].tolist()))
    assert (200, 201) in emitted  # exact 3/5 = 0.6 boundary kept
    assert (210, 211) not in emitted  # below threshold dropped
    assert (100, 101) in emitted and (103, 104) in emitted  # full clique
    jb = ref["jaccard"][
        (ref["doc_a"] == 200) & (ref["doc_b"] == 201)
    ]
    assert jb.tolist() == [0.6]


def test_mirror_shingling_matches_duckdb_toks(crafted_dir):
    """The mirror's Python shingling must reproduce the oracle's toks
    CTE exactly: distinct 3-token shingles, split-keeps-empties, docs
    under 3 tokens excluded."""
    con = duckdb.connect()
    got = con.execute(
        f"""
  SELECT doc_id, UNNEST(LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(t) - 1),
         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS sh
  FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS t
        FROM read_parquet('{crafted_dir}/documents.parquet'))
  WHERE LEN(t) >= 3
        """
    ).fetchdf()
    want = {
        (int(r.doc_id), r.sh) for r in got.itertuples()
    }
    doc_ids, flat, offsets, m, V = load_shingles(crafted_dir)
    # rebuild (doc_id, shingle-string) pairs from the mirror's ids
    import pyarrow.parquet as _pq

    texts = dict(
        zip(
            _pq.read_table(f"{crafted_dir}/documents.parquet")
            .column("doc_id")
            .to_pylist(),
            _pq.read_table(f"{crafted_dir}/documents.parquet")
            .column("text")
            .to_pylist(),
        )
    )
    mine = set()
    for di, doc in enumerate(doc_ids):
        toks = texts[int(doc)].split(" ")
        shs = {
            " ".join((toks[i], toks[i + 1], toks[i + 2]))
            for i in range(len(toks) - 2)
        } if len(toks) >= 3 else set()
        assert m[di] == len(shs)
        for s in shs:
            mine.add((int(doc), s))
    assert mine == want
