"""Seeded inputs for the benchmark: a star-schema dataset directory in
the layout ``catalog.table`` reads, corpus snapshots, and playlist raw
zones.

The star schema mirrors the column types and value distributions of the
generated test tables described in TESTDATA.md: TPC-H-like dimensions and
facts, an ``events`` table, a ``documents`` corpus with a near-duplicate
share, and unit-norm 64-d ``embeddings``. Row counts follow a scale
factor ``sf`` (lineitem = 6M x sf). Same seed, same bytes.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMB_DIM = 64

_DAY_US = 86_400_000_000


def _ts(start: str, offsets_us: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _keyed_names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The TPC-H-like tables plus ``events`` at scale ``sf``."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(15, n_ev * 3 // 200)
    i32 = pa.int32()

    out = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), i32), "r_name": list(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": _keyed_names("Customer", n_cust),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": _keyed_names("Supplier", n_supp),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
    }
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    keys = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": keys,
            "p_name": names[rng.integers(0, len(names), n_part)],
            "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
                rng.integers(0, 25, n_part)
            ],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _ts("1995-01-01", rng.integers(0, 2405, n_ord) * _DAY_US),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _ts("1995-01-02", rng.integers(0, 2499, n_line) * _DAY_US),
        }
    )
    offsets = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts("2024-01-01", offsets),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    return out


def corpus_tables(seed: int, n_docs: int, n_vecs: int) -> dict[str, pa.Table]:
    """``documents`` (5% near-duplicates: an earlier document plus one to
    three trailing ``dup`` tokens) and unit-norm ``embeddings`` with a
    weak per-label centroid."""
    rng = np.random.default_rng([seed, 2])
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" * int(rng.integers(1, 4)))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    documents = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    labels = rng.integers(0, 10, n_vecs)
    centroids = rng.normal(0.0, 1.0, (10, EMB_DIM))
    vecs = rng.normal(0.0, 1.0, (n_vecs, EMB_DIM)) + 0.6 * centroids[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return {"documents": documents, "embeddings": embeddings}


def write_tables(out_dir: str, tables: dict[str, pa.Table]) -> str:
    """One single-row-group parquet file per table, as the test data is."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), row_group_size=len(t) or 1)
    return out_dir


def sample_snapshot(
    corpus: dict[str, pa.Table], out_dir: str, seed: int, frac: float
) -> str:
    """A fresh snapshot directory holding a seeded row sample of the
    corpus tables (row order kept)."""
    rng = np.random.default_rng([seed, 3])
    sampled = {}
    for name, t in corpus.items():
        keep = np.flatnonzero(rng.random(len(t)) < frac)
        sampled[name] = t.take(pa.array(keep))
    return write_tables(out_dir, sampled)


def write_raw_zone(out_dir: str, seed: int, n_blobs: int, n_items: int) -> list[dict]:
    """A raw zone of ``n_blobs`` playlist-page blobs of ``n_items`` items
    each, named as the reference names them. Returns the documents in
    blob-name order."""
    import random

    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.operators.fixtures import (
        blob_name,
        make_playlist_doc,
    )

    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    docs = []
    for d in range(n_blobs):
        doc = make_playlist_doc(rng, d, n_items)
        with open(os.path.join(out_dir, blob_name(d)), "w", encoding="utf-8") as f:
            json.dump(doc, f)
        docs.append(doc)
    return docs
