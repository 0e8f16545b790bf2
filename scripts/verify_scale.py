#!/usr/bin/env python
"""Scale verifier: certify registered queries at scale factors where
their DuckDB oracles cannot keep up, against independent
full-population references.

Usage:
    python scripts/verify_scale.py SF_DIR [--only name1,name2] [--journal DIR]

Every name in REFERENCES is compared with its reference below; any
other name goes through check_parity's oracle compare. The default
name list is HEAVY (the heaviest member of each family) plus every
REFERENCES name. All compares are tests/oracle_mirror.compare over the
full result: exact row multiset, bit-identical floats, no sampling.

The references share their inputs, each computed once per run (Run's
cached properties): the registered MinHash-LSH oracle's pair set
(extracted from DuckDB; every graph reference first requires the
engine's pairs to match it), the union-find components over it, the
numpy vector store and the SemDeDup cell mirror. The numpy
mirrors reproduce the engines' arithmetic exactly: every dot product
is a left-to-right float64 fold over dimensions (vectorized across
rows, sequential across dims), and every 6dp rounding is round6_vec.

The layered references (corpus_end_to_end_accounting,
advanced_misc_suite) run the registered oracle SQL verbatim except for
its intractable embedded member oracles, each swapped for that
member's reference table; the member must have passed earlier in the
same run (it is run first if it has not).

The session comes from session.get_spark, so SPARK_GRAFT_CPUS and the
other session settings apply. --journal DIR appends records to
DIR/verify_scale.jsonl in check_parity's schema and resumes the same
way. Exit code 0 = every name passes."""

from __future__ import annotations

import argparse
import decimal
import functools
import os
import sys
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))

from check_parity import oracle_check, oracle_conn, parse_only, sweep, verdict  # noqa: E402

from spotify_serverless_etl_pipeline_engineering_with_azure_spark.functions.vectors import (  # noqa: E402
    LSH_TABLES,
    _table_planes,
)
from spotify_serverless_etl_pipeline_engineering_with_azure_spark.plans.advanced_ops import (  # noqa: E402
    _PROBE_MOD,
    _TOPK,
    _ivf_k,
    _ivf_nprobe,
)
from spotify_serverless_etl_pipeline_engineering_with_azure_spark.plans.dedup import (  # noqa: E402
    EMB_COSINE_TAU,
    PF_JACCARD_T,
    PR_DAMPING,
    PR_ITERS,
    SEMDEDUP_TAU,
    _semdedup_k,
)
from spotify_serverless_etl_pipeline_engineering_with_azure_spark.plans.similarity import (  # noqa: E402
    LSH_PROBE_LIMIT,
    LSH_TOPK,
)

# The heaviest member of each family: the dedup/similarity chain,
# full-corpus text ops, fact-table TPC-H heads and the event family.
HEAVY = [
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "q9_product_profit",
    "q18_large_volume_customers",
    "json_extract_events",
    "events_sessionization",
    "events_multires_rollup",
    "window_running_lag",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine",
    "dedup_semdedup",
    "dedup_connected_components",
    "dedup_filtered_corpus",
    "graph_pagerank_neardup",
    "sim_cosine_topk_bruteforce",
    "sim_ann_lsh_bucketed",
    "sim_ann_ivf",
    "cluster_kmeans_embeddings",
    "embedding_centroids",
    "text_fingerprint",
    "text_quality_score",
    "text_tfidf_top_terms",
    "corpus_quality_filter",
    "corpus_decontaminate",
    "corpus_pack_sequences",
]


# ---------------------------------------------------------------------------
# Exact arithmetic shared by every mirror
# ---------------------------------------------------------------------------
def round6_vec(y: np.ndarray) -> np.ndarray:
    """HALF_UP (away from zero) at scale 0, elementwise — Spark's ROUND,
    BigDecimal HALF_UP on the double's exact binary expansion.
    floor(|y| + 0.5) is exact unless the addition can cross an integer
    boundary, which cannot happen for |y| <= ~1e9 more than 1e-6 from a
    tie; entries nearer a tie use decimal.Decimal on the exact
    expansion, so a boundary value never double-rounds."""
    a = np.abs(y)
    out = np.floor(a + 0.5)
    for i in np.flatnonzero(np.abs(a - np.floor(a) - 0.5) < 1e-6):
        out[i] = float(
            decimal.Decimal(float(a[i])).quantize(decimal.Decimal(1), decimal.ROUND_HALF_UP)
        )
    return np.copysign(out, y)


def seq_fold_rows(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Per-row dot product as the engines' left-to-right fold: one IEEE
    add per dimension, in dimension order, for every row at once."""
    acc = np.zeros(A.shape[0], dtype=np.float64)
    for d in range(A.shape[1]):
        acc = acc + A[:, d] * B[:, d]
    return acc


# ---------------------------------------------------------------------------
# Near-duplicate graph: union-find components and quantized PageRank
# ---------------------------------------------------------------------------
def union_find_components(doc_a: np.ndarray, doc_b: np.ndarray):
    """Exact connected components of an undirected edge list:
    (verts ascending, comp) with comp[i] the minimum doc_id of verts[i]'s
    component. Union attaches the larger root index to the smaller, so
    every final root is its component's minimum."""
    verts, idx = np.unique(np.concatenate([doc_a, doc_b]), return_inverse=True)
    n = len(verts)
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for a, b in zip(idx[: len(doc_a)].tolist(), idx[len(doc_a) :].tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    roots = np.fromiter((find(i) for i in range(n)), dtype=np.int64, count=n)
    return verts, verts[roots]


def pagerank_reference(verts: np.ndarray, doc_a: np.ndarray, doc_b: np.ndarray) -> np.ndarray:
    """graph_pagerank_neardup over every vertex: PR_ITERS damped
    iterations on the undirected graph, ranks HALF_UP at 6dp, per-edge
    contributions HALF_UP at 9dp as integer nanounits whose sums are
    exact in float64 (every partial is an integer < 2^53). The IEEE op
    order mirrors the engine: (r / deg) * 1e9, base + damping * contrib."""
    src = np.searchsorted(verts, np.concatenate([doc_a, doc_b]))
    dst = np.searchsorted(verts, np.concatenate([doc_b, doc_a]))
    directed = np.unique(np.stack([src, dst], axis=1), axis=0)
    src, dst = directed[:, 0], directed[:, 1]
    n = len(verts)
    deg = np.bincount(src, minlength=n).astype(np.float64)
    r = np.full(n, round6_vec(np.array([1.0 / n * 1e6]))[0] / 1e6)
    base = (1.0 - PR_DAMPING) / float(n)
    for _ in range(PR_ITERS):
        c_nano = round6_vec(r[src] / deg[src] * 1e9)
        contrib = np.bincount(dst, weights=c_nano, minlength=n) / 1e9
        r = round6_vec((base + PR_DAMPING * contrib) * 1e6) / 1e6
    return r


# ---------------------------------------------------------------------------
# Embedding family: SemDeDup cells, in-cell pair cosines, ANN search
# ---------------------------------------------------------------------------
def load_store(sf_dir: str):
    """(vec_ids ascending, E float64 N×dim, norms) with the engines'
    norm fold."""
    t = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    vec_ids = t.column("vec_id").to_numpy(zero_copy_only=False).astype(np.int64)
    emb = t.column("embedding").combine_chunks()
    # flatten() honors the array offset, where .values would misalign
    vals = emb.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
    E = vals.reshape(len(vec_ids), len(emb[0]))
    order = np.argsort(vec_ids, kind="stable")
    vec_ids, E = vec_ids[order], E[order]
    nrm = np.sqrt(seq_fold_rows(E, E))
    # a zero norm would make the quantized cosines NaN, where the
    # mirror's and the engines' NaN ordering differ
    if not (nrm > 0).all():
        raise ValueError(f"{sf_dir}/embeddings.parquet has a zero-norm vector")
    return vec_ids, E, nrm


def _cos6(A: np.ndarray, an, B: np.ndarray, bn) -> np.ndarray:
    """round6 cosine of each row of A against each row of B as an
    |A|×|B| matrix, folded over dimensions in order."""
    acc = np.zeros((len(A), len(B)), dtype=np.float64)
    for d in range(A.shape[1]):
        acc += A[:, d : d + 1] * B[:, d][None, :]
    cs = round6_vec((acc / (np.reshape(an, (-1, 1)) * np.reshape(bn, (1, -1))) * 1e6).ravel())
    return cs.reshape(len(A), len(B)) / 1e6


def assign_cells(vec_ids, E, nrm, k: int) -> np.ndarray:
    """Cell (= centroid vec_id) per vector: the max round6 cosine to the
    first-k-ids codebook, ties to the smallest cid. Column-chunked so
    the similarity block stays bounded."""
    cent = vec_ids < k
    C, cn, cids = E[cent], nrm[cent], vec_ids[cent]
    n = len(vec_ids)
    best_sim = np.full(n, -np.inf)
    best_cid = np.zeros(n, dtype=np.int64)
    blk = max(1, int(2e7) // n)
    for j0 in range(0, len(cids), blk):
        sims = _cos6(E, nrm, C[j0 : j0 + blk], cn[j0 : j0 + blk])
        # argmax takes the first max within a block; across blocks only
        # a strictly greater sim wins, so ties keep the smaller cid
        bj = np.argmax(sims, axis=1)
        bs = sims[np.arange(n), bj]
        take = bs > best_sim
        best_sim[take] = bs[take]
        best_cid[take] = cids[j0 + bj[take]]
    return best_cid


def reference_outputs(store, row_block: int = 4096) -> dict[str, pd.DataFrame]:
    """dedup_semdedup (vec_id, cluster, max_sim_lower, keep) and
    dedup_embedding_cosine (vec_a, vec_b, cos_sim) over every vector of
    a load_store result and every in-cell pair, so a pair the engine
    dropped shows up as a missing row."""
    vec_ids, E, nrm = store
    n = len(vec_ids)
    cluster = assign_cells(vec_ids, E, nrm, _semdedup_k(n))
    mx = np.full(n, -np.inf)
    pairs = []
    order = np.argsort(cluster, kind="stable")
    for mem in np.split(order, np.flatnonzero(np.diff(cluster[order])) + 1):
        # members ascend by vec_id (stable sort), so i < j is va < vb
        w = len(mem)
        cell_mx = np.full(w, -np.inf)
        for i0 in range(0, w, row_block):
            blk = mem[i0 : i0 + row_block]
            cs = _cos6(E[blk], nrm[blk], E[mem], nrm[mem])
            valid = np.arange(w)[None, :] > np.arange(i0, i0 + len(cs))[:, None]
            cell_mx = np.maximum(cell_mx, np.where(valid, cs, -np.inf).max(axis=0))
            ii, jj = np.nonzero(valid & (cs >= EMB_COSINE_TAU))
            pairs.append(
                pd.DataFrame(
                    {"vec_a": vec_ids[blk[ii]], "vec_b": vec_ids[mem[jj]], "cos_sim": cs[ii, jj]}
                )
            )
        mx[mem] = cell_mx
    mx = np.where(np.isneginf(mx), -1.0, mx)
    semdedup = pd.DataFrame(
        {"vec_id": vec_ids, "cluster": cluster, "max_sim_lower": mx, "keep": mx < SEMDEDUP_TAU}
    )
    cosine = pd.concat(pairs, ignore_index=True).sort_values(["vec_a", "vec_b"], ignore_index=True)
    return {"semdedup": semdedup, "cosine": cosine}


def _topk_rows(probe_id, cand_ids, cos, k):
    """Top-k by (cos DESC, neighbor_id ASC) with 1-based ranks — the
    ROW_NUMBER() contract of both ANN oracles."""
    order = np.lexsort((cand_ids, -cos))[:k]
    return [(int(probe_id), int(cand_ids[j]), float(cos[j]), r + 1) for r, j in enumerate(order)]


def reference_ivf(store) -> list[tuple]:
    """sim_ann_ivf rows (probe_id, neighbor_id, cos_sim, rk): nlist =
    _ivf_k(N) cells by rank-1 centroid, probes vec_id % _PROBE_MOD == 0
    search their top-_ivf_nprobe cells, top-_TOPK neighbors each."""
    vec_ids, E, nrm = store
    k = _ivf_k(len(vec_ids))
    member = assign_cells(vec_ids, E, nrm, k)
    cent = vec_ids < k
    C, cn, cids = E[cent], nrm[cent], vec_ids[cent]
    cells = {int(c): np.flatnonzero(member == c) for c in np.unique(member)}
    rows: list[tuple] = []
    for i in np.flatnonzero(vec_ids % _PROBE_MOD == 0):
        sims = _cos6(E[i : i + 1], nrm[i], C, cn)[0]
        top = cids[np.lexsort((cids, -sims))[: _ivf_nprobe(k)]]
        cand = np.concatenate([cells[int(c)] for c in top if int(c) in cells])
        cand = cand[vec_ids[cand] != vec_ids[i]]
        if len(cand):
            cos = _cos6(E[i : i + 1], nrm[i], E[cand], nrm[cand])[0]
            rows += _topk_rows(vec_ids[i], vec_ids[cand], cos, _TOPK)
    return rows


def reference_lsh(store) -> list[tuple]:
    """sim_ann_lsh_bucketed rows (probe_id, neighbor_id, cos_sim, rank):
    LSH_TABLES sign-hyperplane tables, probes vec_id < LSH_PROBE_LIMIT,
    candidates colliding in any table, top-LSH_TOPK neighbors each."""
    vec_ids, E, nrm = store
    buckets = []
    for t in range(LSH_TABLES):
        b = np.zeros(len(vec_ids), dtype=np.int64)
        for kbit, plane in enumerate(_table_planes(t)):
            proj = seq_fold_rows(E, np.broadcast_to(np.asarray(plane, dtype=np.float64), E.shape))
            b += np.where(proj > 0, 1 << kbit, 0)
        buckets.append(b)
    rows: list[tuple] = []
    for i in np.flatnonzero(vec_ids < LSH_PROBE_LIMIT):
        hit = np.logical_or.reduce([b == b[i] for b in buckets])
        hit[i] = False
        cand = np.flatnonzero(hit)
        if len(cand):
            cos = _cos6(E[i : i + 1], nrm[i], E[cand], nrm[cand])[0]
            rows += _topk_rows(vec_ids[i], vec_ids[cand], cos, LSH_TOPK)
    return rows


# ---------------------------------------------------------------------------
# Prefix-filter Jaccard (PFJ): the operator's pipeline replayed in numpy
# ---------------------------------------------------------------------------
_CHUNK_KEYS = 64_000_000  # candidate keys buffered per chunk-local unique


def load_shingles(sf_dir: str):
    """Distinct 3-token shingles per document (text.split(' ') keeps
    empty tokens, as STRING_SPLIT and F.split do; documents under 3
    tokens have none). Returns (doc_ids ascending, flat shingle ids,
    per-doc offsets, per-doc sizes m, vocabulary size), with ids
    assigned in lexicographic shingle order."""
    t = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    doc_ids = t.column("doc_id").to_numpy(zero_copy_only=False).astype(np.int64)
    texts = t.column("text").to_pylist()
    order = np.argsort(doc_ids, kind="stable")
    vocab: dict[str, int] = {}
    per_doc: list[np.ndarray] = []
    for j in order:
        toks = texts[j].split(" ")
        shs = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
        ids = (vocab.setdefault(s, len(vocab)) for s in shs)
        per_doc.append(np.fromiter(ids, np.int64, len(shs)))
    # first-seen ids -> lexicographic ranks, so id order is ORDER BY sh
    words = np.array(list(vocab))
    rank = np.empty(len(words), dtype=np.int64)
    rank[np.argsort(words, kind="stable")] = np.arange(len(words))
    m = np.fromiter(map(len, per_doc), np.int64, len(per_doc))
    flat = rank[np.concatenate(per_doc)] if len(words) else np.empty(0, np.int64)
    return doc_ids[order], flat, np.concatenate(([0], np.cumsum(m))), m, len(words)


def _candidates(flat, offsets, m, V):
    """Distinct candidate pairs as packed keys (doc index a << bits | b):
    every pair sharing a prefix shingle — prefix = the first
    m - ceil(t*m) + 1 shingles in (document frequency, shingle) order —
    that survives the half-unit-relaxed length and positional filters."""
    doc = np.repeat(np.arange(len(m), dtype=np.int64), m)
    order = np.lexsort((flat, np.bincount(flat, minlength=V)[flat], doc))
    s_flat, s_doc = flat[order], doc[order]
    pos = np.arange(len(s_flat), dtype=np.int64) - np.repeat(offsets[:-1], m) + 1
    cutoff = m - np.ceil(PF_JACCARD_T * m.astype(np.float64)).astype(np.int64) + 1
    keep = pos <= cutoff[s_doc]
    p_sh, p_doc, p_ia = s_flat[keep], s_doc[keep], pos[keep]

    bits = max(1, int(len(m) - 1).bit_length())
    if 2 * bits > 62:
        raise ValueError(f"{len(m)} documents are too many for packed pair keys")
    order = np.lexsort((p_doc, p_sh))
    g_doc, g_ia = p_doc[order], p_ia[order]
    g_ma = m[g_doc]
    bounds = np.concatenate(([0], np.flatnonzero(np.diff(p_sh[order])) + 1, [len(order)]))
    of = PF_JACCARD_T / (1.0 + PF_JACCARD_T)
    chunks: list[np.ndarray] = []
    buf: list[np.ndarray] = []
    buffered = 0
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        if hi - lo < 2:
            continue
        iu, ju = np.triu_indices(hi - lo, 1)  # docs ascend in a group: a < b
        ma, mb = g_ma[lo:hi][iu], g_ma[lo:hi][ju]
        ia, ib = g_ia[lo:hi][iu], g_ia[lo:hi][ju]
        ok = np.minimum(ma, mb) >= PF_JACCARD_T * np.maximum(ma, mb) - 0.5
        ok &= 1 + np.minimum(ma - ia, mb - ib) >= of * (ma + mb) - 0.5
        if ok.any():
            buf.append((g_doc[lo:hi][iu[ok]] << bits) + g_doc[lo:hi][ju[ok]])
            buffered += len(buf[-1])
            if buffered >= _CHUNK_KEYS:
                chunks.append(np.unique(np.concatenate(buf)))
                buf, buffered = [], 0
    chunks += [np.unique(np.concatenate(buf))] if buf else []
    return (np.unique(np.concatenate(chunks)) if chunks else np.empty(0, np.int64)), bits


def _n_common(keys, bits, flat, offsets, m, V):
    """Exact shingle intersection size per candidate: keys are sorted,
    so grouped by doc a; per group, stamp a's shingles and count each
    partner's stamped entries with one gather and add.reduceat."""
    a_idx, b_idx = keys >> bits, keys & ((1 << bits) - 1)
    nc = np.zeros(len(keys), dtype=np.int64)
    stamp = np.full(V, -1, dtype=np.int64)
    bounds = np.append(np.unique(a_idx, return_index=True)[1], len(keys))
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        a = a_idx[lo]
        stamp[flat[offsets[a] : offsets[a + 1]]] = a
        lens = m[b_idx[lo:hi]]
        seg = np.concatenate(([0], np.cumsum(lens)[:-1]))
        starts = np.repeat(offsets[b_idx[lo:hi]] - seg, lens)
        gather = np.arange(lens.sum(), dtype=np.int64) + starts
        # int cast first: add.reduceat on bool is a logical or
        nc[lo:hi] = np.add.reduceat((stamp[flat[gather]] == a).astype(np.int64), seg)
    return a_idx, b_idx, nc


def reference_output(sf_dir: str) -> pd.DataFrame:
    """dedup_prefix_filter_jaccard (doc_a, doc_b, n_common, n_union,
    jaccard): every blocked candidate adjudicated with integer set
    arithmetic, sorted by (doc_a, doc_b). A pair the engine's joins
    dropped shows up as a missing row; completeness beyond the blocked
    space is the prefix-filter theorem the engine and oracle share."""
    doc_ids, flat, offsets, m, V = load_shingles(sf_dir)
    keys, bits = _candidates(flat, offsets, m, V)
    a, b, nc = _n_common(keys, bits, flat, offsets, m, V)
    nu = m[a] + m[b] - nc
    ratio = nc.astype(np.float64) / nu.astype(np.float64)
    keep = ratio >= PF_JACCARD_T
    return pd.DataFrame(
        {
            "doc_a": doc_ids[a[keep]],
            "doc_b": doc_ids[b[keep]],
            "n_common": nc[keep],
            "n_union": nu[keep],
            "jaccard": round6_vec(ratio[keep] * 1e6) / 1e6,
        }
    )


# ---------------------------------------------------------------------------
# One run: shared inputs, memoized verdicts, the REFERENCES table
# ---------------------------------------------------------------------------
class Run:
    """Engine session, oracle connection and the inputs the references
    share, each computed at most once."""

    def __init__(self, spark, sf_dir: str):
        import __spark_entry__ as e

        self.spark, self.sf_dir = spark, sf_dir
        self.queries, self.oracle = e.queries(), e.oracle_sql()
        self.con = oracle_conn(sf_dir)
        self.done: dict[str, tuple[dict, pd.DataFrame | None]] = {}

    @functools.cached_property
    def store(self):
        return load_store(self.sf_dir)

    @functools.cached_property
    def embeddings(self) -> dict[str, pd.DataFrame]:
        return reference_outputs(self.store)

    @functools.cached_property
    def edges(self) -> tuple[np.ndarray, np.ndarray]:
        """The MinHash oracle's pair set, once the engine matched it."""
        p = self.certified("dedup_minhash_lsh")
        return p["doc_a"].to_numpy(np.int64), p["doc_b"].to_numpy(np.int64)

    @functools.cached_property
    def components(self) -> pd.DataFrame:
        verts, comp = union_find_components(*self.edges)
        return pd.DataFrame({"doc_id": verts, "component": comp})

    def verify(self, name: str) -> dict:
        """The journal record of `name`, computed once per run."""
        if name not in self.done:
            if name not in REFERENCES:
                fn, sql = self.queries[name], self.oracle.get(name)
                rec = oracle_check(self.spark, self.con, self.sf_dir, name, fn, sql)
                self.done[name] = (rec, None)
            else:
                t0 = time.time()
                want = REFERENCES[name](self)
                t1 = time.time()
                got = self.queries[name](self.spark, self.sf_dir).toPandas()
                self.done[name] = (verdict(name, got, want, time.time() - t1, t1 - t0), want)
        return self.done[name][0]

    def certified(self, name: str) -> pd.DataFrame:
        """`name`'s reference frame, once the engine has matched it."""
        rec = self.verify(name)
        if rec["status"] != "pass":
            raise RuntimeError(f"{name} is not certified in this run ({rec['status']})")
        return self.done[name][1]


def _filtered_counts(run: Run) -> pd.DataFrame:
    cc = run.components
    n_total = pq.ParquetFile(f"{run.sf_dir}/documents.parquet").metadata.num_rows
    n_dropped = int((cc["doc_id"] != cc["component"]).sum())
    return pd.DataFrame(
        {"n_total": [n_total], "n_dropped": [n_dropped], "n_kept": [n_total - n_dropped]}
    )


def _pagerank(run: Run) -> pd.DataFrame:
    verts = run.components["doc_id"].to_numpy()
    return pd.DataFrame({"doc_id": verts, "pagerank": pagerank_reference(verts, *run.edges)})


def _layered(name: str, members: tuple[str, ...]):
    """Reference: `name`'s registered oracle with each member's embedded
    oracle swapped for a read of the member's certified frame."""

    def reference(run: Run) -> pd.DataFrame:
        sql = run.oracle[name]
        for member in members:
            if run.oracle[member] not in sql:
                raise ValueError(f"{name}'s oracle no longer embeds {member}'s verbatim")
            run.con.register(f"certified_{member}", run.certified(member))
            sql = sql.replace(run.oracle[member], f"SELECT * FROM certified_{member}")
        return run.con.execute(sql).fetchdf()

    return reference


_ANN = ("probe_id", "neighbor_id", "cos_sim")
REFERENCES = {
    "dedup_minhash_lsh": lambda run: run.con.execute(run.oracle["dedup_minhash_lsh"]).fetchdf(),
    "dedup_connected_components": lambda run: run.components,
    "dedup_filtered_corpus": _filtered_counts,
    "graph_pagerank_neardup": _pagerank,
    "dedup_prefix_filter_jaccard": lambda run: reference_output(run.sf_dir),
    "dedup_embedding_cosine": lambda run: run.embeddings["cosine"],
    "dedup_semdedup": lambda run: run.embeddings["semdedup"],
    "sim_ann_ivf": lambda run: pd.DataFrame(reference_ivf(run.store), columns=[*_ANN, "rk"]),
    "sim_ann_lsh_bucketed": lambda run: pd.DataFrame(
        reference_lsh(run.store), columns=[*_ANN, "rank"]
    ),
    "corpus_end_to_end_accounting": _layered(
        "corpus_end_to_end_accounting", ("dedup_connected_components",)
    ),
    "advanced_misc_suite": _layered(
        "advanced_misc_suite",
        ("dedup_prefix_filter_jaccard", "graph_pagerank_neardup", "dedup_connected_components"),
    ),
}


def main() -> int:
    ap = argparse.ArgumentParser(description="Certify registered queries at scale.")
    ap.add_argument("sf_dir")
    ap.add_argument("--only", default="", help="comma list of names (default: HEAVY + REFERENCES)")
    ap.add_argument("--journal", help="DIR for verify_scale.jsonl; resume skips green names")
    args = ap.parse_args()

    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.session import get_spark

    spark = get_spark("verify_scale", extra={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    run = Run(spark, args.sf_dir)
    only = parse_only(ap, args.only, run.queries)
    default = HEAVY + [n for n in REFERENCES if n not in HEAVY]
    names = sorted(only, key=list(run.queries).index) if only else default
    journal = args.journal and os.path.join(args.journal, "verify_scale.jsonl")
    t0 = time.time()
    fails = sweep(names, run.verify, journal, spark.sparkContext.defaultParallelism)
    print(f"\n{len(names)} queries, {fails} failures, {time.time() - t0:.0f}s at {args.sf_dir}")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
