"""Regression tests for the union-find and PageRank references in
scripts/verify_scale.py, which certify the recursive-oracle dedup
members (connected components, filtered corpus, PageRank) at scales
the DuckDB recursive CTE cannot reach. A verifier used as ground truth
must itself be pinned: (a) against a brute-force BFS reference on
hypothesis-generated random graphs, and (b) against the engine's
pointer-jumping loop on a synthetic pair frame, so all three
independent algorithms are mutually checked at test scale."""

from __future__ import annotations

import os
import sys

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
)

from verify_scale import (  # noqa: E402
    pagerank_reference,
    round6_vec,
    union_find_components,
)

from spotify_serverless_etl_pipeline_engineering_with_azure_spark.plans.dedup import (  # noqa: E402
    _CC_REROOT_EVERY,
    PR_ITERS,
    _min_label_components,
    _pagerank_on_pairs,
)


def _bfs_reference(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Textbook BFS min-label components — the third, dumbest
    implementation, for triangulating the other two."""
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    label: dict[int, int] = {}
    for start in adj:
        if start in label:
            continue
        seen = {start}
        frontier = [start]
        while frontier:
            nxt = []
            for v in frontier:
                for w in adj[v]:
                    if w not in seen:
                        seen.add(w)
                        nxt.append(w)
            frontier = nxt
        mn = min(seen)
        for v in seen:
            label[v] = mn
    return label


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 60), st.integers(0, 60)).filter(lambda p: p[0] != p[1]),
        min_size=1,
        max_size=120,
    )
)
def test_union_find_matches_bfs_on_random_graphs(edges):
    a = np.array([e[0] for e in edges], dtype=np.int64)
    b = np.array([e[1] for e in edges], dtype=np.int64)
    verts, comp = union_find_components(a, b)
    want = _bfs_reference(edges)
    assert len(verts) == len(want)
    for v, c in zip(verts.tolist(), comp.tolist()):
        assert want[v] == c


def test_union_find_matches_engine_pointer_jumping(spark):
    # A path (diameter stress for the jump), a triangle with a redundant
    # edge, a 2-cycle duplicate edge, and a far-offset pair — the same
    # shapes the verifier meets in the LSH candidate graph.
    edges = (
        [(i, i + 1) for i in range(100, 140)]
        + [(7, 9), (9, 11), (7, 11), (7, 11)]
        + [(1_000_003, 55)]
    )
    pairs = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "doc_a long, doc_b long"
    )
    got = {
        (r.v, r.label)
        for r in _min_label_components(pairs).collect()
    }
    a = np.array([e[0] for e in edges], dtype=np.int64)
    b = np.array([e[1] for e in edges], dtype=np.int64)
    verts, comp = union_find_components(a, b)
    assert got == set(zip(verts.tolist(), comp.tolist()))


def test_vec_round_half_up_matches_decimal_at_ties():
    # Exact .5 boundaries, values within an ulp of one, and plain
    # values — the vectorized fast path plus its Decimal fallback must
    # agree with BigDecimal HALF_UP on the double's exact expansion.
    ys = np.array(
        [0.5, 1.5, 2.5, 2.4999999999999996, 2.5000000000000004, 0.49999999, 7.0, 123456789.5]
    )
    import decimal

    want = [
        float(decimal.Decimal(float(y)).quantize(decimal.Decimal(1), decimal.ROUND_HALF_UP))
        for y in ys
    ]
    assert round6_vec(ys).tolist() == want


def test_pagerank_reference_matches_engine_on_irregular_graph(spark):
    # A hub-and-spokes star (irregular degrees, so ranks do NOT
    # converge to uniform), a triangle, and a long path — the mirror's
    # quantized iterations must be bit-identical to the engine's.
    # The loop has no stats re-root: it must end before the round at
    # which the CC loop needs one.
    assert PR_ITERS < _CC_REROOT_EVERY
    edges = (
        [(1, k) for k in range(2, 12)]
        + [(20, 21), (21, 22), (20, 22)]
        + [(i, i + 1) for i in range(30, 45)]
    )
    pairs = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "doc_a long, doc_b long"
    )
    got = {(r.doc_id, r.pagerank) for r in _pagerank_on_pairs(pairs).collect()}
    a = np.array([e[0] for e in edges], dtype=np.int64)
    b = np.array([e[1] for e in edges], dtype=np.int64)
    verts, _ = union_find_components(a, b)
    ranks = pagerank_reference(verts, a, b)
    assert got == set(zip(verts.tolist(), ranks.tolist()))
    # irregularity sanity: the hub outranks a spoke
    by_id = dict(zip(verts.tolist(), ranks.tolist()))
    assert by_id[1] > by_id[2]
