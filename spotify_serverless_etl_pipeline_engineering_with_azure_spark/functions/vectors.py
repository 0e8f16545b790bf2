"""Vector math over ``array<float>`` embedding columns.

All pure Catalyst higher-order functions (zip_with / aggregate) — JVM
codegen, no Python boundary crossing. Folds are explicitly
left-to-right so the doubles match the oracle's list_reduce bit-for-bit
(rounding to 6 dp is still applied as a guard where engine-internal
summation order could differ).
"""

from __future__ import annotations

import random

from pyspark.sql import Column
from pyspark.sql import functions as F

from .exact import roundk, sql_roundk

EMB_DIM = 64

# Random ±1 hyperplanes for sign-LSH bucketing, fixed seed, shared
# verbatim between the Spark plan and the DuckDB oracle.
_rng = random.Random(20240813)
N_PLANES = 8
HYPERPLANES: list[list[float]] = [
    [1.0 if _rng.random() < 0.5 else -1.0 for _ in range(EMB_DIM)] for _ in range(N_PLANES)
]


def lit_vector(vals: list[float]) -> Column:
    """Literal double array built as ONE SQL expression.

    ``F.array(*[F.lit(v) ...])`` costs one py4j round trip per element
    — ~64 driver calls per vector literal, which dominates plan-build
    time for queries embedding several centroids/hyperplanes. A single
    F.expr parses JVM-side; string→double parse is correctly rounded,
    so the literals are bit-identical to F.lit of the same float.
    """
    body = ", ".join(f"CAST('{float(v)!r}' AS DOUBLE)" for v in vals)
    return F.expr(f"array({body})")


def dot(a: Column, b: Column) -> Column:
    """Left-to-right fold of the elementwise product, in double."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine6(a: str, b: str, na: str, nb: str) -> Column:
    """6dp cosine (:func:`.exact.roundk`) of vector columns ``a`` and
    ``b`` over their precomputed norm columns ``na`` and ``nb``: the
    Spark twin of :func:`sql_cosine6`, one dot fold per pair. The
    similarity value pools grow with the corpus, so at 10¹¹-pair volume
    6dp half-boundary hits are expected, not rare — the multiply-form
    rounding keeps both engines on the same IEEE product double."""
    return roundk(dot(F.col(a), F.col(b)) / (F.col(na) * F.col(nb)), 6)


def sql_dot(a: str, b: str) -> str:
    """DuckDB fragment mirroring :func:`dot` BIT-FOR-BIT: elementwise
    double products folded left-to-right. Replaces
    LIST_COSINE_SIMILARITY in oracles — DuckDB's builtin normalizes
    with its own internal op order, so its pre-round double differs
    from Spark's fold in the last ulps, and a rounding-boundary-
    adjacent cosine then flips between engines no matter how the
    rounding itself is done."""
    return (
        f"LIST_REDUCE(LIST_PREPEND(CAST(0.0 AS DOUBLE), "
        f"LIST_TRANSFORM(LIST_ZIP(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[])), "
        f"p -> p[1] * p[2])), (acc, x) -> acc + x)"
    )


def sql_cosine6(a: str, b: str) -> str:
    """DuckDB fragment bit-identical to :func:`cosine6`: the same
    left-to-right folds, the same norm/divide sequence, the same
    multiply-then-round quantization."""
    return sql_roundk(f"({sql_dot(a, b)}) / (SQRT({sql_dot(a, a)}) * SQRT({sql_dot(b, b)}))", 6)


# Multi-table OR-construction: L tables of k bits each, sized for the
# synthetic corpus (vectors are near-orthogonal random — labels carry
# no cosine structure). More tables buy recall linearly in cost.
# SIZING CONTRACT: bits-per-table must grow ~log2(corpus/target-bucket-
# size) — a FIXED 4-bit space means 16 buckets per table holding ~n/16
# of the corpus each, so candidate scans degrade to Θ(n) (a constant 8×
# better than brute force) and the (t, bucket) join develops 16 giant
# skew groups. These constants are the deterministic test shape baked
# into the oracle; production re-derives them from corpus cardinality.
# These stay literal, on the k-means
# K=4 precedent — bits/tables are RECALL hyperparameters (they decide
# which candidates are scored, i.e. the answer; an oracle-mirrored
# √N-style derivation would silently change recall as data grows,
# which is a product decision, not a plan repair). The failure mode is
# graceful (per-probe cost degrades toward a constant-factor-better
# linear scan — the documented trade vs the brute-force baseline, not
# a job-killing exchange), the 16 skew groups are AQE-splittable, and
# the CORPUS-DERIVED ANN scale path is sim_ann_ivf, whose nlist/nprobe
# already size themselves from the data.
LSH_TABLES = 2
PLANES_PER_TABLE = 4


def _plane_lit(plane: list[float]) -> Column:
    return lit_vector(plane)


def _table_planes(t: int) -> list[list[float]]:
    return HYPERPLANES[t * PLANES_PER_TABLE : (t + 1) * PLANES_PER_TABLE]


def lsh_bucket(emb: Column, table_idx: int = 0) -> Column:
    """Sign-LSH bucket id for one hash table (PLANES_PER_TABLE bits)."""
    bucket = F.lit(0).cast("long")
    for k, plane in enumerate(_table_planes(table_idx)):
        proj = dot(emb, _plane_lit(plane))
        bucket = bucket + F.when(proj > 0, F.lit(1 << k).cast("long")).otherwise(F.lit(0).cast("long"))
    return bucket


# --- DuckDB oracle fragments (identical fold order) ----------------------

def sql_plane_literal(plane: list[float]) -> str:
    # repr round-trip (the lit_vector discipline), NOT fixed-point
    # formatting: '%.1f' silently truncates any learned/centroid plane
    # weight (0.7071 -> 0.7), flipping near-hyperplane signs between
    # engines. repr is exact for every double.
    return "[" + ", ".join(repr(float(w)) for w in plane) + "]"


def sql_lsh_bucket(emb_expr: str, table_idx: int = 0) -> str:
    parts = []
    for k, plane in enumerate(_table_planes(table_idx)):
        proj = (
            f"LIST_REDUCE(LIST_PREPEND(CAST(0.0 AS DOUBLE), "
            f"LIST_TRANSFORM(RANGE(1, {EMB_DIM + 1}), "
            f"i -> CAST({emb_expr}[i] AS DOUBLE) * ({sql_plane_literal(plane)})[i])), "
            f"(a, b) -> a + b)"
        )
        parts.append(f"(CASE WHEN {proj} > 0 THEN {1 << k} ELSE 0 END)")
    return "(" + " + ".join(parts) + ")"
