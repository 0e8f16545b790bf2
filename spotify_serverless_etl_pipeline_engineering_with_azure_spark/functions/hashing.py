"""Deterministic cross-engine hashing primitives.

All dedup/similarity operators need token→integer hashes that are
IDENTICAL in Spark and in the DuckDB oracle. Engine-native hash
functions (xxhash64 vs duckdb hash) differ, so we build hashes from
md5 hex digests — byte-identical in every engine — and fold hex chars
to integers with exact 64-bit-safe arithmetic.

Scale note: md5 + conv are JVM codegen'd expressions; at 100 TB this is
a map-side transform with no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 48-bit hash (12 hex chars): positive, fits int64 with headroom for
# the arithmetic below.
HEX_CHARS = 12
MERSENNE31 = 2147483647  # 2^31 - 1, prime
PRIME48 = 281474976710597  # largest prime < 2^48

# Fixed MinHash parameters (a_j, b_j) for the two-surrogate affine
# family  h_j(x1, x2) = ((a_j * x1) % PRIME48 + x2 + b_j) % PRIME48
# over TWO independent 48-bit md5 slices per shingle — generated once
# with a fixed seed and inlined in BOTH the Spark plan and the DuckDB
# oracle so the signatures agree exactly.
#
# Why two surrogates: a single reduced surrogate shared by every hash
# makes surrogate collisions PERMUTATION-INVARIANT — two distinct
# shingles that collide agree in every minhash, every band, forever.
# At 10^11 docs (~10^12 distinct shingles) a 31-bit surrogate space
# carries ~500 shingles per value (systematic false candidate edges →
# wrongful deletions downstream, with the oracle agreeing because it
# shares the reduction); even one 48-bit slice alone leaves ~10^9
# invariantly-colliding shingle pairs. The joint (x1, x2) identity is
# 96 md5 bits: ~10^-5 expected invariant collisions at 10^12 shingles.
# Per-hash chance collisions (rate 2^-48, different pairs per j) stay
# birthday-random, and the 48-bit minhash VALUES make the band-
# signature discretization term negligible: P(two unrelated docs'
# min values coincide) ≈ n_shingles/2^49 per hash (~2e-12 at n=10^3)
# vs ~2.4e-7 with 31-bit values — which over C(10^11, 2) pairs × 8
# bands was ~10^9 spurious candidate pairs, now ~10^-1.
#
# int64 safety: a_j ≤ 32767 = 2^15-1, x1 < 2^48 → a_j*x1 < 2^63-2^48;
# after % PRIME48 the sum (+ x2 + b_j) < 3·2^48 < 2^50.
MINHASH_PARAMS: list[tuple[int, int]] = [
    (23973, 217584504203263), (19741, 207023964157964),
    (1111, 237212596396644), (16608, 243111466226011),
    (21005, 16529498679240), (26220, 121829257659197),
    (22815, 33210907931424), (3418, 263234913572763),
    (8456, 11068107427616), (6570, 191839584699645),
    (29395, 64531952123607), (5755, 194882586649756),
    (21346, 141347323227251), (7050, 278680929099239),
    (12631, 144923401520441), (20064, 14293421624689),
]
# 16 hashes → 8 bands × 2 rows (r=2 keeps band-collision probability
# j^2, high enough to surface candidates on low-similarity corpora).
# (b, r) are SEMANTIC, not fan-out —
# they define the LSH S-curve's match threshold t ≈ (1/b)^(1/r) ≈
# 0.35, i.e. WHICH similarity level counts as a candidate pair, the
# same class as k-means K=4. Deriving them from corpus size would
# silently move the dedup threshold as data grows. The scale hazards
# of banding live elsewhere and are handled there: bucket width is
# capped + star-chained (plans/dedup.MINHASH_BUCKET_CAP), and the
# posting-table join's fan-out is the (band, sig) key space, which
# grows with the data, not a constant.
MINHASH_ROWS_PER_BAND = 2
MINHASH_N_BANDS = len(MINHASH_PARAMS) // MINHASH_ROWS_PER_BAND


def md5_int48(col: Column) -> Column:
    """First 12 hex chars of md5 as a positive 48-bit long."""
    return F.conv(F.substring(F.md5(col), 1, HEX_CHARS), 16, 10).cast("long")


def hex_int48(col: Column, start: int = 1) -> Column:
    """12 hex chars of an ALREADY-COMPUTED hex digest column as a
    positive 48-bit long, starting at 1-based ``start``. Used to derive
    multiple independent 48-bit slices from one md5 evaluation."""
    return F.conv(F.substring(col, start, HEX_CHARS), 16, 10).cast("long")


def sql_hex_int48(hex_expr: str, start: int = 1) -> str:
    """DuckDB fragment folding 12 hex chars of an already-computed hex
    digest expression to the identical 48-bit long (acc*16 + digit),
    starting at 1-based ``start``."""
    digit = (
        f"(STRPOS('0123456789abcdef', SUBSTR({hex_expr}, CAST(i AS INTEGER), 1)) - 1)"
    )
    return (
        f"LIST_REDUCE(LIST_PREPEND(CAST(0 AS BIGINT), "
        f"LIST_TRANSFORM(RANGE({start}, {start + HEX_CHARS}), i -> CAST({digit} AS BIGINT))), "
        f"(a, b) -> a * 16 + b)"
    )


def sql_md5_int48(expr: str) -> str:
    """DuckDB fragment computing the identical 48-bit hash.

    Folds the 12 hex chars left-to-right: acc*16 + digit.
    """
    return sql_hex_int48(f"MD5({expr})")
