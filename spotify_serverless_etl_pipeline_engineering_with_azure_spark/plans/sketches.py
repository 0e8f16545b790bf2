"""Deterministic sketch operators with exact cross-engine oracles.

``agg_approx_sketches`` (plans/advanced_ops.py) exercises Spark's
built-in HLL++/KLL sketches, which are engine-specific — their raw
outputs cannot be hash-compared, so that query self-validates them
against exact same-pass aggregates and exposes oracle-checkable
error-bound booleans. The operators here rebuild the two classic sketches
from deterministic md5-derived hashes (functions/hashing.py) so the
IDENTICAL construction runs in the DuckDB oracle and the driver gets a
full hash-match row — the sketch math itself becomes verifiable, not
just its row count.

Scale posture (100 TB):
- HyperLogLog: per (group, register) partial MAX then a per-group SUM —
  two map-side-combining aggregations; what crosses the shuffle is one
  row per (group, register) with a tiny long, never the raw keys. This
  is exactly why sketches exist at scale: COUNT(DISTINCT) shuffles
  every distinct key, HLL shuffles ≤ m=256 longs per group.
- Count-min: the whole sketch is d×w = 4×512 cells regardless of input
  size; cells are a groupBy with map-side combine, probes broadcast.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import scatter, share, table
from ..functions.exact import roundk, sql_roundk
from ..functions.hashing import md5_int48, sql_md5_int48
from ..registry import register

# --- HyperLogLog parameters ------------------------------------------------
HLL_P = 8
HLL_M = 1 << HLL_P  # 256 registers
# The 48-bit hash splits into p register bits + 40 rank bits.
HLL_RANK_BITS = 48 - HLL_P
# alpha_256 * m^2 * 2^(rank_bits+1), computed once and inlined as the
# SAME double literal on both sides so E_raw = NUMER / S_scaled is a
# single division of identical doubles (S_scaled < 2^50 is exact as a
# double).
HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)
HLL_NUMER = HLL_ALPHA * HLL_M * HLL_M * float(1 << (HLL_RANK_BITS + 1))
HLL_SMALL_RANGE = 2.5 * HLL_M


def _hll_registers(df: DataFrame, grp: str, key: str) -> DataFrame:
    """One HLL sketch of ``key`` per value of ``grp``: (grp, reg, mx),
    the max rank per register.

    The 48-bit md5 hash splits into HLL_P register bits and
    HLL_RANK_BITS rank bits; rank = leading zeros of the rank bits + 1.
    Duplicates are free (MAX over identical hashes)."""
    hashed = df.select(
        F.col(grp).alias("grp"),
        md5_int48(F.col(key).cast("string")).alias("h"),
    )
    split = hashed.select(
        "grp",
        (F.col("h") % HLL_M).alias("reg"),
        F.shiftright("h", HLL_P).alias("w"),
    )
    rank = F.when(F.col("w") == 0, F.lit(HLL_RANK_BITS + 1)).otherwise(
        F.lit(HLL_RANK_BITS + 1) - F.length(F.bin("w"))
    )
    return split.groupBy("grp", "reg").agg(F.max(rank).alias("mx"))


def _hll_estimate(regs: DataFrame, *keys: str) -> tuple[DataFrame, Column]:
    """Fold (keys…, reg, mx) registers into one sketch per ``keys``
    value: the frame (keys…, s_scaled, empty_registers) and the 6dp
    distinct-count estimate as a Column over it.

    The harmonic mean is EXACT integer arithmetic: each register adds
    2^(HLL_RANK_BITS+1-rank) to a scaled sum (< 2^50, exact in int64
    and as a double), so the only floating-point steps are one
    division by the inlined HLL_NUMER and the small-range LN
    correction, both rounded 6dp like the oracle's."""
    # shiftleft with a COLUMN shift count needs the SQL form — the
    # pyspark wrapper only accepts a literal int numBits.
    term = F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_RANK_BITS + 1} - mx)")
    folded = regs.groupBy(*keys).agg(
        (
            F.sum(term)
            + (HLL_M - F.count(F.lit(1)))
            * F.lit(1 << (HLL_RANK_BITS + 1)).cast("long")
        ).alias("s_scaled"),
        (HLL_M - F.count(F.lit(1))).alias("empty_registers"),
    )
    e_raw = F.lit(HLL_NUMER) / F.col("s_scaled").cast("double")
    # roundk: the estimate is a raw computed double (division / LN) —
    # the divergent cross-engine ROUND class (functions/exact.roundk).
    estimate = roundk(
        F.when(
            (e_raw <= F.lit(HLL_SMALL_RANGE)) & (F.col("empty_registers") > 0),
            F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / F.col("empty_registers")),
        ).otherwise(e_raw),
        6,
    )
    return folded, estimate


def _sql_hll_registers(source: str, grp: str, key: str) -> str:
    """DuckDB twin of _hll_registers: CTEs hashed, split and regs
    (grp, reg, mx) over table ``source``."""
    h = sql_md5_int48(f"CAST({key} AS VARCHAR)")
    # rank = leading zeros in the 40 rank bits + 1 = 41 - bit_length(w);
    # BIN() gives the minimal binary string on both engines, so
    # LENGTH(BIN(w)) is bit_length(w) for w > 0.
    rank = f"CASE WHEN w = 0 THEN {HLL_RANK_BITS + 1} ELSE {HLL_RANK_BITS + 1} - LENGTH(BIN(w)) END"
    return f"""hashed AS (
  SELECT {grp} AS grp, {h} AS h FROM {source}
),
split AS (
  SELECT grp, h % {HLL_M} AS reg, h // {HLL_M} AS w FROM hashed
),
regs AS (
  SELECT grp, reg, MAX({rank}) AS mx FROM split GROUP BY grp, reg
)"""


def _sql_hll_fold(regs: str, *keys: str) -> str:
    """DuckDB twin of _hll_estimate's fold: CTEs folded and est
    (keys…, empty_registers, e_raw) over register CTE ``regs``;
    _SQL_HLL_ESTIMATE is the rounded estimate over est."""
    by = "".join(f"{k}, " for k in keys)
    group = f" GROUP BY {', '.join(keys)}" if keys else ""
    return f"""folded AS (
  SELECT {by}SUM(CAST(1 AS BIGINT) << ({HLL_RANK_BITS + 1} - mx))
           + ({HLL_M} - COUNT(*)) * (CAST(1 AS BIGINT) << {HLL_RANK_BITS + 1})
           AS s_scaled,
         {HLL_M} - COUNT(*) AS empty_registers
  FROM {regs}{group}
),
est AS (
  SELECT {by}empty_registers,
         {HLL_NUMER!r} / CAST(s_scaled AS DOUBLE) AS e_raw
  FROM folded
)"""


_SQL_HLL_ESTIMATE = sql_roundk(
    f"""CASE WHEN e_raw <= {HLL_SMALL_RANGE!r} AND empty_registers > 0
                  THEN {float(HLL_M)!r} * LN({float(HLL_M)!r} / empty_registers)
                  ELSE e_raw END""",
    6,
)


@register(
    "sketch_hll_distinct",
    oracle=f"""
WITH {_sql_hll_registers("orders", "o_orderpriority", "o_custkey")},
{_sql_hll_fold("regs", "grp")},
truth AS (
  SELECT o_orderpriority AS grp, COUNT(DISTINCT o_custkey) AS exact_distinct
  FROM orders GROUP BY grp
)
SELECT est.grp AS o_orderpriority,
       {_SQL_HLL_ESTIMATE} AS hll_estimate,
       empty_registers,
       exact_distinct
FROM est JOIN truth ON est.grp = truth.grp
""",
    tags=("sketch", "hll", "agg"),
)
def sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog distinct-count (p=8, md5-derived hash)
    of customers next to the exact count, per order priority."""
    orders = table(spark, sf_dir, "orders")
    folded, estimate = _hll_estimate(
        _hll_registers(orders, "o_orderpriority", "o_custkey"), "grp"
    )
    truth = orders.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.count_distinct("o_custkey").alias("exact_distinct")
    )
    return (
        folded.join(truth, "grp")
        .select(
            F.col("grp").alias("o_orderpriority"),
            estimate.alias("hll_estimate"),
            "empty_registers",
            "exact_distinct",
        )
    )


# --- Count-min sketch parameters -------------------------------------------
# SIZING CONTRACT (the constants are oracle-baked; the RULE is the
# contract): count-min overestimates by ε·N with ε ≈ e/width and
# confidence 1−δ at depth ≈ ln(1/δ), where N is TOTAL stream mass —
# width must therefore track the heavy-hitter threshold, not stay
# fixed. To resolve φ-heavy-hitters (count ≥ φ·N) pick
# width ≈ e/(φ·headroom): at the 100 TB posture (~10¹³ tokens) the
# demo's 4×512 absorbs ~2×10¹⁰ of collision mass per cell, drowning
# every real count while the estimate≥truth invariant and oracle
# parity both still hold — resolving φ = 10⁻⁶ hitters there needs
# width ~ 10⁷ (a few hundred MB of longs, still one aggregation row
# per (row_i, pos) and far below any table scan). Depth stays small
# (4–7): it only sharpens confidence, not resolution.
CMS_DEPTH = 4
CMS_WIDTH = 512
CMS_TOP_K = 30


def _cms_oracle() -> str:
    def pos(i: int) -> str:
        hashed = sql_md5_int48(f"'cms{i}|' || term")
        return f"{hashed} % {CMS_WIDTH}"

    cell_rows = "\n  UNION ALL ".join(
        f"SELECT {i} AS row_i, {pos(i)} AS pos, cnt FROM counts" for i in range(CMS_DEPTH)
    )
    probe_rows = "\n  UNION ALL ".join(
        f"SELECT term, true_count, {i} AS row_i, {pos(i)} AS pos FROM top_terms"
        for i in range(CMS_DEPTH)
    )
    return f"""
WITH tok AS (
  SELECT UNNEST(STRING_SPLIT(text, ' ')) AS term FROM documents
),
counts AS (SELECT term, COUNT(*) AS cnt FROM tok GROUP BY term),
cells_in AS (
  {cell_rows}
),
cells AS (SELECT row_i, pos, SUM(cnt) AS cell FROM cells_in GROUP BY row_i, pos),
top_terms AS (
  SELECT term, cnt AS true_count FROM counts
  ORDER BY cnt DESC, term LIMIT {CMS_TOP_K}
),
probes AS (
  {probe_rows}
)
SELECT p.term, CAST(p.true_count AS BIGINT) AS true_count,
       CAST(MIN(c.cell) AS BIGINT) AS cms_estimate
FROM probes p JOIN cells c ON p.row_i = c.row_i AND p.pos = c.pos
GROUP BY p.term, p.true_count
"""


@register(
    "sketch_countmin_heavy_hitters",
    oracle=_cms_oracle(),
    tags=("sketch", "countmin", "agg"),
)
def sketch_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the token stream: build a 4×512 cell table,
    then probe it for the true top-30 tokens — estimate ≥ truth always,
    equality when no bucket collisions.

    The sketch is fixed-size regardless of corpus size: tokens fold
    into ≤ 2048 (row, pos) cells via one map-side-combining groupBy,
    probes are a broadcast join. All arithmetic is integer counts with
    md5-derived positions, so the DuckDB oracle rebuilds the identical
    sketch. (The true counts the probes are checked against require the
    exact groupBy — the operator exists so that, at 100 TB, frequency
    QUERIES don't.)
    """
    docs = table(spark, sf_dir, "documents")
    tok = scatter(docs).select(F.explode(F.split("text", " ")).alias("term"))
    # shared by the cells, the top-k and the probe expansion
    counts = share(tok.groupBy("term").agg(F.count(F.lit(1)).alias("cnt")))

    def pos(i: int) -> F.Column:
        return md5_int48(F.concat(F.lit(f"cms{i}|"), F.col("term"))) % CMS_WIDTH

    rows = F.explode(
        F.array(
            *[
                F.struct(F.lit(i).alias("row_i"), pos(i).alias("pos"))
                for i in range(CMS_DEPTH)
            ]
        )
    ).alias("rp")
    cells = (
        counts.select(rows, "cnt")
        .groupBy("rp.row_i", "rp.pos")
        .agg(F.sum("cnt").alias("cell"))
    )
    top_terms = counts.orderBy(F.desc("cnt"), F.asc("term")).limit(CMS_TOP_K).select(
        "term", F.col("cnt").alias("true_count")
    )
    probes = top_terms.select("term", "true_count", rows).select(
        "term", "true_count", F.col("rp.row_i").alias("row_i"), F.col("rp.pos").alias("pos")
    )
    return (
        probes.join(F.broadcast(cells), ["row_i", "pos"])
        .groupBy("term", "true_count")
        .agg(F.min("cell").alias("cms_estimate"))
    )


@register(
    "sketch_hll_merge",
    oracle=f"""
WITH {_sql_hll_registers("events", "event_type", "user_id")},
merged AS (
  SELECT reg, MAX(mx) AS mx FROM regs GROUP BY reg
),
{_sql_hll_fold("merged")}
SELECT (SELECT CAST(COUNT(DISTINCT grp) AS BIGINT) FROM regs) AS n_sketches,
       {_SQL_HLL_ESTIMATE} AS hll_estimate,
       empty_registers,
       (SELECT COUNT(DISTINCT user_id) FROM events) AS exact_distinct
FROM est
""",
    tags=("sketch", "hll", "merge"),
)
def sketch_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch MERGEABILITY: per-event-type HLL sketches of user_id,
    merged into one global sketch by register-wise MAX, estimating the
    distinct users across ALL types.

    Mergeability is the property that makes sketches the scale answer:
    at 100 TB each partition/source/day builds its 256-register sketch
    independently and a 256-row (or 256·K-row) merge replaces a global
    COUNT(DISTINCT) shuffle of raw keys. The merge here really passes
    through the per-group sketches (regs → register-wise MAX), so the
    estimate is provably the one a distributed merge would produce —
    and it EQUALS the single-sketch estimate of the union, which the
    exact_distinct column lets the driver confirm (same formula,
    rounded 6dp, identical in both engines).
    """
    ev = table(spark, sf_dir, "events")
    # shared by the sketch count and the merge
    regs = share(_hll_registers(ev, "event_type", "user_id"))
    n_sketches = regs.agg(F.count_distinct("grp").alias("n_sketches"))
    merged = regs.groupBy("reg").agg(F.max("mx").alias("mx"))
    folded, estimate = _hll_estimate(merged)
    truth = ev.agg(F.count_distinct("user_id").alias("exact_distinct"))
    return (
        folded.crossJoin(F.broadcast(n_sketches))
        .crossJoin(F.broadcast(truth))
        .select(
            "n_sketches",
            estimate.alias("hll_estimate"),
            "empty_registers",
            "exact_distinct",
        )
    )
