"""Cross-engine-exact floating-point aggregation helpers.

Problem: SUM over doubles is order-dependent; Spark's partition-parallel
sums and DuckDB's sequential sums differ in the last bits, so a value
hash over raw double aggregates is flaky and ROUND() near a half-way
boundary can diverge.

Discipline: the source doubles encode exact decimals (prices with 2dp,
discount/tax with 2dp, their products with 4/6dp). The ROW-LEVEL
expression is cast to DECIMAL at the target scale, making every row an
exact fixed-point number; the aggregate over those is then
order-independent, and the final cast to DOUBLE is one correctly-rounded
conversion on both engines.

Input contract: Spark's double→decimal cast rounds the SHORTEST
decimal representation of the double (BigDecimal.valueOf), while DuckDB
rounds the EXACT binary value — the two disagree when a scale boundary
lies between those two readings of the same double. A double encoding
an exact ≤scale-dp decimal has no such boundary, so the sums below take
only such doubles: a raw computed double (a log, a ratio, a product of
irrationals) is quantized with :func:`roundk` first, whose k/10^k
outputs are again shortest-repr-exact at any scale ≥ k.

The split accumulator: Spark's SUM over DECIMAL(p,s) carries a
p+10-digit buffer, which above 18 digits leaves the compact-long fast
path for BigDecimal arithmetic on every row update. The exact decimal
row value is instead converted to integer "units" (value·10^scale, a
long) and summed as TWO long partials (hi = units div 10^6, lo = units
mod 10^6), recombined in decimal AFTER the aggregate — per group, not
per row. Every hot-path operation is codegen'd long arithmetic, and the
result is bit-identical to the decimal SUM that the SQL twins compute.

Capacity, designed for 100 TB rather than the test SF:
- row values must fit DECIMAL(15,s) (|value| < 10^(15-s)); ANSI mode
  makes an overflowing row a loud error, never a silent wrap. Units
  therefore stay below 10^15 < 2^53, so the row-level div/mod split is
  exact in double arithmetic.
- each long partial bounds the GROUP size: |Σlo| < n·10^6 and
  |Σhi| < n·10^9. At the 10^15-unit WORST CASE the hi partial
  overflows past ~9·10^9 rows per group — which a global sum over a
  100 TB fact table (~10^11–10^12 rows) DOES reach if row magnitudes
  sit near the cap, so the honest contract is: realistic money
  magnitudes (units ≤ 10^9, i.e. values ≤ 10^7 at scale 2) are safe to
  ~10^13 rows per group; a table whose values genuinely approach
  10^(15-s) needs either a coarser pre-aggregation level or the plain
  decimal SUM for that column. ANSI makes the cliff a loud error,
  never a silent wrap.
- recombination is decimal(28,0) (< 10^28 units), then ONE exact
  decimal division by 10^scale (result scale ≥ scale+2, no rounding)
  and ONE cast to double — the same single rounding the oracle's
  CAST(SUM(DECIMAL) AS DOUBLE) performs.
"""

from __future__ import annotations

from pyspark.sql import Column, WindowSpec
from pyspark.sql import functions as F

# hi/lo split base for the long partial sums.
_LIM = 10**6
# Max supported scale: the exact-division argument below needs the
# decimal division's result scale (max(6, scale+2)) to stay ≥ scale and
# the combined precision ≤ 38.
_MAX_SCALE = 10


def _unit_sums(col: Column, scale: int) -> tuple[Column, Column]:
    """(Σhi, Σlo) long partial sums of value·10^scale.

    The decimal(15,s) cast reproduces the HALF_UP row rounding of the
    original decimal SUM and bounds |units| < 10^15 < 2^53, so the
    double division in the hi extraction is exact (quotients of
    non-multiples sit ≥ 10^-6 absolute from an integer, far beyond the
    ≤ 2^-22 correctly-rounded division error at these magnitudes);
    truncation toward zero matches `%`'s truncated-remainder sign.
    """
    if scale > _MAX_SCALE:
        raise ValueError(f"dsum/davg support scale <= {_MAX_SCALE}, got {scale}")
    units = (col.cast(f"decimal(15,{scale})") * (10**scale)).cast("long")
    hi = F.sum((units / _LIM).cast("long"))
    lo = F.sum(units % _LIM)
    return hi, lo


def dsum(col: Column, scale: int) -> Column:
    """Order-independent SUM: exact fixed-point sum, returned as double.

    Bit-identical to CAST(SUM(CAST(col AS DECIMAL(·,scale))) AS DOUBLE)
    while keeping the per-row aggregate update in codegen'd long math.
    """
    hi, lo = _unit_sums(col, scale)
    return dsum_from_parts(hi, lo, scale)


def dsum_over(col: Column, scale: int, window: WindowSpec) -> Column:
    """Windowed :func:`dsum`: every frame, ROWS or RANGE, gets the exact
    decimal sum of its rows as one correctly rounded double; a frame
    with no non-NULL row gives NULL. A window emits a value per ROW, so
    the split accumulator's decimal recombination would run per row
    too: the frame sums the row-level DECIMAL(15,s) values directly (a
    DECIMAL(25,s) sum, under the same row cap)."""
    return F.sum(col.cast(f"decimal(15,{scale})")).over(window).cast("double")


def dsum_parts(col: Column, scale: int, prefix: str) -> list[Column]:
    """The dsum split accumulator EXPOSED as two named aggregate
    columns (``<prefix>_hi``, ``<prefix>_lo``) so one keyed aggregation
    can serve BOTH a per-group exact sum and coarser re-aggregations:
    long partials are associative, so SUM of per-group hi/lo re-summed
    across groups is bit-identical to a direct global dsum — one fact
    scan instead of two when a query needs per-key values AND their
    grand total. Capacity is the module contract's: the re-summed
    group is the union, so the global bound applies to the final
    rollup exactly as it would to a direct global dsum."""
    hi, lo = _unit_sums(col, scale)
    return [hi.alias(f"{prefix}_hi"), lo.alias(f"{prefix}_lo")]


def dsum_from_parts(hi: Column, lo: Column, scale: int) -> Column:
    """Recombine (hi, lo) long partial sums into the exact double —
    the tail of dsum, usable row-level on dsum_parts columns."""
    total_units = (hi.cast("decimal(28,0)") * _LIM + lo).cast("decimal(28,0)")
    # decimal(28,0) / 10^scale: result scale = max(6, scale+2) >= scale
    # and precision = 28 + result scale <= 38 -> the quotient is exact,
    # and the trailing cast is the single double rounding.
    return (total_units / F.lit(10**scale)).cast("double")


def davg(col: Column, scale: int) -> Column:
    """Order-independent AVG: exact fixed-point sum / count, as double."""
    return (dsum(col, scale) / F.count(F.lit(1))).cast("double")


def sql_double(decimal: str) -> str:
    """SQL fragment, for DuckDB and Spark alike, of the one
    decimal→double cast: routed through STRING. DuckDB's direct
    DECIMAL→DOUBLE cast divides the scaled integer by 10^scale in float
    arithmetic (two roundings), which lands 1 ulp off the correctly
    rounded value once the value exceeds ~2^53 units, which sums over
    small datasets never reach. The string parse
    (strtod) is correctly rounded, matching Spark's
    BigDecimal.doubleValue on the identical exact decimal. STRING, not
    VARCHAR: DuckDB reads it as VARCHAR's alias, and Spark's parser
    rejects a bare VARCHAR, so texts that both engines run splice the
    same fragment."""
    return f"CAST(CAST({decimal} AS STRING) AS DOUBLE)"


def sql_dsum(expr: str, scale: int) -> str:
    """SQL twin of :func:`dsum`: the exact decimal SUM of ``expr`` at
    ``scale``, as one correctly rounded double."""
    return sql_double(f"SUM(CAST({expr} AS DECIMAL(18,{scale})))")


def sql_dsum_over(expr: str, scale: int, window: str) -> str:
    """SQL twin of :func:`dsum_over`; ``window`` is the text after
    OVER: a window name or a parenthesized specification."""
    return sql_double(f"SUM(CAST({expr} AS DECIMAL(18,{scale}))) OVER {window}")


def sql_davg(expr: str, scale: int) -> str:
    """SQL twin of :func:`davg`."""
    return f"CAST({sql_dsum(expr, scale)} / COUNT(*) AS DOUBLE)"


def roundk(col: Column, k: int) -> Column:
    """Engine-deterministic k-dp quantization: ROUND(x·10^k)/10^k, NOT
    ROUND(x, k). Rounding a raw double at k dp diverges across engines
    for values within 1 ulp of a half boundary — Spark's ROUND is
    HALF_UP on the EXACT binary expansion while DuckDB rounds in float
    arithmetic — and the class is SYSTEMATIC, not rare, for
    terminating ratios (cume_dist's k/n, or a decimal(·,6) sum divided
    by a small count). Multiplying first makes both engines round the SAME
    IEEE product double with the same half-away-from-zero tie rule —
    deterministic for every input, boundary or not. Every registered
    query's k-dp quantization of a COMPUTED double must use this form
    (paired with :func:`sql_roundk` on the oracle side); raw
    ``F.round(x, k)`` is reserved for doubles that already encode
    exact ≤k-dp decimals, where no boundary can sit between the
    engines' views of the value."""
    scale = float(10**k)
    return F.round(col * scale) / scale


def sql_roundk(expr: str, k: int) -> str:
    """SQL fragment, for DuckDB and Spark alike, bit-identical to
    :func:`roundk`."""
    scale = float(10**k)
    return f"(ROUND(({expr}) * {scale!r}) / {scale!r})"
