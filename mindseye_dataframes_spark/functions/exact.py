"""Exact (order-independent) aggregation helpers.

Floating-point SUM/AVG results depend on accumulation order, which
differs run-to-run under parallel execution and engine-to-engine
(Spark vs the DuckDB oracle). For hash-checked results we accumulate
in exact decimal arithmetic and only convert to double at the end:
the double→decimal rounding of each input is deterministic (a double
can be an exact tie at the target scale, 0.125 at 2 decimals or
0.03125 at 4, and both engines round a tie away from zero), decimal
sums are exact, and decimal→double conversion is correctly rounded in
both engines — so the final double is bit-identical regardless of
partitioning or engine.

This is also the right call at 100 TB: results stay stable across
AQE re-plans, speculative re-execution, and partition-count changes.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# scale=4 keeps 4 fractional digits of the synthetic measures (money
# columns have ~2, quantities/discounts ~2-4); precision 18 leaves
# 14 integer digits per input value. Sums widen to precision 38.
PRECISION = 18
SCALE = 4


def dec(col: Column | str, scale: int = SCALE, precision: int = PRECISION) -> Column:
    """Cast to exact decimal for order-independent accumulation.

    Pick the narrowest precision that fits the data: Spark widens
    products by p1+p2+1, so narrow inputs keep a 3-factor product
    under the decimal(38) ceiling (beyond it Spark rounds — which
    would break engine-exactness).
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({precision},{scale})")


def dsum(col: Column | str, scale: int = SCALE) -> Column:
    """Order-independent SUM: exact decimal accumulate → double."""
    return F.sum(dec(col, scale)).cast("double")


# Two engine-exactness traps, learned the hard way (verified against
# DuckDB 1.0 at sf0.01):
#
# 1. decimal→double is only single-rounded while the decimal's
#    UNSCALED value stays below 2^53. Beyond that, DuckDB converts
#    hugeint→double then divides by 10^scale (two roundings) while
#    Java BigDecimal rounds once — off-by-1-ulp mismatches. So pick
#    product scales such that sums keep unscaled < 2^53.
# 2. NEVER rescale a decimal (CAST to lower scale) on the comparison
#    path: decimal values are exact ties at the target scale far more
#    often than doubles (any 0.xx5), and Spark (HALF_UP) and DuckDB
#    disagree there.
#
# Rule of thumb for this dataset (measures are exactly 2-decimal):
# factors at scale 2 → products at scale ≤6 → sums stay exact and
# well under 2^53 through sf0.1.


def davg(col: Column | str, scale: int = SCALE) -> Column:
    """Order-independent AVG: exact decimal sum / exact count, divided
    as doubles (one correctly-rounded op → engine-independent)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(dec(c, scale)).cast("double") / F.count(c).cast("double")


# ---------------------------------------------------------------------------
# Integer-cents accumulation: the fast path for 2-decimal measures.
#
# Decimal aggregation is exact but ~2.3× slower than BIGINT hash-agg
# (measured at sf0.1: 0.89s vs 0.38s for the q01 aggregate). When the
# measure is exactly k-decimal, summing round(x·10^k) as BIGINT is
# equally exact and codegens to plain long adds. Conversion to double
# at the end ((double)sum / 10^k) is the same correctly-rounded value
# decimal→double produces while |sum| < 2^53; past 2^53 both engines
# still agree (identical int64→double + IEEE division on both sides)
# even though the result may differ from the decimal path by 1 ulp.
# BIGINT overflow bounds the method at |Σ x·10^k| < 2^63 — for q01's
# 3-factor charge (scale 10^6) that is ~sf30; per-query docstrings
# state the ceiling. Products of cents factors stay exact integers,
# so multi-factor measures (price·(1-disc)·(1+tax)) need no widening
# rules at all.
# ---------------------------------------------------------------------------


def cents(col: Column | str, k: int = 2) -> Column:
    """round(x·10^k) as BIGINT — exact for k-decimal measures. The
    ·10^k product of a k-decimal measure sits ~1e-12 from an integer;
    a product that is an exact .5 (0.125 at k=2) rounds away from zero
    in both engines (Spark HALF_UP, DuckDB half-away), so they agree."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * (10**k)).cast("long")


def csum(col: Column | str, k: int = 2) -> Column:
    """Order-independent SUM via integer cents → double."""
    return F.sum(cents(col, k)).cast("double") / float(10**k)


def cavg(col: Column | str, k: int = 2) -> Column:
    """Order-independent AVG via integer cents → double / count."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(cents(c, k)).cast("double") / float(10**k)) / F.count(
        c
    ).cast("double")


# ---------------------------------------------------------------------------
# Collision-free composite ranks for max_by/arg_max survivor picks.
#
# DuckDB's arg_max has no struct-rank overload (verified on 1.0), so a
# composite (major, minor) ordering must be encoded in a single
# scalar. An integer rank `major * K + minor` silently breaks once
# minor >= K — the exact 100×-scale trap. Instead encode each
# non-negative BIGINT component as a fixed-width zero-padded string:
# lexicographic order on the concatenation equals numeric order on
# the tuple, with NO ceiling for any int64 value. Both engines compare
# strings bytewise (no collation surprises with digits), and both
# have arg_max/max_by over VARCHAR ranks.
# ---------------------------------------------------------------------------

_PAD = 19  # digits in 2^63-1


def tuple_rank(*cols: Column | str) -> Column:
    """Spark-side collision-free rank for max_by/min_by over a tuple
    of non-negative integer columns (major first)."""
    parts = [
        F.lpad((F.col(c) if isinstance(c, str) else c).cast("string"), _PAD, "0")
        for c in cols
    ]
    return F.concat(*parts)


def oracle_tuple_rank(*exprs: str) -> str:
    """DuckDB twin of :func:`tuple_rank` (same padded encoding)."""
    return " || ".join(
        f"lpad(CAST(({e}) AS VARCHAR), {_PAD}, '0')" for e in exprs
    )
