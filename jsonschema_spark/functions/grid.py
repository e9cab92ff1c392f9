"""Cross-engine-stable display rounding.

``round(double, n)`` is NOT a correctly-rounded IEEE operation and its
semantics differ BETWEEN ENGINES AND BUILDS: Spark rounds via exact
BigDecimal HALF_UP, DuckDB via a float-scaled ``std::round`` whose
tie behavior depends on the build — the round-2 driver hash failure on
``reconcile_orders_lineitem`` was exactly this (values bit-identical
locally, divergent on the driver's DuckDB). Every contract query that
needs display rounding therefore uses the explicit integer grid

    floor(x * 10^k + 0.5) / 10^k

spelled IDENTICALLY in the Spark plan and the oracle SQL. Multiply,
add, floor and divide are all correctly-rounded IEEE ops, so given
bit-identical input both engines produce bit-identical output on any
build. (Half-ties round toward +inf for negatives — a deliberate,
engine-independent choice; SQL ``round``'s away-from-zero ties are the
thing being avoided.)

The SQL spelling for ``grid_round(x, 6)`` is::

    floor((x) * 1e6 + 5e-1) / 1e6

(scientific literals, so DuckDB types them DOUBLE, not DECIMAL).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def grid_round(col: Column | str, digits: int) -> Column:
    """floor(x * 10^digits + 0.5) / 10^digits as a double Column.

    NULL in -> NULL out (floor propagates NULL). Exact for |x|*10^digits
    < 2^53; contract columns are ratios/statistics far below that."""
    c = F.col(col) if isinstance(col, str) else col
    s = float(10**digits)
    return F.floor(c * F.lit(s) + F.lit(0.5)) / F.lit(s)


def grid_round_sql(expr: str, digits: int) -> str:
    """The identical spelling for oracle SQL (DuckDB DOUBLE literals)."""
    return f"floor(({expr}) * 1e{digits} + 5e-1) / 1e{digits}"


# ---------------------------------------------------------------------------
# Exact cross-engine float SUMs (the round-3 driver failure class).
#
# ``SUM(CAST(double AS DECIMAL(p,s)))`` with s > 0 is NOT portable: Spark
# converts each double via its shortest-repr string then BigDecimal
# HALF_UP; DuckDB via scaled multiply / hugeint arithmetic whose tie
# rounding has CHANGED BETWEEN RELEASES. One row landing on a tie flips
# the aggregate by 1 unit-in-last-place → driver hash mismatch while
# local DuckDB agrees bit-for-bit (``reconcile_orders_lineitem``, rounds
# 2 AND 3). Rule: an engine CAST of a COMPUTED double to a scaled
# decimal must never appear on a contract path.
#
# Portable replacement: quantize per row with the explicit integer grid
# ``floor(x * S + 0.5)`` — multiply/add/floor are correctly-rounded IEEE
# ops, identical on any build — and sum the resulting INTEGERS (int →
# decimal/bigint is exact everywhere). Two schemes:
#
# - ``fixed_q`` / ``fixed_q_sql``: one-part binary grid ``floor(x·2^30 +
#   0.5)`` for values of known modest magnitude (scores, currency-like
#   amounts; precondition |x| < 2^33). The 2^30 scale is a POWER OF TWO,
#   so reconstruction ``q · 2^-30`` is an EXACT double multiply.
# - ``fixed_parts`` / ``fixed_parts_sql``: two-part (integer part +
#   binary-scaled fraction) for arbitrary-magnitude doubles — full
#   int64 dynamic range with 2^-30 resolution. ``x - floor(x)`` is exact
#   IEEE in both engines; ``frac · 2^30`` is an exact power-of-two
#   multiply, so the only per-row error is the half-grid quantization,
#   and it is BIT-IDENTICAL in Spark and DuckDB.
#
# Reconstruction routes decimal sums through BIGINT before the double
# conversion: int64 → double is a SINGLE correctly-rounded conversion in
# both engines, whereas DuckDB's HUGEINT → double composes two roundings
# (upper·2^64 + lower) and Spark's BigDecimal path differs again.
# Ceilings (documented, loud): |part sum| < 2^63 → n·|x| < 9.2e18 for
# the integer part and n < 8.6e9 rows for the fraction part — far above
# every contract query and the 10^7 exact-audit ceilings.
# ---------------------------------------------------------------------------

FIXED_BIN_SCALE = float(2**30)  # 1073741824.0 — binary grid step 2^-30
FIXED_BIN_INV = float(2.0**-30)  # exactly representable; q·INV is exact


def fixed_q(col: Column | str) -> Column:
    """Per-row one-part quantization floor(x·2^30 + 0.5) as DECIMAL(38,0)
    — SUM it for an exact, order-independent, engine-portable aggregate.
    Precondition |x| < 2^33 (the floor's long conversion)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * F.lit(FIXED_BIN_SCALE) + F.lit(0.5)).cast("decimal(38,0)")


def fixed_q_sql(expr: str) -> str:
    """Oracle spelling of ``SUM(fixed_q(x))`` (wrap in SUM(...) yourself
    when composing): the per-row quantized BIGINT."""
    return f"CAST(floor(({expr}) * 1073741824e0 + 5e-1) AS BIGINT)"


def fixed_parts(col: Column | str) -> tuple[Column, Column]:
    """Two-part quantization of an arbitrary-magnitude double: returns
    (int_part, frac_part) DECIMAL(38,0) columns — SUM each for an exact,
    order-independent, engine-portable aggregate of x.

    int_part = floor(x); frac_part = floor((x − floor(x))·2^30 + 0.5).
    ``x − floor(x)`` is exact IEEE (and for |x| ≥ 2^53, floor(x) == x so
    the fraction is exactly 0); the 2^30 multiply is exact."""
    c = F.col(col) if isinstance(col, str) else col
    xi = F.floor(c)  # LongType
    frac = c - xi.cast("double")
    xf = F.floor(frac * F.lit(FIXED_BIN_SCALE) + F.lit(0.5))
    return xi.cast("decimal(38,0)"), xf.cast("decimal(38,0)")


def fixed_parts_total(sum_int: Column | str, sum_frac: Column | str) -> Column:
    """Reconstruct the double sum from the two exact part sums: one exact
    2^-30 multiply + one correctly-rounded add — bit-identical in both
    engines."""
    si = F.col(sum_int) if isinstance(sum_int, str) else sum_int
    sf = F.col(sum_frac) if isinstance(sum_frac, str) else sum_frac
    return si.cast("long").cast("double") + sf.cast("long").cast("double") * F.lit(
        FIXED_BIN_INV
    )


def fixed_parts_sql(expr: str) -> tuple[str, str]:
    """Oracle spellings of the two per-row part values (wrap each in
    SUM(...))."""
    return (
        f"CAST(floor({expr}) AS BIGINT)",
        f"CAST(floor((({expr}) - floor({expr})) * 1073741824e0 + 5e-1) AS BIGINT)",
    )


def fixed_parts_total_sql(sum_int_expr: str, sum_frac_expr: str) -> str:
    """Oracle reconstruction from the two summed parts."""
    return (
        f"(CAST(CAST({sum_int_expr} AS BIGINT) AS DOUBLE)"
        f" + CAST(CAST({sum_frac_expr} AS BIGINT) AS DOUBLE)"
        f" / 1073741824e0)"
    )
