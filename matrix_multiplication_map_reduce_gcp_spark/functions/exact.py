"""Exact (order-independent) aggregation of currency-like doubles.

Why this exists: the driver's correctness gate hashes query output
values against a DuckDB oracle. ``SUM(double)`` is order-dependent —
Spark and DuckDB will disagree in the last ulp on any large sum, so a
naive double sum can never hash-match. Every double column in the
fixtures carries exactly 2 decimal digits (verified at ingest), so we
aggregate in DECIMAL (exact, associative, order-independent) and cast
the final result back to DOUBLE. Both engines then produce the
bit-identical IEEE double.

The same pattern is what you want at 100 TB anyway: decimal partial
aggregates are exact under any AQE re-planning or partial/final split.

Spark side helpers here; the SQL oracle uses the mirrored text from
:func:`sql_dsum` etc. so both plans round identically.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 2 fractional digits covers every money/ratio column in the fixtures.
# Keep the declared precision small (12) so products of two decimals
# stay well under Spark's 38-digit cap — beyond it Spark silently
# reduces the scale, which would break exactness.
DEC = "decimal(12,2)"


def dec(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DEC)


def dsum(col: Column | str) -> Column:
    """Exact SUM of a 2-decimal double, returned as double."""
    return F.sum(dec(col)).cast("double")


def sql_dec2dbl(expr: str) -> str:
    """Correctly-rounded DECIMAL→DOUBLE conversion for the DuckDB
    oracle side, routed through a string round-trip (``STRING`` — the
    alias both engines parse; Spark SQL rejects bare ``VARCHAR``).

    DuckDB's direct ``CAST(decimal AS DOUBLE)`` converts the int128
    significand to double and then multiplies by 10^-scale — TWO
    IEEE roundings, which lands one ulp off the true value whenever
    the scaled significand exceeds 2^53 (first seen at the sf1 probe:
    pricing_summary's scale-6 charge sum, 2.8e16 scaled units).
    ``CAST(string AS DOUBLE)`` is a single correctly-rounded strtod,
    matching Spark's BigDecimal.doubleValue exactly at any magnitude."""
    return f"CAST(CAST({expr} AS STRING) AS DOUBLE)"


def sql_dsum(expr: str) -> str:
    return sql_dec2dbl(f"SUM(CAST({expr} AS {DEC}))")


# ---- exact integer floor division (cross-engine) -------------------------
#
# `(s - pmod(s, d)) / d` floors for ANY numerator sign because pmod is
# non-negative; the subtraction makes the numerator exactly divisible,
# so the double division is exact while |s| < 2^53. One definition for
# every consumer (kmeans centroid update, PQ codebooks, Jacobi sweeps)
# so the exactness-critical idiom cannot drift per module.


def floordiv(s: Column, d: Column) -> Column:
    return ((s - F.pmod(s, d)) / d).cast("bigint")


def sql_floordiv(s: str, d: str) -> str:
    return f"CAST((({s}) - ((({s}) % ({d})) + ({d})) % ({d})) / ({d}) AS BIGINT)"
