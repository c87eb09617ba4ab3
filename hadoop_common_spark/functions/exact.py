"""Exact (order-independent) numeric aggregation helpers.

Floating-point sums depend on reduction order, which differs between
engines and between runs at different parallelism. The reference engine
had the same issue and ignored it (its tests use integer counts). For a
*differential-oracle* correctness gate we need bit-identical results from
Spark and DuckDB, so double aggregates are computed as exact decimal sums
and only cast back to double at the end:

    Spark : sum(cast(x as decimal(30,6)))  -> cast double
    DuckDB: CAST(CAST(SUM(CAST(x AS DECIMAL(30,6))) AS STRING) AS DOUBLE)

The per-element double→decimal rounding is deterministic and identical in
both engines for any non-tie value (ties at the 6th decimal of a binary
double are measure-zero), and decimal addition is exact and associative —
so the final double matches regardless of partitioning or merge order.
This also makes results *stable at 100 TB*: re-running with different
shuffle partitioning yields the same bytes.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(30,6)"


def dsum(col: Column | str, scale: int = 6) -> Column:
    """Order-independent sum of a double column, returned as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(30,{scale})")).cast("double")


def dsum_sql(expr: str, scale: int = 6) -> str:
    """DuckDB-side rendering of :func:`dsum` over SQL expression ``expr``.

    The STRING hop in the final cast matters past 2**53 scaled units:
    DuckDB's direct DECIMAL->DOUBLE converts the int128 payload to
    double FIRST and divides by 10^scale after — two roundings — while
    Spark's (Java BigDecimal.doubleValue) rounds once, correctly.
    Measured at the 30x tpch tier: Q1's sum_charge decimal
    153420009710.814540 (scaled units > 2**53) rendered
    153420009710.8145 direct vs the correctly rounded ...81454 — a
    1-ULP cross-engine mismatch on an EXACT decimal both engines agree
    on. DECIMAL->STRING is exact and STRING->DOUBLE rounds correctly,
    so the hop restores bit-identical doubles at every scale; below
    2**53 scaled units both forms were already identical (the full
    registry is hash-green either way at sf<=0.1). STRING (not
    VARCHAR) keeps the rendering ENGINE-PORTABLE: two Q22-shape
    queries reuse this string inside spark.sql(), where VARCHAR
    requires a length, and Spark's own decimal->string->double is
    correctly rounded at every step just like the direct cast."""
    return f"CAST(CAST(SUM(CAST({expr} AS DECIMAL(30,{scale}))) AS STRING) AS DOUBLE)"


def dsum_over_sql(expr: str, over: str, scale: int = 6) -> str:
    """Window-function form of :func:`dsum_sql`: exact decimal SUM over a
    window frame, rendered back to double through the same STRING hop.

    ``over`` is the full OVER clause text (``"OVER w"`` or
    ``"OVER (PARTITION BY ... )"``). The hop matters identically here:
    a per-partition running/rolling decimal prefix can exceed 2**53
    scaled units just like a global sum (a busy user's running total at
    100 TB), and DuckDB's direct DECIMAL->DOUBLE double-rounds it while
    Spark's BigDecimal.doubleValue rounds once."""
    return (
        f"CAST(CAST(SUM(CAST({expr} AS DECIMAL(30,{scale}))) {over}"
        f" AS STRING) AS DOUBLE)"
    )


def davg(col: Column | str, scale: int = 6) -> Column:
    """Order-independent mean: exact decimal sum divided by count."""
    c = F.col(col) if isinstance(col, str) else col
    return dsum(c, scale) / F.count(c)


def dstddev_pop(col: Column | str) -> Column:
    """Population stddev via exact decimal sums (sum, sum of squares).

    Mirrors the reference's WordStandardDeviation formulation
    (two accumulated sums, then sqrt((sumsq - sum^2/n)/n) on the driver;
    reference EX/WordStandardDeviation.java:90-129) — but distributed and
    order-independent.
    """
    c = F.col(col) if isinstance(col, str) else col
    n = F.count(c).cast("double")
    s = dsum(c)
    sq = F.sum((c * c).cast("decimal(30,6)")).cast("double")
    return F.sqrt((sq - s * s / n) / n)


def dstddev_samp(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    n = F.count(c).cast("double")
    s = dsum(c)
    sq = F.sum((c * c).cast("decimal(30,6)")).cast("double")
    return F.sqrt((sq - s * s / n) / (n - F.lit(1.0)))
