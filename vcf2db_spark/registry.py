"""Declared-query registry (SURVEY.md §2, rows marked DQ:*).

Every operator claimed as implemented registers here with a Spark callable
``(spark, sf_dir) -> DataFrame`` and, when SQL-expressible, a DuckDB oracle
SQL string over the pre-registered fixture views. ``__spark_entry__``
exposes the registry to the driver.

Determinism conventions (SURVEY §2 harness conventions):
- identical aliases both sides;
- float aggregates go through exact decimal sums (``dsum``/``OSUM``) so
  summation order cannot perturb the value-hash, then ROUND(…, 6);
- ties in windows/top-k broken by a unique key;
- temporal outputs projected to strings (identical formatting both sides).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def dq(name: str, oracle: str | None = None):
    """Register a declared query, optionally with its DuckDB oracle SQL."""

    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = " ".join(oracle.split())
        return fn

    return deco


# ---- Spark-side numeric normalization -------------------------------------
# Double summation is order-dependent; Spark and DuckDB will disagree in the
# last ulps and ROUND() cannot always mask that. Convention: FIXED-POINT
# sums — round each row's double to an integer count of 10⁻⁶ units
# (ROUND is ties-away-from-zero in both engines over the identical IEEE
# double), sum exactly in BIGINT (associative — partial aggregation and
# shuffle order cannot perturb it), divide by 10⁶ at the end (identical
# IEEE division both sides).
#
# Why not DECIMAL(38,10) (the round-1 convention): Spark's wide-decimal
# sum runs ~3.7× slower than native long sums in the aggregate hash map
# (measured at sf0.1: 1.7 s vs 0.47 s on TPC-H Q1's four sums); DuckDB
# pays no such penalty, so the convention itself was inflating the
# Spark/DuckDB ratio. Long-backed fixed point keeps the determinism AND
# the speed. Headroom: ±9.2e12 in unit terms per sum — raise the scale
# boundary or go back to decimal for >1e12 aggregates.

_SCALE = 1_000_000.0


def dsum(col: Column | str) -> Column:
    """Fixed-point sum at 10⁻⁶ resolution (already 6-decimal-exact)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(F.round(c * _SCALE).cast("long")).cast("double") / F.lit(_SCALE)


def davg(col: Column | str) -> Column:
    """Fixed-point mean, already 6-decimal-exact: ROUND in INTEGER UNITS
    (sum_units / n, ties-away — identical IEEE ops both engines), then
    /10⁶. Rounding the raw double quotient at 6 decimals instead is the
    classic divergence: a mean landing near a .5×10⁻⁶ boundary flips
    between Spark's BigDecimal HALF_UP and DuckDB's numeric round (seen
    on vec_centroid at sf0.1). A wrapping r6() stays a safe no-op."""
    c = F.col(col) if isinstance(col, str) else col
    units = F.sum(F.round(c * _SCALE).cast("long")).cast("double")
    return F.round(units / F.count(c)).cast("double") / F.lit(_SCALE)


def r6(col: Column) -> Column:
    return F.round(col, 6)


def z6(col: Column) -> Column:
    """ROUND(col, 6) with signed zero normalized: IEEE ``-0.0 + 0.0`` is
    ``+0.0`` under round-to-nearest, and the driver's value-hash
    distinguishes ``-0.0`` from ``0.0`` (the round-4 embed_covariance
    red row). Use this instead of ``r6`` for any rounded output that can
    land exactly on zero from the negative side — differences, slopes,
    covariances, log-ratios. Oracle twin: :func:`OZ6`."""
    return F.round(col, 6) + F.lit(0.0)


# ---- Oracle-side (DuckDB SQL) twins ----------------------------------------

def OSUM(expr: str) -> str:
    """Oracle twin of :func:`dsum` (same fixed-point arithmetic)."""
    return (
        f"(CAST(SUM(CAST(ROUND(({expr}) * 1000000.0) AS BIGINT)) AS DOUBLE)"
        " / 1000000.0)"
    )


def OZ6(expr: str) -> str:
    """Oracle twin of :func:`z6` — ROUND(…, 6) with ``+ 0.0`` signed-zero
    normalization (same IEEE identity in DuckDB)."""
    return f"(ROUND(({expr}), 6) + 0.0)"


def OAVG(expr: str) -> str:
    """Oracle twin of ``davg`` (round in integer units, then downscale)."""
    return (
        f"(CAST(ROUND(CAST(SUM(CAST(ROUND(({expr}) * 1000000.0) AS BIGINT))"
        f" AS DOUBLE) / COUNT({expr})) AS DOUBLE) / 1000000.0)"
    )
