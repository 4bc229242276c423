"""Exact money arithmetic, written once for the Spark side and its
DuckDB oracles.

All source numerics are 2-decimal doubles.  For hash-exact oracle parity,
aggregates sum in DECIMAL (exact, order-independent), cast to double, and
only then apply double ops + round — identical bit patterns on any engine
regardless of partitioning/summation order.  D2 is sized to the data
(max |value| < 1e6) so products stay inside decimal(38,_) on both engines.
"""

from __future__ import annotations

from pyspark.sql import functions as F

D2 = "decimal(12,2)"


def dsum(col) -> F.Column:
    """Exact decimal sum of a 2-dp double column, emitted as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(D2)).cast("double")


def cents_sum(col) -> F.Column:
    """Exact integer sum of a 2-dp double column, in cents (bigint)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum((c.cast(D2) * 100).cast("long"))


def avg_hu(cents_col: str, n_col: str, k: int) -> F.Column:
    """Decimal-HALF_UP average at k places from integer cents + count —
    pure integer arithmetic, so Spark and DuckDB produce the identical
    double.  (round(double,k) itself diverges between engines on shortest-
    repr ties: Spark rounds the decimal string, DuckDB the binary value.)
    """
    scale = 10 ** (k - 2)  # cents → k decimal places
    return F.expr(
        f"CAST(({cents_col} * {2 * scale} + {n_col}) div (2 * {n_col}) AS DOUBLE)"
        f" / CAST({10**k} AS DOUBLE)"
    )


#: the same construction, for oracle SQL strings (DuckDB // is floor div;
#: all summands here are positive so floor == toward-zero)
def avg_hu_sql(cents_expr: str, n_expr: str, k: int) -> str:
    scale = 10 ** (k - 2)
    return (
        f"(({cents_expr} * {2 * scale} + {n_expr}) // (2 * {n_expr})) / {10**k}.0"
    )


def net_price() -> F.Column:
    """``l_extendedprice * (1 - l_discount)`` in exact decimal(16,4)."""
    return F.col("l_extendedprice").cast(D2) * (
        F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)")
    )


def net_price_sql(alias: str = "") -> str:
    """:func:`net_price` for oracle SQL; ``alias`` qualifies the two
    lineitem columns (``l`` → ``l.l_extendedprice``)."""
    p = f"{alias}." if alias else ""
    return (
        f"CAST({p}l_extendedprice AS DECIMAL(12,2))"
        f" * (CAST(1 AS DECIMAL(3,2)) - CAST({p}l_discount AS DECIMAL(3,2)))"
    )


NET_PRICE_SQL = net_price_sql()


def revenue() -> F.Column:
    """Sum of :func:`net_price`, cast to double, rounded to 2 dp."""
    return F.round(F.sum(net_price()).cast("double"), 2)


REVENUE_SQL = f"round(CAST(sum({NET_PRICE_SQL}) AS DOUBLE), 2)"
