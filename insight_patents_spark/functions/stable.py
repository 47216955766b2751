"""The determinism contract's shared definitions (SURVEY §5).

Spark and the DuckDB oracle must agree, byte for byte, on four things;
each is defined here once and every engine kernel imports it.

**Hash → integer.** ``hex_int(digest, width, start)`` reads ``width`` hex
digits of an md5 digest as a bigint. Oracle twin:
``CAST('0x' || substr(md5(x), start, width) AS BIGINT)``. ``width`` is at
most 15: fifteen hex digits stay below 2^60, exact in both engines, while
sixteen can pass 2^63.

**Tokens.** Text splits on every single ASCII space and keeps empty
tokens: ``tokens(col)`` is ``split(col, ' ')`` and ``py_tokens(s)`` is
``s.split(" ")``, the twins of DuckDB ``string_split(x, ' ')``. Empty
strings, leading/trailing/double spaces and other whitespace (tab, NBSP,
ideographic space) tokenize identically in all three.

**Sums.** Floating-point sums depend on accumulation order, which differs
between Spark partitions and DuckDB, and between partition counts.
Rounding alone leaves a boundary-flip risk, so money-style sums go
through exact decimal arithmetic instead:

    SUM(CAST(x AS DECIMAL(22,6)))  -- exact, order-independent
    -> CAST(... AS DOUBLE)         -- nearest-double of the same rational

Both engines then produce bit-identical doubles. Averages reuse the exact
sum divided by COUNT (double/bigint IEEE division is deterministic).

Order-statistic and merge-based aggregates (stddev/corr/percentile) stay
double but are computed over small-magnitude columns and rounded (see
individual queries).

**Rounding.** DuckDB rounds a DOUBLE to ``k`` decimals as
``std::round(x * 10^k) / 10^k``. Spark's ``round(x, k)`` instead rounds
x's shortest decimal string half-up, and the two can split wherever
``x * 10^k`` is inexact or an exact binary half: at k = 9, about 7% of
the doubles in [1e6, 2e6), and x = 439.39270552749997. Every engine
rounding of a double to ``k >= 1`` decimals is therefore
``round_dp(col, k)``, or its SQL twin ``round_dp_sql(expr, k)`` in
``F.expr`` and lambda strings: ``round(x * 10^k, 0) / 10^k``, the
oracle's own formula. Spark's ``round(y, 0)`` is HALF_UP on y's shortest
string, which for a double always equals ``std::round(y)`` (a shortest
string that reads as n + 1/2 is exactly n + 1/2). ``py_round_dp`` is the
Python twin for driver-side kernels. Oracle SQL keeps ``ROUND(x, k)``.
DECIMAL and integral values would keep Spark's own ``round``, which is
exact on them; no engine site rounds one to ``k >= 1``. (Past
``|x * 10^k| > 1.8e308`` DuckDB returns x and ``round_dp`` infinity; no
engine value comes near.)
"""

from __future__ import annotations

import decimal

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(22,6)"

# Widest hex prefix whose integer value is exact in both engines (< 2^60).
HEX_INT_MAX_WIDTH = 15


def hex_int(digest: Column, width: int, start: int = 1) -> Column:
    """Bigint value of ``width`` hex digits of ``digest`` from 1-based
    ``start``. Oracle: ``CAST('0x' || substr(md5(x), start, width) AS BIGINT)``."""
    if width > HEX_INT_MAX_WIDTH:
        raise ValueError(
            f"hex_int width {width} > {HEX_INT_MAX_WIDTH}: may overflow bigint"
        )
    return F.conv(F.substring(digest, start, width), 16, 10).cast("bigint")


def tokens(col: Column | str = "text") -> Column:
    """Token array of a string column; oracle ``string_split(x, ' ')``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, " ")


def py_tokens(s: str | None) -> list[str] | None:
    """Python twin of ``tokens`` for Arrow/UDF kernels."""
    return None if s is None else s.split(" ")


def round_dp(col: Column | str, digits: int = 9) -> Column:
    """``col`` (a double) rounded to ``digits`` decimals bit-identically to
    DuckDB ``ROUND(x, digits)``: ``round(x * 10^digits, 0) / 10^digits``."""
    c = F.col(col) if isinstance(col, str) else col
    scale = float(10**digits)
    return F.round(c * scale, 0) / scale


def round_dp_sql(expr: str, digits: int = 9) -> str:
    """Spark SQL twin of ``round_dp`` for ``F.expr`` and lambda strings."""
    scale = f"{float(10**digits)!r}D"
    return f"(round(({expr}) * {scale}, 0) / {scale})"


def py_round_dp(x: float, digits: int = 9) -> float:
    """Python twin of ``round_dp``: ``std::round`` (exact half away from
    zero) of ``x * 10^digits``, then one IEEE division."""
    scale = float(10**digits)
    y = x * scale
    if abs(y) < 2.0**52:  # larger doubles, inf and NaN are integral or kept
        y = float(decimal.Decimal(y).quantize(1, rounding=decimal.ROUND_HALF_UP))
    return y / scale


def dsum(col: Column | str) -> Column:
    """Order-independent sum of a double column, bit-identical to the
    DuckDB oracle expression ``CAST(SUM(CAST(x AS DECIMAL(22,6))) AS DOUBLE)``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double")


def davg(col: Column | str) -> Column:
    """Order-independent mean: exact decimal sum / count, both engines.

    Oracle: ``CAST(SUM(CAST(x AS DECIMAL(22,6))) AS DOUBLE) / COUNT(x)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double") / F.count(c)


def sql_dsum(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(22,6))) AS DOUBLE)"


def sql_davg(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(22,6))) AS DOUBLE) / COUNT({expr})"
