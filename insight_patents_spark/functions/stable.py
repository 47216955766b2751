"""The determinism contract's shared definitions (SURVEY §5).

Spark and the DuckDB oracle must agree, byte for byte, on three things;
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
"""

from __future__ import annotations

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
