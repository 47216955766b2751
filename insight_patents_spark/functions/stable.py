"""The determinism contract's shared definitions (SURVEY §5).

Spark and the DuckDB oracle must agree, byte for byte, on five things;
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

Only ``agg_stats`` keeps Spark's merge-based double aggregates
(stddev/var/corr/covar); it computes them over small-magnitude columns and
rounds them to 6 decimals. Every other covariance, correlation and slope
is built from exact moments (below).

**Moments.** Covariance, Pearson r and the OLS slope all rest on the
co-moment ``n·Σab − Σa·Σb``. ``moment_sums(cols, wide)`` is the ONE
mergeable hash aggregate of exact integer moments: ``n``, ``s_<a>`` per
column and ``s_<a>_<b>`` per pair (names in sorted order, so ``s_x_y``
serves both (x, y) and (y, x)), summed in bigint, or in ``decimal(38,0)``
(HUGEINT in the oracle) when ``wide``, for sites whose cross products pass
2^63. ``comoment(a, b)`` forms the co-moment from those columns exactly,
BEFORE any cast to double; ``cov_samp``, ``ols_slope`` and ``pearson`` are
the three fixed-order double compositions of it. Each has a ``*_sql``
twin. Casting first, ``double(n·Σab) − double(Σa·Σb)``, would cancel
catastrophically whenever the sums are large and the spread is small.
Sites whose sums are not plain moment sums (window frames, nano-quantized
or ordered float folds, weighted counts) name their columns the same way
and call ``comoment`` and the compositions on them.

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
from collections.abc import Mapping, Sequence

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


def _named(cols: Mapping[str, Column | str] | Sequence[str]) -> dict:
    """``{name: expression}`` of a moment column list: a bare name is its
    own expression."""
    return dict(cols) if isinstance(cols, Mapping) else {c: c for c in cols}


def _cross(a: str, b: str) -> str:
    """Name of the cross-moment column of ``a`` and ``b``: ``s_<a>_<b>``
    with the names in sorted order."""
    return f"s_{a}_{b}" if a <= b else f"s_{b}_{a}"


def moment_sums(
    cols: Mapping[str, Column | str] | Sequence[str], wide: bool = False
) -> list[Column]:
    """Aggregate columns ``n``, ``s_<a>`` for each column ``a`` and
    ``s_<a>_<b>`` for each pair a <= b, exact integer sums of the integral
    columns ``cols`` (names, or ``{name: column}``): bigint, or
    ``decimal(38,0)`` when ``wide``. Twin: ``moment_sums_sql``."""
    acc = "decimal(38,0)" if wide else "bigint"
    named = [
        (a, F.col(c) if isinstance(c, str) else c) for a, c in _named(cols).items()
    ]
    return (
        [F.count(F.lit(1)).alias("n")]
        + [F.sum(c.cast(acc)).alias(f"s_{a}") for a, c in named]
        + [
            F.sum(ca.cast(acc) * cb).alias(_cross(a, b))
            for i, (a, ca) in enumerate(named)
            for b, cb in named[i:]
        ]
    )


def moment_sums_sql(
    cols: Mapping[str, str] | Sequence[str], wide: bool = False
) -> str:
    """DuckDB twin of ``moment_sums``: a select list for a GROUP BY."""
    acc = "HUGEINT" if wide else "BIGINT"
    named = list(_named(cols).items())
    return ",\n           ".join(
        ["CAST(COUNT(*) AS BIGINT) AS n"]
        + [f"CAST(SUM(CAST({e} AS {acc})) AS {acc}) AS s_{a}" for a, e in named]
        + [
            f"CAST(SUM(CAST({ea} AS {acc}) * ({eb})) AS {acc}) AS {_cross(a, b)}"
            for i, (a, ea) in enumerate(named)
            for b, eb in named[i:]
        ]
    )


def comoment(a: str, b: str, n: str = "n") -> Column:
    """``n·s_a_b − s_a·s_b``, exact in the moments' own type (never cast
    here). ``n`` names the count column. Twin: ``comoment_sql``."""
    return F.col(n) * F.col(_cross(a, b)) - F.col(f"s_{a}") * F.col(f"s_{b}")


def comoment_sql(a: str, b: str, n: str = "n") -> str:
    return f"({n} * {_cross(a, b)} - s_{a} * s_{b})"


def cov_samp(a: str, b: str) -> Column:
    """Sample covariance ``double(comoment) / (double(n)·(n − 1))``."""
    n = F.col("n")
    return comoment(a, b).cast("double") / (n.cast("double") * (n - 1))


def cov_samp_sql(a: str, b: str) -> str:
    return f"(CAST({comoment_sql(a, b)} AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1)))"


def ols_slope(x: str, y: str) -> Column:
    """OLS slope of ``y`` on ``x``: ``double(comoment(x, y)) /
    double(comoment(x, x))``."""
    return comoment(x, y).cast("double") / comoment(x, x).cast("double")


def ols_slope_sql(x: str, y: str) -> str:
    return (
        f"(CAST({comoment_sql(x, y)} AS DOUBLE)"
        f" / CAST({comoment_sql(x, x)} AS DOUBLE))"
    )


def pearson(x: str, y: str) -> Column:
    """Pearson r, ``comoment(x, y) / sqrt(double(cm_xx)·double(cm_yy))``,
    or 0.0 when either variance is 0."""
    vx, vy = comoment(x, x), comoment(y, y)
    return F.when(
        (vx > 0) & (vy > 0),
        comoment(x, y).cast("double")
        / F.sqrt(vx.cast("double") * vy.cast("double")),
    ).otherwise(F.lit(0.0))


def pearson_sql(x: str, y: str) -> str:
    vx, vy = comoment_sql(x, x), comoment_sql(y, y)
    return (
        f"(CASE WHEN {vx} > 0 AND {vy} > 0\n"
        f"      THEN CAST({comoment_sql(x, y)} AS DOUBLE)\n"
        f"           / SQRT(CAST({vx} AS DOUBLE) * CAST({vy} AS DOUBLE))\n"
        "      ELSE 0.0 END)"
    )
