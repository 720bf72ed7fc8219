"""Cross-engine-stable numeric aggregates.

Floating-point SUM/AVG results depend on summation order, which
differs between Spark's partial-aggregate tree and DuckDB's scan
order; a mean that lands within one ULP of a 6th-decimal rounding
boundary then hashes differently across engines. The fix (shared by
every oracle-checked float mean in the repo): round each VALUE to
integer micro-units first, sum the identical int64s (exact,
order-free), and divide once at the end.

Every rounding the Spark side does to match DuckDB goes through the
half-up helpers below: ``floor(x * 10^k + 0.5) / 10^k``, because
``F.round``'s ties do not match DuckDB's. Operators call them with
their own arithmetic and never spell ``F.floor(... + 0.5)`` themselves
(tests/test_tooling.py pins it).
"""

from __future__ import annotations

from pyspark.sql import functions as F

# Mean over pre-scaled integers, rounded to 1/{s} units; `{v}` is the
# value expr, `{s}` the 10^k scale.
MEANK_DUCK = (
    "floor(sum(CAST(round({v} * {s}, 0) AS BIGINT)) * 1.0 / count(*) + 0.5)"
    " / {s}.0"
)

# 6-decimal mean over pre-scaled integers; `{v}` is the value expr.
MEAN6_DUCK = MEANK_DUCK.replace("{s}", "1000000")

# Order-free 6-decimal ratio sum(num)/sum(den): numerator rounded to
# int64 whole units per row (exact summation), denominator must
# already be integral.
RATIO6_DUCK = (
    "round(sum(CAST(round({num}, 0) AS BIGINT)) * 1.0 / sum({den}), 6)"
)


# Order-free k-decimal sum: each value rounded to integer 10^k-units,
# summed exactly as int64. `{v}` value expr, `{s}` = 10^k scale.
SUMK_DUCK = "sum(CAST(round({v} * {s}, 0) AS BIGINT)) / {s}.0"


def half_up_units(x) -> F.Column:
    """``x`` rounded half-up to whole units: ``floor(x + 0.5)``."""
    return F.floor(x + F.lit(0.5))


def half_up(x, scale: int) -> F.Column:
    """``x``, already in 1/scale units, rounded half-up and returned in
    whole units: ``floor(x + 0.5) / scale``."""
    return half_up_units(x) / F.lit(float(scale))


def half_up_ratio(num, den, scale: int) -> F.Column:
    """``num / den`` rounded half-up to 1/scale:
    ``floor(num * scale / den + 0.5) / scale``. A NULL ``den`` (for
    instance ``nullif(den, 0)``) gives NULL."""
    return half_up(num * F.lit(float(scale)) / den, scale)


def scaled_sum(v, scale: int) -> F.Column:
    """Sum of ``v`` in integer 1/scale units (each value rounded), as int64."""
    return F.sum(F.round(v * F.lit(float(scale)), 0).cast("long"))


def scaled_mean(total, n, scale: int) -> F.Column:
    """MEANK_DUCK's finalization of a ``scaled_sum`` over ``n`` rows."""
    return half_up(total * F.lit(1.0) / n, scale)


def sumk_spark(v, scale: int) -> F.Column:
    """Spark twin of SUMK_DUCK."""
    return scaled_sum(v, scale) / F.lit(float(scale))


def meank_spark(v, scale: int) -> F.Column:
    """Spark twin of MEANK_DUCK (identical int64 partial sums)."""
    return scaled_mean(scaled_sum(v, scale), F.count(F.lit(1)), scale)


def mean6_spark(v) -> F.Column:
    """Spark twin of MEAN6_DUCK (identical int64 partial sums)."""
    return meank_spark(v, 1000000)


def ratio6_spark(num, den) -> F.Column:
    """Spark twin of RATIO6_DUCK."""
    return F.round(
        F.sum(F.round(num, 0).cast("long")) * F.lit(1.0) / F.sum(den), 6
    )
