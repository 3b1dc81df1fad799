"""Money arithmetic conventions.

The reference rounds every monetary value to 2 decimal places
(/root/reference/dataset_generator.py:392,399-404 — SURVEY.md §7
"money rounding parity"). Beyond rounding style, the real distributed-
correctness issue is that floating-point SUM is order-dependent: a
parallel double-SUM produces a last-ulp-different total on every
run/engine, so money totals would be non-reproducible at scale.

Convention — **integer cents**:

    cents(x)     = FLOOR(x * 100 + 0.5)          -- pure IEEE double ops
    money_sum(x) = CAST(SUM(cents(x)) AS DOUBLE) / 100.0

Why not DECIMAL casts: Spark's double→decimal cast rounds the double's
*shortest decimal representation* (Java ``BigDecimal.valueOf``), while
DuckDB/most engines round the *exact binary value* — the two disagree
whenever the shortest repr lands exactly on a rounding boundary (e.g.
``2.675``), which is common for 2-dp-shaped data. ``floor(x*100+0.5)``
is plain IEEE arithmetic, bit-identical on every engine, exact and
order-independent once in integer space, and overflow-safe (int64
holds ±9.2e16 dollars).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def scaled_int(col: Column | str, scale: int) -> Column:
    """Half-up fixed-point value: FLOOR(x * scale + 0.5) as BIGINT."""
    return F.floor(_col(col) * F.lit(float(scale)) + F.lit(0.5))


def money_cents(col: Column | str) -> Column:
    """Row-level money value in integer cents."""
    return scaled_int(col, 100)


def money_sum(col: Column | str) -> Column:
    """Exact, order-independent SUM of a money expression → DOUBLE."""
    return F.sum(money_cents(col)).cast("double") / F.lit(100.0)


def money_round(col: Column | str) -> Column:
    """Row-level half-up rounding to cents → DOUBLE: the engine-
    portable replacement for ``F.bround``/``F.round`` on oracle-
    compared money outputs (pure IEEE ops — see module docstring for
    why decimal-style rounding diverges across engines). Half-up
    means half-toward-+inf for negative amounts; all money here is
    non-negative. Oracle fragment: ``FLOOR((x)*100.0+0.5)/100.0``."""
    return money_cents(col).cast("double") / F.lit(100.0)


def money_avg(col: Column | str) -> Column:
    """Order-independent AVG of a money expression → DOUBLE."""
    c = _col(col)
    return F.sum(money_cents(c)).cast("double") / F.lit(100.0) / F.count(c)


def scaled_sum(col: Column | str, scale: int) -> Column:
    """Exact SUM at an arbitrary fixed-point scale → DOUBLE."""
    return F.sum(scaled_int(col, scale)).cast("double") / F.lit(float(scale))

