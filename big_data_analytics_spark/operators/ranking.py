"""Two-level "stitched" global ranking / ordering primitives.

A total-order window (``Window.orderBy(...)`` with an empty partition
spec) plans as ``Exchange SinglePartition`` — every row flows through
ONE task, the canonical scale-killer once the windowed relation is
unbounded (documents, customers, session endpoints). These helpers
compute the same *exact* answers with the two-level shape already used
by t9 sequence packing (queries/text.py) and the gap-fill timeseries
operators:

1. assign every row to one of ``num_buckets`` value-range buckets that
   respect the global order (a bucket is a monotone function of the
   ordering key, so tied keys always land together and within-bucket
   order extends to the exact global order);
2. aggregate one tiny per-bucket totals relation (<= num_buckets rows;
   the only total-order window in the plan runs over *it*);
3. broadcast the per-bucket offsets back and finish with a window
   *partitioned by bucket*.

No stage ever orders more than one bucket of rows, so the shape
survives any corpus size; ``num_buckets`` scales with cluster
parallelism, not with data.

Bucket boundaries come from one ``percentile_approx`` pass over the
ordering key (bounded sketch state; deterministic for a fixed input),
or from a caller-supplied monotone ``bucket_expr`` when the key is
already uniform (e.g. an md5-derived hash: equal-width ranges are
balanced by construction and skip the bounds pass entirely).
Boundary placement affects only *balance*, never results. A leading
key with very low cardinality (heavy ties) degrades toward fewer
effective buckets, exactly as any range partitioning of a
near-constant column would — for that case pass ``tie_bucket=True``:
the bucket becomes a (key value, tiebreak-range) STRUCT, with
per-key-value percentile bounds computed over the first tiebreak
column, so every tie run splits into ``num_buckets`` ordered
sub-ranges (requires |distinct keys| small enough to broadcast —
which is precisely the heavy-tie regime).

Keys must be non-null (all call sites rank non-null aggregates).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["stitched_row_number", "stitched_ntile", "stitched_cumsum"]

_BKT, _OFF, _TOT = "__srk_bkt", "__srk_off", "__srk_tot"


def _below_count(arr_col: str, val: str) -> Column:
    """#array elements strictly below ``val`` — the monotone bucket
    assignment (a pure function of the value, so ties never straddle
    buckets)."""
    return F.aggregate(
        arr_col, F.lit(0).cast("long"),
        lambda acc, b: acc + F.when(F.col(val) > b, 1)
        .otherwise(0).cast("long"))


def _with_bucket(df: DataFrame, key: str, num_buckets: int,
                 bucket_expr: Optional[Column],
                 tie_bucket_col: Optional[str] = None,
                 accuracy: int = 10_000) -> DataFrame:
    """Add a bucket id that is monotone non-decreasing in the ordering.

    CARDINALITY PRECONDITION (tie mode): ``kb`` is one row per
    DISTINCT value of ``key`` — broadcast-attached, so tie mode is for
    HEAVY-TIE keys (few distinct values, many rows each; that is the
    only case needing tie splitting). A high-cardinality key makes kb
    data-proportional: pre-bucket with ``bucket_expr`` instead.
    Classified in SCALE.md's round-10 broadcast audit.

    Plain mode: one percentile pass over ``key``; bucket = #bounds
    below the key value (a LONG). Tie mode (``tie_bucket_col``): one
    grouped percentile pass per distinct key value over the tiebreak
    column; bucket = STRUCT(key, #tie-bounds below tiebreak) —
    lexicographic struct order extends the (key, tiebreak) order, so
    heavy tie runs split into ordered sub-ranges instead of
    collapsing into one bucket."""
    if bucket_expr is not None:
        return df.withColumn(_BKT, bucket_expr.cast("long"))
    pcts = [i / num_buckets for i in range(1, num_buckets)]
    if tie_bucket_col is not None:
        kb = df.groupBy(key).agg(
            F.percentile_approx(tie_bucket_col, pcts, accuracy)
            .alias("__srk_tbs"))
        return (df.join(F.broadcast(kb), key)
                .withColumn(_BKT, F.struct(
                    F.col(key).alias("k"),
                    _below_count("__srk_tbs", tie_bucket_col).alias("s")))
                .drop("__srk_tbs"))
    bounds = df.agg(
        F.percentile_approx(key, pcts, accuracy).alias("__srk_bounds"))
    return (df.crossJoin(F.broadcast(bounds))
            .withColumn(_BKT, _below_count("__srk_bounds", key))
            .drop("__srk_bounds"))


def _bucket_offsets(btot: DataFrame, val: str, with_total: bool) -> DataFrame:
    w_off = (Window.orderBy(_BKT)
             .rowsBetween(Window.unboundedPreceding, -1))
    sel = [F.col(_BKT),
           F.coalesce(F.sum(val).over(w_off), F.lit(0)).cast("long")
           .alias(_OFF)]
    if with_total:
        w_all = (Window.orderBy(_BKT)
                 .rowsBetween(Window.unboundedPreceding,
                              Window.unboundedFollowing))
        sel.append(F.sum(val).over(w_all).cast("long").alias(_TOT))
    return btot.select(*sel)


def stitched_row_number(df: DataFrame, key: str,
                        tiebreaks: Sequence[str] = (),
                        out: str = "rn", *, num_buckets: int = 64,
                        bucket_expr: Optional[Column] = None,
                        tie_bucket: bool = False,
                        total_col: Optional[str] = None) -> DataFrame:
    """Exact global ``ROW_NUMBER() OVER (ORDER BY key, *tiebreaks)``
    without a single-partition window over ``df``. With ``total_col``
    set, also attach the total row count (needed by NTILE) — computed
    on the same tiny bucket-totals relation, no extra pass.
    ``tie_bucket=True`` engages the heavy-tie composite bucketing
    (see module docstring; requires at least one tiebreak)."""
    if tie_bucket and not tiebreaks:
        raise ValueError("tie_bucket=True requires a tiebreak column")
    b = _with_bucket(df, key, num_buckets, bucket_expr,
                     tiebreaks[0] if tie_bucket else None)
    btot = b.groupBy(_BKT).agg(F.count(F.lit(1)).alias("__srk_bn"))
    boff = _bucket_offsets(btot, "__srk_bn", total_col is not None)
    w_in = Window.partitionBy(_BKT).orderBy(key, *tiebreaks)
    res = (b.join(F.broadcast(boff), _BKT)
           .withColumn(out, (F.col(_OFF)
                             + F.row_number().over(w_in)).cast("long")))
    if total_col is not None:
        res = res.withColumn(total_col, F.col(_TOT)).drop(_TOT)
    return res.drop(_BKT, _OFF)


def stitched_ntile(df: DataFrame, n_tiles: int, key: str,
                   tiebreaks: Sequence[str] = (),
                   out: str = "tile", *, num_buckets: int = 64,
                   bucket_expr: Optional[Column] = None,
                   tie_bucket: bool = False) -> DataFrame:
    """Exact global ``NTILE(n) OVER (ORDER BY key, *tiebreaks)`` in the
    stitched shape. NTILE is a pure function of (row_number, total,
    n): with q = n_rows DIV n, r = n_rows % n, the first r tiles get
    q+1 rows — the standard definition Spark and DuckDB share, applied
    here as an integer expression over the stitched row number."""
    k = int(n_tiles)
    if k <= 0:
        raise ValueError(f"n_tiles must be positive, got {n_tiles}")
    rn = stitched_row_number(df, key, tiebreaks, out="__srk_i",
                             num_buckets=num_buckets,
                             bucket_expr=bucket_expr,
                             tie_bucket=tie_bucket,
                             total_col="__srk_n")
    # CASE branches evaluate lazily, so the ELSE division by q is never
    # reached when q = 0 (then r = n_rows and the WHEN covers every row).
    tile = F.expr(
        f"CASE WHEN __srk_i <= (__srk_n % {k}) * ((__srk_n DIV {k}) + 1) "
        f"THEN 1 + (__srk_i - 1) DIV ((__srk_n DIV {k}) + 1) "
        f"ELSE 1 + (__srk_n % {k}) "
        f"+ (__srk_i - 1 - (__srk_n % {k}) * ((__srk_n DIV {k}) + 1)) "
        f"DIV (__srk_n DIV {k}) END").cast("long")
    return rn.withColumn(out, tile).drop("__srk_i", "__srk_n")


def stitched_cumsum(df: DataFrame, key: str,
                    tiebreaks: Sequence[str] = (),
                    val: str = "v", out: str = "cum", *,
                    num_buckets: int = 64,
                    bucket_expr: Optional[Column] = None,
                    tie_bucket: bool = False) -> DataFrame:
    """Exact global running sum of ``val`` in (key, *tiebreaks) order
    (``SUM(val) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)``),
    stitched: per-bucket sums -> prefix over the tiny bucket relation
    -> broadcast offsets + within-bucket cumulative window.

    ``val`` MUST be integer-valued: the per-bucket partial sums are
    cast to ``long``, so a fractional column would be truncated *per
    bucket* and the result would depend on the (data-dependent)
    percentile bucket boundaries. Enforced at plan time — pass cents /
    counts / quantized values, not doubles (the repo-wide
    integer-money convention, ``functions/money.py``)."""
    if tie_bucket and not tiebreaks:
        raise ValueError("tie_bucket=True requires a tiebreak column")
    vtype = dict(df.dtypes).get(val)
    if vtype not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"stitched_cumsum requires an integral val column; got "
            f"{val}: {vtype}. Quantize to long (cents/counts) first — "
            f"fractional sums would truncate per bucket.")
    b = _with_bucket(df, key, num_buckets, bucket_expr,
                     tiebreaks[0] if tie_bucket else None)
    btot = b.groupBy(_BKT).agg(
        F.sum(val).cast("long").alias("__srk_bv"))
    boff = _bucket_offsets(btot, "__srk_bv", False)
    w_in = (Window.partitionBy(_BKT).orderBy(key, *tiebreaks)
            .rowsBetween(Window.unboundedPreceding, 0))
    return (b.join(F.broadcast(boff), _BKT)
            .withColumn(out, (F.col(_OFF)
                              + F.sum(val).over(w_in)).cast("long"))
            .drop(_BKT, _OFF))
