"""Time-series queries: per-user smoothing and trend operators (ts1
EMA, ts4 Holt, ts8 Theil-Sen), regular-grid resampling with linear gap
interpolation (ts2), rolling-window z-score anomaly detection (ts3),
autocorrelation (ts5), seasonal decomposition (ts6) and CUSUM change
points (ts7).

EMA is a *sequential* recursion (y_t depends on y_{t-1}), which no
ANSI window frame expresses — but it IS a deterministic left fold, and
DuckDB's ``list_reduce`` over a per-key ordered array runs the exact
same IEEE op sequence (``alpha*x + (1-alpha)*acc``) as the pandas
``ewm(adjust=False)`` recursion inside the Spark operator (with
adjust=False the normalizing weight is exactly 1.0, so pandas'
``old_wt*avg + new_wt*x`` is the same two flops). Identical input
doubles + identical op order = bit-identical outputs, so the driver
gets a hard value-hash row with **no rounding at all** — the fold's
raw doubles compare exactly. (The array-at-once oracle is fine at
fixture scale; the Spark side never materializes a key's history
outside one Arrow batch, and the skew path stitches ranges —
operators/timeseries.py.)

Preconditions checked on the driver testdata: ``value`` has no NULLs
and (user_id, ts, event_id) is unique, so both engines sort
identically and the fold sees the same sequence.

ts2 and ts3 are single-exchange window plans: one shuffle on user_id,
then ordered window functions within each partition — the shape that
holds at 100 TB because state per key is bounded (ts2: the per-user
hour grid; ts3: a 20-row frame). The anomaly test is carried out
entirely in integer arithmetic (see ts3) so the >3-sigma decision is
bit-identical on any engine at any parallelism — no floating-point
variance/stddev accumulation order to worry about.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_analytics_spark.catalog import load_table
from big_data_analytics_spark.operators.timeseries import ema, holt_linear
from big_data_analytics_spark.queries import query


@query(
    "ts1_ema_user_value",
    oracle="""
    SELECT user_id,
           list_reduce(list(value ORDER BY ts, event_id),
                       (acc, x) -> 0.3*x + 0.7*acc) AS final_ema,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY user_id
    """,
)
def ts1_ema_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EMA (alpha=0.3) of event values over event time —
    summarized per user (last smoothed value + event count) so the
    result is small and deterministic. Unrounded: the sequential fold
    is bit-reproducible across engines (module docstring)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value")
    smoothed = ema(ev, key="user_id", ts="ts", value="value",
                   alpha=0.3, tiebreak="event_id")
    return smoothed.groupBy("user_id").agg(
        F.max_by("ema", F.struct(F.col("ts"), F.col("event_id")))
        .alias("final_ema"),
        F.count(F.lit(1)).alias("n_events"),
    )


_HOLT_A = 0.4
_HOLT_B = 0.3


@query(
    "ts4_holt_trend",
    oracle=f"""
    WITH s AS (
        SELECT user_id,
               list_reduce(
                   list([value, 0.0]::DOUBLE[] ORDER BY ts, event_id),
                   (acc, e) -> [
                       {_HOLT_A}*e[1]
                       + {1.0 - _HOLT_A}*(acc[1] + acc[2]),
                       {_HOLT_B}*({_HOLT_A}*e[1]
                                  + {1.0 - _HOLT_A}*(acc[1] + acc[2])
                                  - acc[1])
                       + {1.0 - _HOLT_B}*acc[2]]) AS lb,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY user_id
    )
    SELECT user_id, lb[1] AS final_level, lb[2] AS final_trend,
           lb[1] + 3.0 * lb[2] AS forecast_3,
           n_events
    FROM s
    """,
)
def ts4_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear (level+trend) exponential smoothing per user
    (alpha={A}, beta={B}) over the event-time value series, emitting
    the final state and the 3-step-ahead forecast. Extends ts1's
    single-recurrence EMA to the COUPLED two-state recursion — the
    workhorse of operational forecasting. Unrounded: the sequential
    fold is bit-reproducible across engines when the operation order
    is spelled identically (the DuckDB oracle's list_reduce lambda
    recomputes the new level inside the trend update exactly as the
    Python loop does).

    Same scale anatomy as ts1: one shuffle on the key, per-key
    sequential Arrow-batched recursion; a skewed key would use the
    range-stitching in operators/timeseries.py (the coupled
    recurrence is linear, so 2x2 matrix carries compose across
    ranges)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value")
    out = holt_linear(ev, key="user_id", ts="ts", value="value",
                      alpha=_HOLT_A, beta=_HOLT_B, tiebreak="event_id")
    return out.select(
        "user_id", "final_level", "final_trend",
        (F.col("final_level") + 3.0 * F.col("final_trend"))
        .alias("forecast_3"),
        F.col("n").alias("n_events"))


ts4_holt_trend.__doc__ = ts4_holt_trend.__doc__.format(
    A=_HOLT_A, B=_HOLT_B)


_SEN_Q = 1_000_000  # slope micro-grid: micro-(value-cents)/day


@query(
    "ts8_theil_sen_trend",
    oracle=f"""
    WITH daily AS (
        SELECT user_id, date_trunc('day', ts) AS d,
               CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT))
                   AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), pairs AS (
        SELECT a.user_id,
               CAST(FLOOR({_SEN_Q} * (b.c - a.c)
                          / date_diff('day', a.d, b.d)) AS BIGINT)
                   AS slope_q
        FROM daily a JOIN daily b
          ON b.user_id = a.user_id AND b.d > a.d
    ), ranked AS (
        SELECT user_id, slope_q,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY slope_q) AS rk,
               COUNT(*) OVER (PARTITION BY user_id) AS np
        FROM pairs
    ), med AS (
        SELECT user_id, slope_q AS sen_slope_q, np
        FROM ranked WHERE rk = (np + 1) // 2
    )
    SELECT d.user_id,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           m.np AS n_pairs,
           m.sen_slope_q
    FROM daily d JOIN med m USING (user_id)
    GROUP BY d.user_id, m.np, m.sen_slope_q
    """,
)
def ts8_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per user: the median of all pairwise
    slopes of the user's daily spend series — the standard
    outlier-resistant alternative to ts4's least-squares-flavored
    Holt trend (a single spiked day moves an OLS slope arbitrarily,
    but moves the pairwise-slope MEDIAN not at all; breakdown point
    ~29%). Each pairwise slope is the exact rational (cents_j -
    cents_i) / (days_j - days_i) floor-quantized to a 1e-6 grid, and
    the per-user median is the EXACT lower median (rank (n+1)//2
    over the sorted quantized slopes — the a8 exact-percentile
    discipline, no interpolation, no float comparator), so the whole
    estimator is integer-deterministic on both engines.

    Scale shape: the daily rollup is one map-side-combinable
    groupBy; the pair expansion is a per-user self-join whose fan-out
    is bounded by the per-user DAY count (~days^2/2 pairs per user,
    independent of event volume — the gr5 bounded-expansion class,
    and the reason the expansion runs on the daily rollup, never raw
    events); the median is one per-user window over the bounded pair
    set. At 100 TB: users parallelize embarrassingly, and per-user
    cost is capped by the calendar, not the data."""
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("d"))
        .agg(F.sum(F.floor(F.col("value") * 100.0 + 0.5).cast("long"))
             .cast("long").alias("c")))
    a = daily.select("user_id", F.col("d").alias("d1"),
                     F.col("c").alias("c1"))
    b = daily.select("user_id", F.col("d").alias("d2"),
                     F.col("c").alias("c2"))
    pairs = (a.join(b, "user_id")
             .filter(F.col("d2") > F.col("d1"))
             .select("user_id",
                     F.floor(F.lit(_SEN_Q) * (F.col("c2") - F.col("c1"))
                             / F.datediff("d2", "d1")).cast("long")
                     .alias("slope_q")))
    w = Window.partitionBy("user_id").orderBy("slope_q")
    med = (pairs
           .withColumn("rk", F.row_number().over(w))
           .withColumn("np", F.count(F.lit(1)).over(
               Window.partitionBy("user_id")))
           .filter(F.col("rk") == F.expr("(np + 1) div 2"))
           .select("user_id", F.col("slope_q").alias("sen_slope_q"),
                   F.col("np").cast("long").alias("n_pairs")))
    ndays = daily.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"))
    return (ndays.join(med, "user_id")
            .select("user_id", "n_days", "n_pairs", "sen_slope_q"))


@query(
    "ts2_hourly_gap_fill",
    oracle="""
    WITH known AS (
        SELECT user_id, date_trunc('hour', ts) AS h,
               SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS vc
        FROM events GROUP BY 1, 2
    ), span AS (
        SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM known GROUP BY 1
    ), grid AS (
        SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        FROM span
    ), joined AS (
        SELECT g.user_id, g.h,
               CAST(epoch(g.h) AS BIGINT) / 3600 AS hi, k.vc
        FROM grid g LEFT JOIN known k
          ON g.user_id = k.user_id AND g.h = k.h
    ), ctx AS (
        SELECT user_id, h, hi, vc,
               last_value(vc IGNORE NULLS) OVER w_prev AS pv,
               last_value(CASE WHEN vc IS NOT NULL THEN hi END IGNORE NULLS)
                   OVER w_prev AS ph,
               first_value(vc IGNORE NULLS) OVER w_next AS nv,
               first_value(CASE WHEN vc IS NOT NULL THEN hi END IGNORE NULLS)
                   OVER w_next AS nh
        FROM joined
        WINDOW w_prev AS (PARTITION BY user_id ORDER BY h
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               w_next AS (PARTITION BY user_id ORDER BY h
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    ), filled AS (
        SELECT user_id, vc,
               CASE WHEN vc IS NOT NULL THEN vc
                    ELSE CAST(FLOOR(
                        CAST(pv AS DOUBLE)
                        + (CAST(nv AS DOUBLE) - CAST(pv AS DOUBLE))
                          * (CAST(hi AS DOUBLE) - CAST(ph AS DOUBLE))
                          / (CAST(nh AS DOUBLE) - CAST(ph AS DOUBLE))
                        + 0.5) AS BIGINT)
               END AS fc
        FROM ctx
    )
    SELECT user_id,
           COUNT(*) AS n_hours,
           CAST(SUM(CASE WHEN vc IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_observed,
           CAST(SUM(CASE WHEN vc IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_gap_filled,
           ROUND(CAST(SUM(fc) AS DOUBLE) / 100.0, 2) AS total_value
    FROM filled GROUP BY user_id
    """,
)
def ts2_hourly_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample each user's event stream to an hourly grid over their
    observed span and LINEARLY INTERPOLATE missing hours, reporting
    per-user grid size, observed/filled counts, and the exact total.

    Plan: one aggregate to hourly cents (exact integers), a per-user
    span aggregate whose `sequence()` explode builds the grid
    driver-free, a co-partitioned left join back to the hourly
    values, and two frame-complementary windows (last/first with
    ignorenulls) that provide the bracketing observations for each
    gap — all on the single user_id exchange. Interior gaps always
    have both brackets because the grid spans exactly [min, max]
    observed hours. The interpolated value is computed in an
    expression written identically in both engines (same IEEE op
    order), then fixed-pointed per row with floor(x+0.5) so the
    per-user SUM is an order-independent integer."""
    from big_data_analytics_spark.operators.joins import sized_side

    ev = load_table(spark, sf_dir, "events")
    n_ev = ev.count()  # parquet metadata; bounds the hourly aggregate
    known = (ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(F.sum(F.floor(F.col("value") * 100.0 + 0.5).cast("long"))
             .alias("vc")))
    # The hour-grid explode AMPLIFIES each user row to their whole
    # span, and the two bracketing windows run on that amplified
    # relation — but AQE sizes the span aggregate's exchange by its
    # (tiny) INPUT bytes and coalesced it to ONE task at sf0.1, so
    # the explode + join + windows all serialized (the v3/cf1
    # fan-out-blindness class; measured: the final window stage ran
    # 1 task for 0.87 s on 32 idle cores). An explicit volume-sized
    # repartition pins the width; groupBy/explode/join/windows all
    # reuse the one user_id exchange as before.
    para = spark.sparkContext.defaultParallelism
    n_parts = int(max(para, n_ev * 24 // (64 << 20) + 1))
    span = (known.repartition(n_parts, "user_id")
            .groupBy("user_id").agg(
                F.min("h").alias("h0"), F.max("h").alias("h1")))
    grid = span.select(
        "user_id",
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR")))
        .alias("h"))
    # the hourly aggregate GROWS with the data; post-agg stats
    # mis-broadcast it at the round-12 10× audit — pin so the join
    # stays the co-partitioned left join the docstring describes
    joined = (grid.join(sized_side(known, n_ev), ["user_id", "h"], "left")
              .select("user_id", "h",
                      (F.unix_timestamp("h") / 3600).cast("long")
                      .alias("hi"),
                      "vc"))
    # Both bracket lookups are CUMULATIVE frames (unbounded preceding,
    # ascending for prev / descending for next): Spark evaluates
    # growing frames incrementally in O(n), while an (unbounded
    # FOLLOWING) frame re-scans the remainder per row — O(n²) per
    # partition, measured 20.9 s vs 0.7 s at sf0.1 for this query.
    w_prev = (Window.partitionBy("user_id").orderBy("h")
              .rowsBetween(Window.unboundedPreceding, 0))
    w_next = (Window.partitionBy("user_id").orderBy(F.desc("h"))
              .rowsBetween(Window.unboundedPreceding, 0))
    hi_obs = F.when(F.col("vc").isNotNull(), F.col("hi"))
    ctx = joined.select(
        "user_id", "vc", "hi",
        F.last("vc", ignorenulls=True).over(w_prev).alias("pv"),
        F.last(hi_obs, ignorenulls=True).over(w_prev).alias("ph"),
        F.last("vc", ignorenulls=True).over(w_next).alias("nv"),
        F.last(hi_obs, ignorenulls=True).over(w_next).alias("nh"))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    interp = (d("pv") + (d("nv") - d("pv")) * (d("hi") - d("ph"))
              / (d("nh") - d("ph")))
    fc = F.when(F.col("vc").isNotNull(), F.col("vc")).otherwise(
        F.floor(interp + 0.5).cast("long"))
    return (ctx.select("user_id", "vc", fc.alias("fc"))
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_hours"),
                 F.sum(F.col("vc").isNotNull().cast("long"))
                 .cast("long").alias("n_observed"),
                 F.sum(F.col("vc").isNull().cast("long"))
                 .cast("long").alias("n_gap_filled"),
                 F.round(F.sum("fc").cast("double") / 100.0, 2)
                 .alias("total_value")))


@query(
    "ts3_rolling_zscore",
    oracle="""
    WITH v AS (
        SELECT user_id, ts, event_id,
               CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS vc
        FROM events
    ), frames AS (
        SELECT user_id, vc,
               COUNT(vc) OVER w AS n,
               SUM(vc) OVER w AS s,
               SUM(vc * vc) OVER w AS s2
        FROM v
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN n >= 10 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_evaluated,
           CAST(SUM(CASE WHEN n >= 10
                          AND (n - 1) * (n * vc - s) * (n * vc - s)
                              > 9 * n * (n * s2 - s * s)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
    FROM frames GROUP BY user_id
    """,
)
def ts3_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection: for each event, compare its
    value against the mean/stddev of the user's previous 20 events
    (frame excludes the current row; evaluated only once 10 history
    rows exist) and count |z| > 3 anomalies per user.

    The >3-sigma test is algebraically cleared of divisions:
    z^2 > 9 <=> (n-1)(n*v - S)^2 > 9n(n*S2 - S^2) with S, S2 exact
    integer cents sums over the frame — no floating point anywhere,
    so the decision is bit-identical across engines and
    partitionings (the floating z-score would flip near the
    boundary under different summation orders). One exchange on
    user_id; the frame is O(20) state per row, streaming-friendly
    (the same statistic runs under applyInPandasWithState)."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "user_id", "ts", "event_id",
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("vc"))
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-20, -1))
    frames = v.select(
        "user_id", "vc",
        F.count("vc").over(w).alias("n"),
        F.sum("vc").over(w).alias("s"),
        F.sum(F.col("vc") * F.col("vc")).over(w).alias("s2"))
    n, s, s2, vc = (F.col(c) for c in ("n", "s", "s2", "vc"))
    dev = n * vc - s
    is_anom = (n >= 10) & ((n - 1) * dev * dev > 9 * n * (n * s2 - s * s))
    return frames.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum((n >= 10).cast("long")).cast("long").alias("n_evaluated"),
        F.sum(is_anom.cast("long")).cast("long").alias("n_anomalies"))


_ACF_MAX_LAG = 7


@query(
    "ts5_acf",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5)
                    AS BIGINT)) AS BIGINT) AS vc
        FROM orders GROUP BY 1
    ), seq AS (
        SELECT vc, ROW_NUMBER() OVER (ORDER BY d) AS i FROM daily
    ), lags AS (
        SELECT k FROM range(1, {_ACF_MAX_LAG} + 1) t(k)
    )
    SELECT k AS lag,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CAST(a.vc AS HUGEINT) * b.vc) AS VARCHAR)
               AS sum_prod,
           CAST(SUM(a.vc) AS BIGINT) AS sum_lead,
           CAST(SUM(b.vc) AS BIGINT) AS sum_lag
    FROM lags
    JOIN seq a ON TRUE
    JOIN seq b ON b.i = a.i + k
    GROUP BY k ORDER BY k
    """,
)
def ts5_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation structure of the daily revenue series, as EXACT
    integer sufficient statistics per lag 1..{L}: pair count,
    sum of cross-products, and the two one-sided sums — everything
    r(k) = (n·Σxy − Σx·Σy) / sqrt((n·Σx² − (Σx)²)(n·Σy² − (Σy)²))
    needs, with the single float division left to the consumer (the
    ts3 move: ship the exact integers, not the accumulation-order-
    dependent float). sum_prod rides as an exact decimal
    STRING: daily-revenue cents squared exceeds int64, and a decimal
    column would decay to float in arrow transfer — the digit string
    is the lossless cross-engine carrier. Lag alignment is LEAD over the date-ordered
    daily aggregate — one window pass computes every lag column, no
    self-join, no per-lag scan.

    Scale shape: the daily aggregate is one mergeable groupBy (the
    series is |dates| rows — bounded, thousands at any SF); the lag
    window runs over that tiny relation, and the per-lag rollup is an
    unpivot + one aggregate. The events-scale relation is touched
    exactly once, by the aggregate."""
    dec = "decimal(38,0)"
    daily = (load_table(spark, sf_dir, "orders")
             .groupBy(F.to_date("o_orderdate").alias("d"))
             .agg(F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5)
                        .cast("long")).cast("long").alias("vc")))
    w = Window.orderBy("d")
    leads = daily.select(
        "vc",
        *[F.lead("vc", k).over(w).alias(f"l{k}")
          for k in range(1, _ACF_MAX_LAG + 1)])
    lagged = leads.select(
        "vc",
        F.explode(F.array(*[
            F.struct(F.lit(k).alias("lag"), F.col(f"l{k}").alias("y"))
            for k in range(1, _ACF_MAX_LAG + 1)])).alias("p"))
    pairs = lagged.filter(F.col("p.y").isNotNull())
    return (pairs.groupBy(F.col("p.lag").cast("long").alias("lag"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"),
                 F.sum((F.col("vc").cast(dec) * F.col("p.y")))
                 .cast(dec).cast("string").alias("sum_prod"),
                 F.sum("vc").cast("long").alias("sum_lead"),
                 F.sum("p.y").cast("long").alias("sum_lag"))
            .orderBy("lag"))


ts5_acf.__doc__ = ts5_acf.__doc__.format(L=_ACF_MAX_LAG)


@query(
    "ts6_seasonal_decompose",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5)
                    AS BIGINT)) AS BIGINT) AS vc
        FROM orders GROUP BY 1
    ), ma AS (
        SELECT d, vc,
               CAST(SUM(vc) OVER w AS BIGINT) AS trend7,
               COUNT(*) OVER w AS n_win,
               CAST((d - DATE '1970-01-01') % 7 AS BIGINT) AS wd
        FROM daily
        WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING
                     AND 3 FOLLOWING)
    ), full_win AS (
        SELECT d, vc, trend7, wd,
               CAST(7 * vc - trend7 AS BIGINT) AS detrend7
        FROM ma WHERE n_win = 7
    ), seasonal AS (
        SELECT wd, CAST(SUM(detrend7) AS BIGINT) AS s_num,
               CAST(COUNT(*) AS BIGINT) AS n_w
        FROM full_win GROUP BY 1
    )
    SELECT strftime(f.d, '%Y-%m-%d') AS day,
           f.vc AS revenue_cents,
           f.trend7,
           f.wd,
           f.detrend7,
           s.s_num,
           s.n_w,
           CAST(s.n_w * f.detrend7 - s.s_num AS BIGINT)
               AS remainder_scaled
    FROM full_win f JOIN seasonal s ON f.wd = s.wd
    """,
)
def ts6_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the daily revenue
    series — trend / weekly-seasonal / remainder — in EXACT integers
    (the ts5 discipline: ship order-independent sufficient integers,
    never an accumulation-ordered float). Per full-window day:
    trend7 = Σ of the centered 7-day revenue window (trend = trend7/7),
    detrend7 = 7·vc − trend7 (7× the detrended value),
    (s_num, n_w) = the weekday's detrended sum and count
    (seasonal = s_num/(7·n_w)), and
    remainder_scaled = n_w·detrend7 − s_num (7·n_w× the remainder) —
    every division deferred to the consumer, so the decomposition is
    bit-identical on any engine and any partitioning. Weekday is
    (days-since-epoch mod 7): pure integer arithmetic, immune to the
    engines' dayofweek convention mismatch.

    Scale shape: the orders-scale relation is touched exactly once by
    the mergeable daily aggregate; the centered-MA window and the
    weekday rollup run over the bounded |dates|-row series (thousands
    of rows at any SF — the documented bounded-window exception, ts5's
    precedent), and the 7-row seasonal table broadcasts back."""
    from pyspark.sql import Window

    daily = (load_table(spark, sf_dir, "orders")
             .groupBy(F.to_date("o_orderdate").alias("d"))
             .agg(F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5)
                        .cast("long")).cast("long").alias("vc")))
    w = Window.orderBy("d").rowsBetween(-3, 3)
    ma = (daily
          .withColumn("trend7", F.sum("vc").over(w).cast("long"))
          .withColumn("n_win", F.count(F.lit(1)).over(w))
          .withColumn("wd", (F.datediff(F.col("d"),
                                        F.lit("1970-01-01").cast("date"))
                             % 7).cast("long"))
          .filter(F.col("n_win") == 7)
          .withColumn("detrend7",
                      (F.lit(7) * F.col("vc") - F.col("trend7"))
                      .cast("long")))
    seasonal = (ma.groupBy("wd")
                .agg(F.sum("detrend7").cast("long").alias("s_num"),
                     F.count(F.lit(1)).cast("long").alias("n_w")))
    return (ma.join(F.broadcast(seasonal), "wd")
            .select(F.date_format("d", "yyyy-MM-dd").alias("day"),
                    F.col("vc").alias("revenue_cents"),
                    "trend7", "wd", "detrend7", "s_num", "n_w",
                    (F.col("n_w") * F.col("detrend7") - F.col("s_num"))
                    .cast("long").alias("remainder_scaled")))


_CUSUM_K = 500     # allowance above the user mean, cents
_CUSUM_H = 20_000  # alarm threshold, cents


@query(
    "ts7_cusum_changepoint",
    oracle=f"""
    WITH v AS (
        SELECT user_id, ts, event_id,
               CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS vc
        FROM events
    ), st AS (
        SELECT user_id, ts, event_id, vc,
               COUNT(*) OVER (PARTITION BY user_id) AS n,
               SUM(vc) OVER (PARTITION BY user_id) AS s
        FROM v
    ), cum AS (
        SELECT *, SUM(n * vc - s - {_CUSUM_K} * n) OVER w AS c
        FROM st
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING)
    ), mins AS (
        SELECT *, MIN(c) OVER w AS cmin
        FROM cum
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING)
    ), su AS (
        SELECT user_id, event_id, n,
               c - LEAST(0, cmin) AS s_t
        FROM mins
    )
    SELECT user_id,
           CAST(MAX(n) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN s_t > {_CUSUM_H} * n THEN 1 ELSE 0 END)
                AS BIGINT) AS n_alarms,
           CAST(MAX(s_t) // MAX(n) AS BIGINT) AS cusum_peak_cents,
           CAST(MIN(CASE WHEN s_t > {_CUSUM_H} * n THEN event_id END)
                AS BIGINT) AS first_alarm_event_id
    FROM su GROUP BY user_id
    """,
)
def ts7_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM changepoint detection per user over the event
    value stream: S_t = max(0, S_{t-1} + (x_t − μ_u − k)) with the
    user's own mean as the in-control level, allowance k = $5.00 and
    alarm threshold h = $200.00. The recursion is NOT executed
    sequentially — the Lindley closed form (the ecom inventory / A17
    precedent) turns it into two cumulative windows:
    S_t = C_t − min(0, min_{j≤t} C_j) over the deviation prefix sums
    C. Everything stays in int64: the per-event deviation is scaled by
    the user's event count n (d_t = n·x_t − Σx − k·n clears the μ_u =
    Σx/n division exactly, the ts3 move), so the alarm decision
    S_t > h·n is an integer comparison — bit-identical on any engine —
    and the reported peak is de-scaled by one final non-negative floor
    division. Per-user output: event count, alarm count, the CUSUM
    peak in cents, and the first alarming event id (NULL when the user
    never crosses).

    Scale shape: one exchange on user_id serves every window (the two
    per-user aggregates, the two cumulative frames, and the final
    rollup all share the partitioning); per-row state is O(1). At
    100 TB this is the standard sort-within-partition streaming scan —
    the same statistic runs incrementally under
    applyInPandasWithState with (C, min-prefix) as the two state
    longs.

    INT64 HEADROOM BOUND: the n-scaled deviation prefix sum grows as
    |C_t| ≤ n²·(2·max|x_cents| + k) per user — bit-exact int64 holds
    only while that bound clears 2^62. For $10k-magnitude values
    that is ~n ≤ 1.5M events per user; a user beyond it would wrap on
    Spark but widen to HUGEINT on DuckDB, silently diverging the hash
    gate, so the bound is GUARDED at runtime: the prefix-sum column
    itself is wrapped in a headroom check (raise_error on breach —
    wrapping the used column, not a free-floating assert column,
    because Catalyst prunes unused columns and would drop the
    guard)."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "user_id", "ts", "event_id",
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("vc"))
    w_all = Window.partitionBy("user_id")
    w_cum = (Window.partitionBy("user_id").orderBy("ts", "event_id")
             .rowsBetween(Window.unboundedPreceding, 0))
    st = v.select(
        "user_id", "ts", "event_id", "vc",
        F.count(F.lit(1)).over(w_all).alias("n"),
        F.sum("vc").over(w_all).alias("s"),
        F.max(F.abs(F.col("vc"))).over(w_all).alias("mx"))
    headroom_ok = (
        (F.col("n").cast("double") * F.col("n").cast("double")
         * (2.0 * F.col("mx").cast("double") + float(_CUSUM_K)))
        < F.lit(float(2 ** 62)))
    cum = st.withColumn(
        "c",
        F.when(headroom_ok,
               F.sum(F.col("n") * F.col("vc") - F.col("s")
                     - F.lit(_CUSUM_K) * F.col("n")).over(w_cum))
        .otherwise(F.raise_error(F.lit(
            "ts7: int64 headroom exceeded — n^2*(2*max|x|+k) >= 2^62; "
            "split the user's series or rescale")).cast("long")))
    su = cum.withColumn("cmin", F.min("c").over(w_cum)).select(
        "user_id", "event_id", "n",
        (F.col("c") - F.least(F.lit(0).cast("long"), F.col("cmin")))
        .alias("s_t"))
    alarm = F.col("s_t") > F.lit(_CUSUM_H) * F.col("n")
    return su.groupBy("user_id").agg(
        F.max("n").cast("long").alias("n_events"),
        F.sum(alarm.cast("long")).cast("long").alias("n_alarms"),
        F.expr("CAST(MAX(s_t) div MAX(n) AS BIGINT)")
        .alias("cusum_peak_cents"),
        F.min(F.when(alarm, F.col("event_id"))).cast("long")
        .alias("first_alarm_event_id"))
