"""Window functions & sessionization (SURVEY.md §2.5).

The reference computes window-style results at data-generation time
(lag-based dwell times, dataset_generator.py:273-274; session bounds,
:263-321); here they're derived at query time with window functions and
a gap-based sessionizer.

All window frames carry a deterministic total order (timestamp + id
tie-break) so results are reproducible across engines and runs — an
under-specified ORDER BY is a correctness bug at any scale.

Range-frame (time-interval) moving aggregates and first/last/nth
navigation (w8–w15) are the remaining window shapes after the
lag/lead/rank/cumsum/sessionize surface. Range frames order by exact
integer epoch micros (unix_micros / epoch_us): ordering a range frame
by a float epoch or truncated seconds silently changes frame
membership between engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_analytics_spark.catalog import load_table
from big_data_analytics_spark.functions.money import money_cents
from big_data_analytics_spark.queries import query


# --------------------------------------------------------------------
# W1 — lag feature. Reference: hour_lag1 = np.roll(y,1); Lag1..Lag5
# columns (SURVEY §2.5 W1).
# --------------------------------------------------------------------
@query(
    "w1_event_lag_delta",
    oracle="""
    SELECT event_id, user_id, value,
           value - LAG(value) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS delta
    FROM events
    """,
)
def w1_event_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lag-1 difference over event time."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id", "user_id", "value",
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
    )


# --------------------------------------------------------------------
# W5 — running (cumulative) sum. Reference: np.cumsum of explained
# variance (SURVEY §2.5 W5). DECIMAL accumulator: a running double sum
# is association-order-dependent (Spark folds sequentially, other
# engines use segment trees) — decimal makes it exact everywhere.
# --------------------------------------------------------------------
@query(
    "w5_customer_running_spend",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT))
                OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) / 100.0 AS running_spend
    FROM orders
    """,
)
def w5_customer_running_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer running spend in order-date order."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_orderkey", "o_custkey",
        (F.sum(money_cents("o_totalprice")).over(w).cast("double") / 100.0)
        .alias("running_spend"),
    )


# --------------------------------------------------------------------
# W4/W6 — top-1-per-group via ranked window (argmax / last-by-order).
# Reference: price_history[-1] after sort (dataset_generator.py:208-209),
# np.argmax (SURVEY §2.5 W4, W6).
# --------------------------------------------------------------------
@query(
    "w4_latest_order_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey AS latest_orderkey,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS latest_orderdate,
           o_totalprice AS latest_total
    FROM (
        SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders
    ) WHERE rn = 1
    """,
)
def w4_latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-element-by-order per key (row_number window + rank filter)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("latest_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss")
            .alias("latest_orderdate"),
            F.col("o_totalprice").alias("latest_total"),
        )
    )


# --------------------------------------------------------------------
# W7 — gap-based batch sessionization. Reference sessions carry
# start/end/duration generated upfront (dataset_generator.py:263-321);
# here sessions are *derived* from the raw event stream: a >30-min gap
# starts a new session (lag + running count), then one row per session.
# Streaming twin: session_window() in streaming/events.py.
# --------------------------------------------------------------------
@query(
    "w7_sessionize_events",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id)
                         <= 1800000000
                    THEN 0 ELSE 1 END AS is_new
        FROM events
    ), numbered AS (
        SELECT user_id, ts, event_id,
               CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        FROM flagged
    )
    SELECT user_id, session_seq,
           COUNT(*) AS n_events,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
           epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us
    FROM numbered
    GROUP BY user_id, session_seq
    """,
)
def w7_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization: lag → new-session flag → running count as
    session id → per-session aggregates. Duration in exact integer
    microseconds (unix_micros) to stay engine-portable."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_us = F.lag(F.unix_micros(F.col("ts"))).over(w)
    is_new = F.when(
        F.unix_micros(F.col("ts")) - prev_us <= 30 * 60 * 1_000_000, 0
    ).otherwise(1)
    return (
        ev.withColumn("is_new", is_new)
        .withColumn("session_seq", F.sum("is_new").over(cum))
        .groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .alias("session_start"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .alias("session_end"),
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("duration_us"),
        )
    )


# --------------------------------------------------------------------
# Ranking functions (SURVEY §2.5: absent in the reference, free
# built-ins for the extension surface): rank / dense_rank / ntile.
# --------------------------------------------------------------------
@query(
    "wr_rank_functions",
    oracle="""
    SELECT o_custkey, o_orderkey,
           RANK() OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk,
           NTILE(4) OVER w AS quartile,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn
    FROM orders
    WHERE o_custkey % 100 = 0
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def wr_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank/ntile/row_number over a deterministic
    (price desc, key) order."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") % 100 == 0)
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return o.select(
        "o_custkey", "o_orderkey",
        # cast to long: Spark rank functions return int, DuckDB BIGINT
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.row_number().over(w).cast("long").alias("rn"),
    )


_HOUR_US = 3_600_000_000


@query(
    "w8_moving_hour_stats",
    oracle=f"""
    SELECT event_id, user_id,
           CAST(SUM(CAST(FLOOR(value*10000.0+0.5) AS BIGINT))
                OVER w AS DOUBLE) / 10000.0 AS moving_sum,
           COUNT(*) OVER w AS n_window
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN {_HOUR_US} PRECEDING AND CURRENT ROW)
    """,
)
def w8_moving_hour_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing-hour moving sum/count via a RANGE frame over
    epoch micros. Peers at the same instant share a frame, so no row
    tie-break is needed for determinism; the sum is 1e-4 fixed point
    (exact under any frame evaluation order)."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-_HOUR_US, 0)
    )
    return ev.select(
        "event_id", "user_id",
        (F.sum(F.floor(F.col("value") * 10000.0 + F.lit(0.5))).over(w)
         .cast("double") / F.lit(10000.0)).alias("moving_sum"),
        F.count(F.lit(1)).over(w).alias("n_window"),
    )


@query(
    "w10_percent_rank_cume",
    oracle="""
    SELECT s_suppkey, s_name,
           ROUND(PERCENT_RANK() OVER w, 9) AS acctbal_pct_rank,
           ROUND(CUME_DIST() OVER w, 9) AS acctbal_cume_dist
    FROM supplier
    WINDOW w AS (ORDER BY s_acctbal, s_suppkey)
    """,
)
def w10_percent_rank_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-rank functions over a global total order (acctbal with
    key tie-break) — percentile placement of every supplier. Rounded
    to 9 dp: the (rank-1)/(n-1) division is the only float op.

    Because the ordering includes the unique key, RANK == ROW_NUMBER,
    so PERCENT_RANK = (i-1)/(n-1) and CUME_DIST = i/n over the exact
    global row number — computed in the stitched two-level form
    (operators/ranking.py): supplier grows linearly with SF, so the
    naive total-order window is a single-task sort of a billion rows
    at SF100k."""
    from big_data_analytics_spark.operators.ranking import (
        stitched_row_number,
    )

    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal")
    ranked = stitched_row_number(s, "s_acctbal", ["s_suppkey"],
                                 out="i", total_col="n")
    # n == 1 would make (i-1)/(n-1) = 0/0 = NaN; window-function
    # semantics define the single-row PERCENT_RANK as 0.0.
    return ranked.select(
        "s_suppkey", "s_name",
        F.round(F.when(F.col("n") > 1,
                       (F.col("i") - 1).cast("double")
                       / (F.col("n") - 1).cast("double"))
                .otherwise(F.lit(0.0)), 9)
        .alias("acctbal_pct_rank"),
        F.round(F.col("i").cast("double") / F.col("n").cast("double"), 9)
        .alias("acctbal_cume_dist"),
    )


@query(
    "w9_first_last_nth_order",
    oracle="""
    SELECT o_custkey,
           FIRST_VALUE(o_orderkey) OVER w AS first_order,
           LAST_VALUE(o_orderkey) OVER w AS last_order,
           NTH_VALUE(o_orderkey, 2) OVER w AS second_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey) = 1
    """,
)
def w9_first_last_nth_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer first/last/second order keys: navigation functions
    over an unbounded frame with a total (date, key) order, collapsed
    to one row per customer. A customer with one order gets NULL
    second_order in both engines."""
    o = load_table(spark, sf_dir, "orders")
    order_cols = [F.asc("o_orderdate"), F.asc("o_orderkey")]
    w_full = (
        Window.partitionBy("o_custkey").orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    w_rn = Window.partitionBy("o_custkey").orderBy(*order_cols)
    return (
        o.select(
            "o_custkey",
            F.first("o_orderkey").over(w_full).alias("first_order"),
            F.last("o_orderkey").over(w_full).alias("last_order"),
            F.nth_value("o_orderkey", 2).over(w_full).alias("second_order"),
            F.row_number().over(w_rn).alias("__rn"),
        )
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


@query(
    "w11_session_duration_percentiles",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id)
                        > 1800000000
                    OR LAG(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_new,
               event_id
        FROM events
    ), sess AS (
        SELECT user_id,
               SUM(is_new) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS session_no,
               ts
        FROM marked
    ), durations AS (
        SELECT user_id, session_no,
               epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS dur_us
        FROM sess GROUP BY user_id, session_no
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           ROUND(quantile_cont(dur_us / 60000000.0, 0.5), 4) AS p50_min,
           ROUND(quantile_cont(dur_us / 60000000.0, 0.9), 4) AS p90_min,
           ROUND(quantile_cont(dur_us / 60000000.0, 0.99), 4) AS p99_min
    FROM durations
    """,
)
def w11_session_duration_percentiles(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """SLA-style percentile summary of session durations: the w7
    sessionization (30-min gap, cumulative-flag session ids) rolled
    up to exact p50/p90/p99 minutes. One exchange on user_id serves
    the lag, the session numbering, and the per-session min/max; the
    final percentile is over the (small) session-duration relation.
    Round-4 interpolated percentiles — the a8 convention."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_us = F.lag(F.unix_micros("ts")).over(w)
    marked = ev.select(
        "user_id", "ts",
        F.when(prev_us.isNull()
               | (F.unix_micros("ts") - prev_us > 1_800_000_000), 1)
        .otherwise(0).alias("is_new"), "event_id")
    sess = marked.select(
        "user_id", "ts",
        F.sum("is_new").over(
            w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_no"))
    durations = sess.groupBy("user_id", "session_no").agg(
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
        .alias("dur_us"))
    mins = F.col("dur_us") / 60_000_000.0
    return durations.agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.round(F.percentile(mins, F.lit(0.5)), 4).alias("p50_min"),
        F.round(F.percentile(mins, F.lit(0.9)), 4).alias("p90_min"),
        F.round(F.percentile(mins, F.lit(0.99)), 4).alias("p99_min"),
    )


@query(
    "w12_cumulative_distinct_users",
    oracle="""
    WITH fu AS (
        SELECT user_id, MIN(date_trunc('day', ts)) AS d0
        FROM events GROUP BY user_id
    ), nd AS (
        SELECT d0, COUNT(*) AS new_users FROM fu GROUP BY d0
    )
    SELECT strftime(d0, '%Y-%m-%d') AS day, new_users,
           CAST(SUM(new_users) OVER (ORDER BY d0
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS BIGINT)
               AS cum_users
    FROM nd
    """,
)
def w12_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new users and the cumulative distinct-user count — the
    growth-curve query. A naive per-day COUNT(DISTINCT ... WHERE ts <=
    day) rescans the fact table once per day; this reduces it to
    first-touch attribution (min day per user: ONE hash aggregate),
    a per-day count, and a running sum over |days| rows. The only
    unpartitioned window runs over the day axis (bounded: 30 here,
    3650 for a decade of data), never over users or events."""
    ev = load_table(spark, sf_dir, "events")
    fu = (ev.groupBy("user_id")
          .agg(F.min(F.date_trunc("day", "ts")).alias("d0")))
    nd = fu.groupBy("d0").agg(F.count(F.lit(1)).alias("new_users"))
    w = Window.orderBy("d0").rowsBetween(Window.unboundedPreceding, 0)
    return nd.select(
        F.date_format("d0", "yyyy-MM-dd").alias("day"),
        "new_users",
        F.sum("new_users").over(w).alias("cum_users"))


@query(
    "w14_session_window_batch",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id)
                         <= 1800000000
                    THEN 0 ELSE 1 END AS is_new
        FROM events
    ), numbered AS (
        SELECT user_id, ts,
               CAST(SUM(is_new) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS session_seq
        FROM flagged
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           strftime(MAX(ts) + INTERVAL 30 MINUTE,
                    '%Y-%m-%d %H:%M:%S.%f') AS session_end,
           COUNT(*) AS n_events
    FROM numbered GROUP BY user_id, session_seq
    ORDER BY user_id, session_start
    """,
)
def w14_session_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BUILT-IN ``session_window`` aggregate in BATCH mode — the
    third leg of the sessionization triangle: w7 derives sessions
    with manual lag/flag/cumsum windows, sm2 runs session_window
    under streaming state, w14 grades the same built-in on a bounded
    input (every session finalized, no watermark cut). All three must
    agree; the shared oracle states gap semantics once (session end =
    last event + 30-minute gap, a new session when the inter-event
    gap exceeds it).

    Plan shape: session_window plans as a single aggregation over
    (user, merged-window) — one exchange on user_id, the window merge
    happens inside the aggregate; no self-join, no second shuffle.
    At 100 TB it inherits partial aggregation and AQE sizing like any
    groupBy."""
    from big_data_analytics_spark.streaming.events import session_windows

    ev = load_table(spark, sf_dir, "events")
    return (session_windows(ev, gap="30 minutes")
            .select(
                "user_id",
                F.date_format("session_start", "yyyy-MM-dd HH:mm:ss.SSSSSS")
                .alias("session_start"),
                F.date_format("session_end", "yyyy-MM-dd HH:mm:ss.SSSSSS")
                .alias("session_end"),
                "n_events")
            .orderBy("user_id", "session_start"))


@query(
    "w15_rolling_7d_distinct_users",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d,
               user_id
        FROM events
    ), dau AS (
        SELECT d, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
        FROM ud GROUP BY d
    ), win AS (
        SELECT ud.user_id, ud.d + CAST(o.o AS INT) AS rd
        FROM ud, range(0, 7) o(o)
    ), wau AS (
        SELECT rd, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau_7d
        FROM win GROUP BY rd
    )
    SELECT strftime(dau.d, '%Y-%m-%d') AS day, dau.dau, wau.wau_7d,
           CAST(FLOOR(1000000000.0 * dau.dau / wau.wau_7d) AS BIGINT)
               AS stickiness_q
    FROM dau JOIN wau ON wau.rd = dau.d
    """,
)
def w15_rolling_7d_distinct_users(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users per day (WAU) alongside the daily
    count (DAU) and the DAU/WAU stickiness ratio — the product-
    analytics query every events pipeline serves, and a window shape
    NOTHING else in the registry covers: sliding-window COUNT DISTINCT
    is not expressible as a running sum (distinct doesn't decompose),
    and the naive form rescans the fact table once per day.

    The scalable reduction: dedup events to user-DAYS first (one
    map-side-combinable exchange on (user, day) — the relation is
    |users|·|active days|, orders of magnitude under |events|), then
    EXPLODE each user-day into the 7 report days it contributes to
    (the contribution trick: day d serves report days d..d+6, so the
    7x blow-up happens on the deduped relation, not the events), and
    count distinct users per report day (Spark's two-phase distinct
    aggregate — partial dedup before the exchange). Phantom report
    days past the data's end drop in the DAU join. No per-day rescan,
    no unbounded window over users, and the 7x factor is the window
    length — at 100 TB you'd pre-aggregate user-days incrementally
    and this query never touches raw events at all. stickiness_q
    floor-quantizes DAU/WAU to the 1e-9 grid from exact counts."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(F.to_date("ts").alias("d"), "user_id").distinct()
    dau = (ud.groupBy("d")
           .agg(F.countDistinct("user_id").cast("long").alias("dau")))
    win = ud.select(
        F.explode(F.expr(
            "sequence(d, date_add(d, 6), interval 1 day)")).alias("rd"),
        "user_id")
    wau = (win.groupBy("rd")
           .agg(F.countDistinct("user_id").cast("long").alias("wau_7d")))
    return (dau.join(wau, dau.d == wau.rd)
            .select(F.date_format("d", "yyyy-MM-dd").alias("day"),
                    "dau", "wau_7d",
                    F.floor(F.lit(1_000_000_000.0) * F.col("dau")
                            / F.col("wau_7d")).cast("long")
                    .alias("stickiness_q")))
