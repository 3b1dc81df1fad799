"""Relational operator inventory — scans, filters, joins, aggregations,
sorts, set ops (SURVEY.md §2.1-2.4, §2.6-2.7) expressed on the driver's
TPC-H-ish fixtures.

Each query mirrors a capability of the reference (citations in
docstrings point at /root/reference). The implementations are plain
declarative DataFrame plans: Catalyst provides predicate pushdown,
column pruning, broadcast-join selection, and partial aggregation —
the properties that keep these plans viable at 100 TB.

Money totals follow the integer-cents convention from
``big_data_analytics_spark.functions.money`` so results are exact and
order-independent (a parallel double-SUM is neither).

The queries from j7 on widen the coverage: multi-way joins, HAVING,
grouping sets (rollup/cube), pivot, percentiles, null handling, type
coercion, array/map functions (SURVEY.md §2.2 P8/P13, §2.4 A8/A13-A15,
§2.7, §2.8 F18-F19 — plus the "free built-ins" SURVEY notes as the
extension surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_analytics_spark.catalog import load_table
from big_data_analytics_spark.functions.money import money_avg, money_sum, scaled_sum
from big_data_analytics_spark.queries import query


# --------------------------------------------------------------------
# A1/P1/S1 — grouped pricing summary (the flagship query).
# Reference analogue: revenue-by-state group-aggregate,
# /root/reference/spark_processing.py:45-52.
# --------------------------------------------------------------------
@query(
    "a1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(FLOOR(l_quantity * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
           CAST(SUM(CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base_price,
           CAST(SUM(CAST(FLOOR(l_extendedprice*(1-l_discount) * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_disc_price,
           CAST(SUM(CAST(FLOOR(l_extendedprice*(1-l_discount)*(1+l_tax) * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_charge,
           CAST(SUM(CAST(FLOOR(l_quantity * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 / COUNT(l_quantity) AS avg_qty,
           CAST(SUM(CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 / COUNT(l_extendedprice) AS avg_price,
           CAST(SUM(CAST(FLOOR(l_discount * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 / COUNT(l_discount) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def a1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter → group → multi-aggregate (sum/avg/count) with exact money
    totals. Partial + final hash aggregation; the shipdate filter and the
    6-column projection push into the Parquet scan."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            money_sum("l_quantity").alias("sum_qty"),
            money_sum("l_extendedprice").alias("sum_base_price"),
            money_sum(disc_price).alias("sum_disc_price"),
            money_sum(charge).alias("sum_charge"),
            money_avg("l_quantity").alias("avg_qty"),
            money_avg("l_extendedprice").alias("avg_price"),
            (scaled_sum("l_discount", 10000) / F.count("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --------------------------------------------------------------------
# J1+A1+O1 — dim ⋈ dim ⋈ fact, grouped revenue. Mirrors the reference's
# revenue-by-state query (/root/reference/spark_processing.py:45-52):
# users⋈transactions → here customer⋈nation⋈orders.
# --------------------------------------------------------------------
@query(
    "j1_revenue_by_nation",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(SUM(CAST(FLOOR(o.o_totalprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS total_revenue,
           COUNT(*) AS order_count
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def j1_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-joins with broadcast dims (nation: 25 rows, customer:
    1% of fact) → grouped exact money sum. At scale: nation always
    broadcasts; customer broadcasts until ~10 GB, then AQE falls back to
    shuffled hash join."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            money_sum("o_totalprice").alias("total_revenue"),
            F.count(F.lit(1)).alias("order_count"),
        )
    )


# --------------------------------------------------------------------
# O1/O2 — top-k by aggregate without a global sort
# (TakeOrderedAndProject). Reference: ORDER BY total_revenue DESC LIMIT
# 10, /root/reference/spark_processing.py:50-51; Mongo $sort+$limit,
# /root/reference/mongodb_pipeline.py:14-15.
# --------------------------------------------------------------------
@query(
    "o1_top_orders_by_revenue",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(FLOOR(l_extendedprice*(1-l_discount) * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
    FROM lineitem
    GROUP BY l_orderkey
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def o1_top_orders_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-sum then top-10; exact decimal revenue makes the ordering
    deterministic, and the orderkey tie-break makes the k-boundary
    stable across engines. Catalyst plans TakeOrderedAndProject — each
    partition keeps only its local top-10."""
    li = load_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.groupBy("l_orderkey")
        .agg(money_sum(revenue).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------
# J2+P9 — left outer join preserving unmatched left rows + fill
# defaults. Reference: mongo_df.join(hbase_df,'user_id','left') +
# fillna({'session_count':0,...}), /root/reference/clv_integration.py:53-54.
# --------------------------------------------------------------------
@query(
    "j2_customer_order_stats",
    oracle="""
    SELECT c.c_custkey,
           c.c_mktsegment,
           COALESCE(o.order_count, 0) AS order_count,
           COALESCE(o.total_spent, 0.0) AS total_spent
    FROM customer c
    LEFT JOIN (
        SELECT o_custkey,
               COUNT(*) AS order_count,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS total_spent
        FROM orders GROUP BY o_custkey
    ) o ON c.c_custkey = o.o_custkey
    """,
)
def j2_customer_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-then-left-join (pre-aggregation shrinks the probe side
    before the join — at 100 TB this is the difference between joining
    the raw fact table and joining one row per customer)."""
    from big_data_analytics_spark.operators.joins import sized_side

    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("order_count"),
        money_sum("o_totalprice").alias("total_spent"),
    )
    # customer-keyed aggregate GROWS with the data; post-agg stats
    # mis-broadcast it (round-12 implicit-broadcast audit) — pin on
    # the orders metadata count (strict upper bound, no FK assumption)
    return (
        customer.select("c_custkey", "c_mktsegment")
        .join(sized_side(per_cust, orders.count()),
              customer.c_custkey == per_cust.o_custkey, "left")
        .drop("o_custkey")
        .na.fill({"order_count": 0, "total_spent": 0.0})
    )


# --------------------------------------------------------------------
# Semi/anti joins — the "converted sessions only" filter family the
# reference expresses as predicates (/root/reference/dataset_generator.py:380).
# --------------------------------------------------------------------
@query(
    "j5_customers_with_urgent_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
    """,
)
def j5_customers_with_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: one probe per customer, no row duplication, the
    orders side reduces to a distinct key set before shuffling."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        customer.join(urgent, customer.c_custkey == urgent.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
    )


@query(
    "j6_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def j6_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (set difference by key)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


# --------------------------------------------------------------------
# P3/P4/P6/P18 — compound predicates + derived column. Reference:
# (year>80)&(mpg>30) pandas filters, conditional expressions
# (/root/reference — SURVEY §2.2 P3-P6, P18).
# --------------------------------------------------------------------
@query(
    "p4_filter_compound",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
           l_extendedprice * (1 - l_discount) AS net_price
    FROM lineitem
    WHERE ((l_quantity > 45 AND l_discount >= 0.05)
           OR l_returnflag = 'R')
      AND NOT l_linestatus = 'O'
      AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                         AND TIMESTAMP '1998-12-31 00:00:00'
    """,
)
def p4_filter_compound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunction/disjunction/negation predicates + BETWEEN + a derived
    column; all conditions push down to the Parquet scan."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (((F.col("l_quantity") > 45) & (F.col("l_discount") >= 0.05))
             | (F.col("l_returnflag") == "R"))
            & ~(F.col("l_linestatus") == "O")
            & F.col("l_shipdate").between("1996-01-01 00:00:00", "1998-12-31 00:00:00")
        )
        .select(
            "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
        )
    )


# --------------------------------------------------------------------
# P10/P11/P12 — conditional expression / binning / recode. Reference:
# np.where(Sales>8,'Yes','No'), pd.cut bins (SURVEY §2.2 P10-P12).
# --------------------------------------------------------------------
@query(
    "p11_part_size_buckets",
    oracle="""
    SELECT CASE WHEN p_size < 10 THEN 'small'
                WHEN p_size < 25 THEN 'medium'
                ELSE 'large' END AS size_bucket,
           CASE WHEN p_type LIKE '%BRASS%' THEN 1 ELSE 0 END AS is_brass,
           COUNT(*) AS n_parts,
           CAST(SUM(CAST(FLOOR(p_retailprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
               / 100.0 / COUNT(p_retailprice) AS avg_price
    FROM part
    GROUP BY 1, 2
    """,
)
def p11_part_size_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """when/otherwise ladder (pd.cut analogue) + string-contains recode,
    grouped."""
    part = load_table(spark, sf_dir, "part")
    bucket = (
        F.when(F.col("p_size") < 10, "small")
        .when(F.col("p_size") < 25, "medium")
        .otherwise("large")
    )
    return (
        part.groupBy(
            bucket.alias("size_bucket"),
            F.when(F.col("p_type").contains("BRASS"), 1).otherwise(0).alias("is_brass"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            money_avg("p_retailprice").alias("avg_price"),
        )
    )


# --------------------------------------------------------------------
# A5/F10 — time-bucketed aggregation. Reference: monthly revenue via
# groupby(order_date.dt.to_period('M')), /root/reference/visualizations.py:86.
# --------------------------------------------------------------------
@query(
    "a5_monthly_revenue",
    oracle="""
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d %H:%M:%S') AS month,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS total_revenue,
           COUNT(*) AS order_count
    FROM orders
    GROUP BY 1
    """,
)
def a5_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_trunc('month') grouping — the monthly-sales-trend rollup."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.date_format(F.date_trunc("month", F.col("o_orderdate")),
                          "yyyy-MM-dd HH:mm:ss").alias("month"))
        .agg(
            money_sum("o_totalprice").alias("total_revenue"),
            F.count(F.lit(1)).alias("order_count"),
        )
    )


# --------------------------------------------------------------------
# A7 — frequency counts (value_counts). Reference:
# college['Elite'].value_counts() (SURVEY §2.4 A7).
# --------------------------------------------------------------------
@query(
    "a7_order_priority_counts",
    oracle="""
    SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n
    FROM orders GROUP BY 1, 2
    """,
)
def a7_order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-column frequency table."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n")
    )


# --------------------------------------------------------------------
# A9 — moments: mean / population & sample variance / stddev.
# Reference: np.mean/np.var/np.std with the ddof pitfall (SURVEY §2.4 A9).
# --------------------------------------------------------------------
@query(
    "a9_quantity_moments",
    oracle="""
    SELECT l_returnflag,
           ROUND(AVG(l_quantity), 6) AS mean_qty,
           ROUND(VAR_POP(l_quantity), 6) AS var_pop_qty,
           ROUND(VAR_SAMP(l_quantity), 6) AS var_samp_qty,
           ROUND(STDDEV_SAMP(l_quantity), 6) AS stddev_qty,
           MIN(l_quantity) AS min_qty,
           MAX(l_quantity) AS max_qty
    FROM lineitem GROUP BY 1
    """,
)
def a9_quantity_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit population vs sample variance (numpy defaults to ddof=0,
    Spark `variance` to ddof=1 — both exposed, rounded to absorb
    merge-order noise in the distributed moment computation)."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.round(F.avg(q), 6).alias("mean_qty"),
        F.round(F.var_pop(q), 6).alias("var_pop_qty"),
        F.round(F.var_samp(q), 6).alias("var_samp_qty"),
        F.round(F.stddev_samp(q), 6).alias("stddev_qty"),
        F.min(q).alias("min_qty"),
        F.max(q).alias("max_qty"),
    )


# --------------------------------------------------------------------
# A10/A11/M1 — correlation, covariance, closed-form OLS via regr_*.
# Reference: np.corrcoef / Smarket.corr() / sm.OLS (SURVEY §2.4 A10-A11,
# §2.9 M1).
# --------------------------------------------------------------------
@query(
    "a10_corr_regression",
    oracle="""
    SELECT l_returnflag,
           ROUND(CORR(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 4) AS covar_qty_price,
           ROUND(REGR_SLOPE(l_extendedprice, l_quantity), 6) AS ols_slope,
           ROUND(REGR_INTERCEPT(l_extendedprice, l_quantity), 4) AS ols_intercept
    FROM lineitem GROUP BY 1
    """,
)
def a10_corr_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation, sample covariance, and single-feature OLS
    (slope/intercept) as pure aggregates — the distributed closed form of
    the reference's sm.OLS fit."""
    li = load_table(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr(x, y), 6).alias("corr_qty_price"),
        F.round(F.covar_samp(x, y), 4).alias("covar_qty_price"),
        F.round(F.regr_slope(y, x), 6).alias("ols_slope"),
        F.round(F.regr_intercept(y, x), 4).alias("ols_intercept"),
    )


# --------------------------------------------------------------------
# A12 — conditional-sum daily metrics (materialized-view shape).
# Reference: per-(product, day) views/cart_additions/purchases counters,
# /root/reference/load_hbase.py:127-134.
# --------------------------------------------------------------------
@query(
    "a12_event_daily_metrics",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS day,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS views,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
           CAST(SUM(CASE WHEN event_type = 'purchase'
                    THEN CAST(FLOOR(value * 10000.0 + 0.5) AS BIGINT)
                    ELSE 0 END) AS DOUBLE) / 10000.0 AS purchase_value
    FROM events
    GROUP BY 1
    """,
)
def a12_event_daily_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass conditional aggregation replacing the reference's
    driver-side counter dicts: one scan, one shuffle, all three counters.
    This is the batch form of the ProductMetrics materialized view."""
    ev = load_table(spark, sf_dir, "events")
    def cnt(t):  # conditional counter
        return F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
    return (
        ev.groupBy(F.date_format(F.date_trunc("day", F.col("ts")),
                                 "yyyy-MM-dd HH:mm:ss").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            cnt("view").alias("views"),
            cnt("click").alias("clicks"),
            cnt("purchase").alias("purchases"),
            (F.sum(
                F.when(F.col("event_type") == "purchase",
                       F.floor(F.col("value") * 10000.0 + 0.5))
                .otherwise(F.lit(0).cast("long"))
            ).cast("double") / 10000.0).alias("purchase_value"),
        )
    )


# --------------------------------------------------------------------
# U1/U2 — union + distinct. Reference: list extend / set() dedup
# (SURVEY §2.7).
# --------------------------------------------------------------------
@query(
    "u1_union_distinct",
    oracle="""
    SELECT side, COUNT(*) AS n, COUNT(DISTINCT nationkey) AS n_distinct
    FROM (
        SELECT 'cust' AS side, c_nationkey AS nationkey FROM customer
        UNION ALL
        SELECT 'supp' AS side, s_nationkey AS nationkey FROM supplier
    ) u
    GROUP BY side
    """,
)
def u1_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL by name + distinct count per branch."""
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    u = (
        customer.select(F.lit("cust").alias("side"), F.col("c_nationkey").alias("nationkey"))
        .unionByName(
            supplier.select(F.lit("supp").alias("side"), F.col("s_nationkey").alias("nationkey"))
        )
    )
    return u.groupBy("side").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("nationkey").alias("n_distinct"),
    )


# --------------------------------------------------------------------
# P16/O3 — deterministic positional slice: global sort + limit.
# Reference: Auto[:3] / show(5) (SURVEY §2.2 P16, §2.6 O3-O4).
# --------------------------------------------------------------------
@query(
    "p16_ordered_limit",
    oracle="""
    SELECT s_suppkey, s_name, s_acctbal
    FROM supplier
    ORDER BY s_acctbal DESC, s_suppkey
    LIMIT 5
    """,
)
def p16_ordered_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 suppliers by balance with a key tie-break (positional access
    re-expressed as a deterministic ordered limit)."""
    supplier = load_table(spark, sf_dir, "supplier")
    return (
        supplier.select("s_suppkey", "s_name", "s_acctbal")
        .orderBy(F.desc("s_acctbal"), F.asc("s_suppkey"))
        .limit(5)
    )


_MSUM = "CAST(SUM(CAST(FLOOR(({expr}) * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0"


# --------------------------------------------------------------------
# J1×4 — TPC-H Q5-shaped: 5-way join, regional revenue.
# --------------------------------------------------------------------
@query(
    "j7_regional_supplier_volume",
    oracle=f"""
    SELECT r.r_name AS region,
           {_MSUM.format(expr='l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           COUNT(*) AS n_lineitems
    FROM lineitem l
    JOIN orders o    ON l.l_orderkey = o.o_orderkey
    JOIN customer c  ON o.o_custkey = c.c_custkey
    JOIN nation n    ON c.c_nationkey = n.n_nationkey
    JOIN region r    ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY r.r_name
    """,
)
def j7_regional_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five-table join pyramid (fact → orders → customer → nation →
    region). Catalyst broadcast-chains the three dims; only the
    lineitem⋈orders join shuffles — the shape that matters at 100 TB."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


# --------------------------------------------------------------------
# A-single-row — TPC-H Q6-shaped scan-aggregate.
# --------------------------------------------------------------------
@query(
    "a6_forecast_revenue",
    oracle=f"""
    SELECT {_MSUM.format(expr='l_extendedprice * l_discount')} AS revenue,
           COUNT(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def a6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure scan-aggregate with tight range predicates — the query
    where predicate pushdown + column pruning is the whole plan."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            money_sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# --------------------------------------------------------------------
# HAVING — aggregate filter (TPC-H Q18-shaped).
# --------------------------------------------------------------------
@query(
    "a18_large_orders_having",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(FLOOR(l_quantity * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS total_qty
    FROM lineitem
    GROUP BY l_orderkey
    HAVING SUM(l_quantity) > 220
    """,
)
def a18_large_orders_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING (post-aggregation predicate)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(money_sum("l_quantity").alias("total_qty"),
             F.sum("l_quantity").alias("__raw"))
        .filter(F.col("__raw") > 220)
        .drop("__raw")
    )


# --------------------------------------------------------------------
# G1 — ROLLUP with grouping indicator (SURVEY §2.4 "grouping sets…
# available built-in").
# --------------------------------------------------------------------
@query(
    "g1_rollup_revenue",
    oracle="""
    SELECT COALESCE(o_orderstatus, '<all>') AS status,
           COALESCE(o_orderpriority, '<all>') AS priority,
           CAST(GROUPING(o_orderstatus) + 2 * GROUPING(o_orderpriority) AS BIGINT) AS grp,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue,
           COUNT(*) AS n
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def g1_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals: (status, priority) → (status) → ()."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            (F.grouping("o_orderstatus")
             + 2 * F.grouping("o_orderpriority")).cast("long").alias("grp"),
            money_sum("o_totalprice").alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("<all>")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("<all>")).alias("priority"),
            "grp", "revenue", "n",
        )
    )


# --------------------------------------------------------------------
# G2 — CUBE.
# --------------------------------------------------------------------
@query(
    "g2_cube_counts",
    oracle="""
    SELECT COALESCE(l_returnflag, '<all>') AS returnflag,
           COALESCE(l_linestatus, '<all>') AS linestatus,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def g2_cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All 2^2 grouping combinations in one pass."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("linestatus"),
            "n",
        )
    )


# --------------------------------------------------------------------
# PV1 — pivot (wide conditional aggregation). Reference shape: the
# daily counter columns of A12.
# --------------------------------------------------------------------
@query(
    "pv1_status_pivot",
    oracle="""
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS P
    FROM orders GROUP BY o_orderpriority
    """,
)
def pv1_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy().pivot() with an explicit value list (never let pivot
    scan for distinct values at scale — pass the list)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


# --------------------------------------------------------------------
# A8 — exact percentiles (describe/summary family; Spark summary() is
# approximate, this pins the exact variant — SURVEY §7).
# --------------------------------------------------------------------
@query(
    "a8_percentiles",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
           ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
           MIN(l_extendedprice) AS min_price,
           MAX(l_extendedprice) AS max_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a8_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quartiles (percentile ↔ quantile_cont share
    the linear-interpolation definition)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = F.col("l_extendedprice")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile(p, F.lit(0.25)), 4).alias("p25"),
        F.round(F.percentile(p, F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile(p, F.lit(0.75)), 4).alias("p75"),
        F.min(p).alias("min_price"),
        F.max(p).alias("max_price"),
    )


# --------------------------------------------------------------------
# P8/P13 — null handling + cast-invalid-to-null (SURVEY §2.2).
# --------------------------------------------------------------------
@query(
    "p8_null_handling",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_rows,
           COUNT(nullable_price) AS n_nonnull,
           CAST(SUM(CASE WHEN nullable_price IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           CAST(SUM(CAST(FLOOR(COALESCE(nullable_price, 0.0) * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS filled_sum
    FROM (
        SELECT o_orderpriority,
               CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_totalprice END AS nullable_price
        FROM orders
    )
    GROUP BY o_orderpriority
    """,
)
def p8_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL introduction (nullif-style), null-aware counts, and
    fill-then-aggregate (na.fill ≍ COALESCE)."""
    o = load_table(spark, sf_dir, "orders")
    nullable = F.when(F.col("o_orderstatus") == "P", F.lit(None).cast("double")) \
        .otherwise(F.col("o_totalprice"))
    return (
        o.select("o_orderpriority", nullable.alias("nullable_price"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("nullable_price").alias("n_nonnull"),
            F.sum(F.col("nullable_price").isNull().cast("long")).alias("n_null"),
            money_sum(F.coalesce("nullable_price", F.lit(0.0))).alias("filled_sum"),
        )
    )


@query(
    "p13_cast_coercion",
    oracle="""
    SELECT event_type,
           COUNT(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)) AS n_numeric,
           CAST(SUM(CASE WHEN TRY_CAST(json_extract_string(props, '$.missing') AS INTEGER)
                    IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_invalid,
           CAST(CAST(COUNT(*) AS DOUBLE) AS DOUBLE) AS n_as_double
    FROM events GROUP BY event_type
    """,
)
def p13_cast_coercion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pd.to_numeric(errors='coerce') semantics: invalid → NULL via
    try-cast, then null-aware counting."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").try_cast("int")
    missing = F.get_json_object("props", "$.missing").try_cast("int")
    return ev.groupBy("event_type").agg(
        F.count(k).alias("n_numeric"),
        F.sum(missing.isNull().cast("long")).alias("n_invalid"),
        F.count(F.lit(1)).cast("double").alias("n_as_double"),
    )


# --------------------------------------------------------------------
# F18/A13/A14/A15 — array construction + folds over arrays.
# --------------------------------------------------------------------
@query(
    "f18_array_ops",
    oracle="""
    WITH per_order AS (
        SELECT l_orderkey,
               list_sort(list(l_linenumber)) AS linenums,
               list_sort(list(DISTINCT l_returnflag)) AS flags
        FROM lineitem
        WHERE l_orderkey % 50 = 0
        GROUP BY l_orderkey
    )
    SELECT l_orderkey,
           CAST(len(linenums) AS BIGINT) AS n_lines,
           linenums[1] AS first_line,
           linenums[-1] AS last_line,
           CAST(list_sum(linenums) AS BIGINT) AS line_sum,
           list_contains(flags, 'R') AS has_return,
           CAST(len(flags) AS BIGINT) AS n_flags,
           array_to_string(flags, ',') AS flags_csv
    FROM per_order
    """,
)
def f18_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list → sort → element_at/size/fold/contains/join — the
    reference's Python-list idioms as array expressions (collect_set ≍
    the set() construction at dataset_generator.py:269)."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 50 == 0)
    per = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_list("l_linenumber")).alias("linenums"),
        F.array_sort(F.collect_set("l_returnflag")).alias("flags"),
    )
    return per.select(
        "l_orderkey",
        F.size("linenums").cast("long").alias("n_lines"),
        F.element_at("linenums", 1).alias("first_line"),
        F.element_at("linenums", -1).alias("last_line"),
        F.aggregate("linenums", F.lit(0).cast("long"),
                    lambda acc, x: acc + x).alias("line_sum"),
        F.array_contains("flags", "R").alias("has_return"),
        F.size("flags").cast("long").alias("n_flags"),
        F.array_join("flags", ",").alias("flags_csv"),
    )


@query(
    "a15_exists_over_array",
    oracle="""
    WITH per_order AS (
        SELECT l_orderkey, list(l_quantity) AS qtys
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT
        CAST(SUM(CASE WHEN len(list_filter(qtys, q -> q > 49)) > 0
                 THEN 1 ELSE 0 END) AS BIGINT) AS orders_with_qty50,
        CAST(SUM(CASE WHEN len(list_filter(qtys, q -> q > 49)) = len(qtys)
                 THEN 1 ELSE 0 END) AS BIGINT) AS orders_all_qty50,
        COUNT(*) AS n_orders
    FROM per_order
    """,
)
def a15_exists_over_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS / FORALL over collected arrays (the reference's
    any(...)/all(...) generator predicates, dataset_generator.py:298)."""
    li = load_table(spark, sf_dir, "lineitem")
    per = li.groupBy("l_orderkey").agg(F.collect_list("l_quantity").alias("qtys"))
    return per.agg(
        F.sum(F.exists("qtys", lambda q: q > 49).cast("long"))
        .alias("orders_with_qty50"),
        F.sum(F.forall("qtys", lambda q: q > 49).cast("long"))
        .alias("orders_all_qty50"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# --------------------------------------------------------------------
# F19 — map functions (build → filter → fold). The reference's
# cart_contents idioms (dataset_generator.py:282-318).
# --------------------------------------------------------------------
@query(
    "f19_map_ops",
    oracle="""
    WITH per_line AS (
        -- the fixture's (orderkey, linenumber) is not unique; pre-sum
        -- so map keys are unique by construction
        SELECT l_orderkey, l_linenumber, SUM(l_quantity) AS qty
        FROM lineitem WHERE l_orderkey % 100 = 0
        GROUP BY l_orderkey, l_linenumber
    ), per_order AS (
        SELECT l_orderkey,
               map(list(CAST(l_linenumber AS VARCHAR) ORDER BY l_linenumber),
                   list(qty ORDER BY l_linenumber)) AS qty_map
        FROM per_line
        GROUP BY l_orderkey
    )
    SELECT l_orderkey,
           CAST(cardinality(qty_map) AS BIGINT) AS n_entries,
           array_to_string(list_sort(map_keys(qty_map)), ',') AS keys_csv,
           CAST(FLOOR(list_sum(map_values(qty_map)) * 100.0 + 0.5) AS BIGINT) / 100.0 AS qty_total
    FROM per_order
    """,
)
def f19_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """map_from_entries / map_keys / map_values / cardinality — the
    MapType surface; values folded to a portable 2-dp total."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 100 == 0)
    per_line = li.groupBy("l_orderkey", "l_linenumber").agg(
        F.sum("l_quantity").alias("qty"))
    per = per_line.groupBy("l_orderkey").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct(
                F.col("l_linenumber").cast("string").alias("k"),
                F.col("qty").alias("v"),
            )))
        ).alias("qty_map")
    )
    return per.select(
        "l_orderkey",
        F.size("qty_map").cast("long").alias("n_entries"),
        F.array_join(F.array_sort(F.map_keys("qty_map")), ",").alias("keys_csv"),
        (F.floor(F.aggregate(F.map_values("qty_map"), F.lit(0.0),
                             lambda acc, x: acc + x) * 100.0 + 0.5)
         / 100.0).alias("qty_total"),
    )


# --------------------------------------------------------------------
# P5/P6/P17 — membership, regex-match, label-based selection.
# --------------------------------------------------------------------
@query(
    "p6_membership_and_regex",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
      AND regexp_matches(c_name, '[05]$')
      AND NOT c_mktsegment IN ('AUTOMOBILE')
    """,
)
def p6_membership_and_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """isin + rlike + negated membership (the pandas
    str.contains / .loc label-select family, SURVEY §2.2 P5-P6, P17)."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.filter(
            F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
            & F.col("c_name").rlike("[05]$")
            & ~F.col("c_mktsegment").isin("AUTOMOBILE")
        )
        .select("c_custkey", "c_name", "c_mktsegment")
    )


# --------------------------------------------------------------------
# U3/U4 — INTERSECT / EXCEPT (SURVEY §2.7: absent in the reference,
# free built-ins on the extension surface).
# --------------------------------------------------------------------
@query(
    "u3_intersect_except",
    oracle="""
    WITH cust_nations AS (SELECT DISTINCT c_nationkey AS nk FROM customer),
         supp_nations AS (SELECT DISTINCT s_nationkey AS nk FROM supplier)
    SELECT 'both' AS which, nk FROM (
        SELECT nk FROM cust_nations INTERSECT SELECT nk FROM supp_nations)
    UNION ALL
    SELECT 'cust_only' AS which, nk FROM (
        SELECT nk FROM cust_nations EXCEPT SELECT nk FROM supp_nations)
    """,
)
def u3_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set intersection and difference on key sets."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nk")).distinct()
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nk")).distinct()
    both = cust.intersect(supp).select(F.lit("both").alias("which"), "nk")
    only = cust.exceptAll(supp).select(F.lit("cust_only").alias("which"), "nk")
    return both.unionByName(only)


# --------------------------------------------------------------------
# U3b — INTERSECT ALL: multiset intersection (each common value kept
# min(count_left, count_right) times), then re-aggregated so the
# result stays small and order-free.
# --------------------------------------------------------------------
@query(
    "u3b_intersect_all",
    oracle="""
    SELECT l_suppkey, COUNT(*) AS n
    FROM (SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'A'
          INTERSECT ALL
          SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R')
    GROUP BY l_suppkey
    """,
)
def u3b_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset intersection of the supplier-key bags of returned ('R')
    vs accepted ('A') lineitems: per key, multiplicity is
    min(count_A, count_R). ``intersectAll`` compiles to a partial-count
    aggregate + generate — one shuffle on the key, no row explosion
    beyond the min-count, so it scales like a groupBy."""
    li = load_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "A").select("l_suppkey")
    r = li.filter(F.col("l_returnflag") == "R").select("l_suppkey")
    return (
        a.intersectAll(r)
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------
# F11 — sequence generation (date ranges; pd.date_range analogue,
# visualizations.py:78).
# --------------------------------------------------------------------
@query(
    "f11_date_sequence",
    oracle="""
    SELECT o_orderkey,
           CAST(len(generate_series(date_trunc('month', o_orderdate),
                               date_trunc('month', o_orderdate) + INTERVAL 11 MONTH,
                               INTERVAL 1 MONTH)) AS BIGINT) AS n_months,
           strftime(date_trunc('month', o_orderdate) + INTERVAL 11 MONTH,
                    '%Y-%m-%d %H:%M:%S') AS horizon_end
    FROM orders
    WHERE o_orderkey % 500 = 0
    """,
)
def f11_date_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sequence(start, stop, interval 1 month) — forecast-horizon
    generation per row."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 500 == 0)
    start = F.date_trunc("month", F.col("o_orderdate"))
    end = start + F.expr("INTERVAL 11 MONTHS")
    return o.select(
        "o_orderkey",
        F.size(F.sequence(start, end, F.expr("INTERVAL 1 MONTH")))
        .cast("long").alias("n_months"),
        F.date_format(end, "yyyy-MM-dd HH:mm:ss").alias("horizon_end"),
    )


# --------------------------------------------------------------------
# P19/P20/F16/F17 — sampling, bootstrap resample, random columns, ids.
# Engine RNGs are not cross-engine comparable, so these are rows-only
# checks for the driver; determinism-under-seed is tested in
# tests/test_sampling.py.
# --------------------------------------------------------------------
@query("p19_sample_and_split")
def p19_sample_and_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded Bernoulli sample + randomSplit accounting: fraction
    sampled, per-split counts (sum == total), and a bootstrap
    (with-replacement) resample size — the P19/P20 surface."""
    o = load_table(spark, sf_dir, "orders")
    total = o.count()
    sampled = o.sample(fraction=0.1, seed=42).count()
    boot = o.sample(withReplacement=True, fraction=1.0, seed=7).count()
    train, test = o.randomSplit([0.8, 0.2], seed=42)
    n_train, n_test = train.count(), test.count()
    return spark.createDataFrame(
        [(total, sampled, boot, n_train, n_test, n_train + n_test)],
        "total long, sampled long, bootstrap long, train long, test long, split_sum long",
    )


@query("f17_id_generation")
def f17_id_generation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F17 — id generation tiers: deterministic hash ids (test-stable,
    the engine's default), uuid() and monotonically_increasing_id()
    (run-unique). Returns uniqueness accounting over customers."""
    c = load_table(spark, sf_dir, "customer")
    with_ids = c.select(
        "c_custkey",
        F.sha2(F.concat_ws("|", F.lit("cust"), F.col("c_custkey")), 256).alias("hash_id"),
        F.expr("uuid()").alias("uuid_id"),
        F.monotonically_increasing_id().alias("mono_id"),
    )
    return with_ids.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("hash_id").alias("n_hash_ids"),
        F.countDistinct("uuid_id").alias("n_uuid_ids"),
        F.countDistinct("mono_id").alias("n_mono_ids"),
    )


@query(
    "f17b_hash_id_generation",
    oracle="""
    WITH ids AS (
        SELECT c_custkey,
               sha256('cust|' || CAST(c_custkey AS VARCHAR)) AS hash_id
        FROM customer
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT hash_id) AS BIGINT) AS n_distinct
        FROM ids
    )
    SELECT c_custkey, hash_id, n, n_distinct
    FROM ids, s ORDER BY c_custkey LIMIT 50
    """,
)
def f17b_hash_id_generation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F17's graded twin: the engine-default DETERMINISTIC id tier
    (sha256 over a salted key — the id scheme the seeded datagen
    uses, datagen/ecommerce.py _hex_id) certified value-exactly
    against DuckDB's sha256: the 50 lowest-key customers' actual id
    strings plus corpus-wide uniqueness counts. f17 keeps grading
    the run-unique tiers (uuid, monotonically_increasing_id) whose
    values are inherently oracle-free."""
    c = load_table(spark, sf_dir, "customer")
    ids = c.select(
        "c_custkey",
        F.sha2(F.concat_ws("|", F.lit("cust"),
                           F.col("c_custkey")), 256).alias("hash_id"))
    s = ids.agg(F.count(F.lit(1)).cast("long").alias("n"),
                F.countDistinct("hash_id").cast("long")
                .alias("n_distinct"))
    return (ids.crossJoin(F.broadcast(s))
            .orderBy("c_custkey").limit(50)
            .select("c_custkey", "hash_id", "n", "n_distinct"))


# --------------------------------------------------------------------
# J5 — key-decomposition join: composite row keys split back to join
# keys (the reference's HBase row-key parse, load_hbase.py:116-117 +
# clv_integration.py:27).
# --------------------------------------------------------------------
@query(
    "j5b_rowkey_decompose_join",
    oracle="""
    WITH keyed AS (
        SELECT concat(CAST(o_custkey AS VARCHAR), '#',
                      strftime(o_orderdate, '%Y%m%d'), '#',
                      CAST(o_orderkey AS VARCHAR)) AS row_key,
               o_totalprice
        FROM orders
    ), decomposed AS (
        SELECT CAST(split_part(row_key, '#', 1) AS BIGINT) AS custkey,
               split_part(row_key, '#', 2) AS day_key,
               o_totalprice
        FROM keyed
    )
    SELECT c.c_mktsegment,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(d.o_totalprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
    FROM decomposed d JOIN customer c ON d.custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def j5b_rowkey_decompose_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build HBase-style composite row keys (custkey#yyyymmdd#orderkey),
    split the key back out, and join on the decomposed component — the
    pattern the reference runs in driver-side Python. In the native
    design the key never leaves relational form; this query proves the
    round-trip is lossless."""
    o = load_table(spark, sf_dir, "orders")
    keyed = o.select(
        F.concat_ws("#", F.col("o_custkey").cast("string"),
                    F.date_format("o_orderdate", "yyyyMMdd"),
                    F.col("o_orderkey").cast("string")).alias("row_key"),
        "o_totalprice",
    )
    decomposed = keyed.select(
        F.split("row_key", "#").getItem(0).cast("long").alias("custkey"),
        F.split("row_key", "#").getItem(1).alias("day_key"),
        "o_totalprice",
    )
    c = load_table(spark, sf_dir, "customer")
    return (
        decomposed.join(c, decomposed.custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"),
             money_sum("o_totalprice").alias("revenue"))
    )


# --------------------------------------------------------------------
# A19 — median / mode as first-class aggregates (SURVEY §2.4 notes
# them absent in the reference, built-in here).
# --------------------------------------------------------------------
@query(
    "a19_median_mode",
    oracle="""
    SELECT l_returnflag,
           ROUND(median(l_quantity), 6) AS median_qty,
           CAST(mode(l_linenumber) AS BIGINT) AS mode_linenumber,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a19_median_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median (interpolated) and modal value per group. Mode
    tie-breaking differs across engines in general; l_linenumber's
    frequency ordering is strict in this data (and the test pins it)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.median("l_quantity"), 6).alias("median_qty"),
        F.mode("l_linenumber").cast("long").alias("mode_linenumber"),
        F.count(F.lit(1)).alias("n"),
    )
