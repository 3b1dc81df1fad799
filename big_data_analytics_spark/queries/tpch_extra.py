"""TPC-H-shaped plan patterns (SURVEY.md §2 extension surface) on the
driver's reduced star schema:

- EXISTS-driven counts, conditional aggregation over a join,
  ratio-of-conditional-sums, OR-of-ANDs predicate pushdown, distinct
  counts per group (q4, q12, q14, q15, q16, q17, q19, q22);
- the remaining classic query shapes — multi-way join pipelines
  (q3/q5/q7), conditional market-share ratios (q8), profit rollups
  (q9), outer-join distributions (q13), grouped HAVING semi-joins
  (q18), and the only-late-supplier exists/not-exists pattern (q21);
- the partsupp-dependent shapes (q2/q11/q20). There is no partsupp
  table on this schema, but their *plan patterns* — correlated
  per-group minimum (q2), HAVING against a fraction of a global scalar
  (q11), and dominant-contributor nested aggregation (q20) — are
  schema-independent, so q2p/q11p/q20p re-derive each on the available
  star schema and the full 22-pattern family has coverage.

Scale notes: region/nation/supplier/part are broadcast dims; the
lineitem⋈orders backbone is the one real shuffle. Per-group minima and
global totals are tiny aggregates that broadcast back against the
fact/dim side; the lineitem aggregations are partial+final. Every
aggregate is cents-exact (functions/money.py), so results are
partitioning-independent, and all money/quantity comparisons go
through integer cents, so the filter cuts are engine-stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_analytics_spark.catalog import load_table
from big_data_analytics_spark.functions.money import money_cents, money_sum
from big_data_analytics_spark.operators.joins import sized_side
from big_data_analytics_spark.queries import query


# --------------------------------------------------------------------
# Q4-shaped: order-priority counts where an EXISTS condition holds.
# --------------------------------------------------------------------
@query(
    "q4_priority_with_late_items",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def q4_priority_with_late_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS subquery → left-semi join with a non-equi residual
    condition, then grouped count."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    cond = (l.l_orderkey == o.o_orderkey) & (
        l.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS"))
    return (
        o.join(l, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# --------------------------------------------------------------------
# Q12-shaped: conditional aggregation over a fact⋈fact join.
# --------------------------------------------------------------------
@query(
    "q12_priority_shipping",
    oracle="""
    SELECT l.l_returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l.l_returnflag
    """,
)
def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-counters-in-one-pass pattern over a join."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
    o = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
    )


# --------------------------------------------------------------------
# Q14-shaped: ratio of a conditional money sum to the total.
# --------------------------------------------------------------------
@query(
    "q14_brand_revenue_share",
    oracle="""
    SELECT ROUND(
             (CAST(SUM(CASE WHEN p.p_type LIKE 'small%'
                       THEN CAST(FLOOR(l.l_extendedprice*(1-l.l_discount)*100.0+0.5) AS BIGINT)
                       ELSE 0 END) AS DOUBLE) / 100.0)
             / (CAST(SUM(CAST(FLOOR(l.l_extendedprice*(1-l.l_discount)*100.0+0.5) AS BIGINT)) AS DOUBLE) / 100.0)
             * 100.0, 6) AS small_type_share_pct,
           COUNT(*) AS n
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'
    """,
)
def q14_brand_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promo-share pattern: conditional cents-sum ÷ total cents-sum,
    one pass, measured-pin part attachment (part scales with SF)."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01 00:00:00").cast("timestamp")))
    p = load_table(spark, sf_dir, "part")
    n_part = p.count()  # parquet metadata count; part SCALES with SF
    rev_cents = F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                        * 100.0 + 0.5)
    is_small = F.col("p_type").like("small%")
    return (
        l.join(sized_side(p, n_part), l.l_partkey == p.p_partkey)
        .agg(
            F.round(
                (F.sum(F.when(is_small, rev_cents).otherwise(0)).cast("double") / 100.0)
                / (F.sum(rev_cents).cast("double") / 100.0) * 100.0,
                6,
            ).alias("small_type_share_pct"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# --------------------------------------------------------------------
# Q19-shaped: OR-of-ANDs selective predicate over a join.
# --------------------------------------------------------------------
@query(
    "q19_or_of_ands",
    oracle="""
    SELECT CAST(SUM(CAST(FLOOR(l.l_extendedprice*(1-l.l_discount)*100.0+0.5) AS BIGINT)) AS DOUBLE)/100.0 AS revenue,
           COUNT(*) AS n
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_size BETWEEN 1 AND 10 AND l.l_quantity >= 30)
       OR (p.p_size BETWEEN 11 AND 25 AND l.l_quantity < 5)
       OR (p.p_brand = 'Brand#1' AND l.l_discount > 0.08)
    """,
)
def q19_or_of_ands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunction of conjunctive ranges spanning both join sides —
    the predicate shape that tests residual-filter placement."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    joined = l.join(sized_side(p, p.count()), l.l_partkey == p.p_partkey)
    cond = (
        (F.col("p_size").between(1, 10) & (F.col("l_quantity") >= 30))
        | (F.col("p_size").between(11, 25) & (F.col("l_quantity") < 5))
        | ((F.col("p_brand") == "Brand#1") & (F.col("l_discount") > 0.08))
    )
    return joined.filter(cond).agg(
        money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


# --------------------------------------------------------------------
# Q16-shaped: distinct counts per group after an anti-join filter.
# --------------------------------------------------------------------
@query(
    "q16_supplier_variety",
    oracle="""
    SELECT p.p_brand, p.p_type,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt,
           COUNT(*) AS line_cnt
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size IN (1, 5, 9, 13)
      AND NOT EXISTS (SELECT 1 FROM supplier s
                      WHERE s.s_suppkey = l.l_suppkey
                        AND s.s_acctbal < -500)
    GROUP BY p.p_brand, p.p_type
    """,
)
def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) per group + anti-join exclusion list."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_size").isin(1, 5, 9, 13))
    # base-table count is the cheap (metadata) conservative bound for
    # the filtered build side
    n_part = load_table(spark, sf_dir, "part").count()
    bad_supp = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < -500)
    return (
        l.join(sized_side(p, n_part), l.l_partkey == p.p_partkey)
        .join(bad_supp, l.l_suppkey == bad_supp.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type")
        .agg(
            F.countDistinct("l_suppkey").alias("supplier_cnt"),
            F.count(F.lit(1)).alias("line_cnt"),
        )
    )


# --------------------------------------------------------------------
# Q17-shaped: correlated scalar-aggregate subquery (below-average
# quantity per part), decorrelated into an aggregate join.
# --------------------------------------------------------------------
@query(
    "q17_below_avg_quantity",
    oracle="""
    WITH part_avg AS (
        SELECT l_partkey, AVG(l_quantity) AS avg_qty
        FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
               / 100.0 / 7.0 AS avg_yearly,
           COUNT(*) AS n
    FROM lineitem l
    JOIN part_avg pa ON l.l_partkey = pa.l_partkey
    WHERE l.l_quantity < 0.4 * pa.avg_qty
    """,
)
def q17_below_avg_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The correlated `l_quantity < 0.4 * (SELECT avg(...) WHERE same
    part)` pattern, decorrelated: per-part averages once, joined back.
    Catalyst performs this rewrite for correlated subqueries too; the
    explicit form keeps the plan obvious."""
    l = load_table(spark, sf_dir, "lineitem")
    part_avg = l.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.avg("l_quantity").alias("avg_qty"))
    return (
        l.join(part_avg, l.l_partkey == part_avg.pk)
        .filter(F.col("l_quantity") < 0.4 * F.col("avg_qty"))
        .agg(
            (F.sum(F.floor(F.col("l_extendedprice") * 100.0 + 0.5))
             .cast("double") / 100.0 / 7.0).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# --------------------------------------------------------------------
# Q15-shaped: aggregate view + filter on the global max of the view.
# --------------------------------------------------------------------
@query(
    "q15_top_suppliers",
    oracle="""
    WITH revenue_view AS (
        SELECT l_suppkey,
               CAST(SUM(CAST(FLOOR(l_extendedprice*(1-l_discount)*100.0+0.5) AS BIGINT)) AS DOUBLE)/100.0 AS total_rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_rev
    FROM revenue_view r
    JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.total_rev = (SELECT MAX(total_rev) FROM revenue_view)
    """,
)
def q15_top_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-referencing aggregate view: revenue per supplier, keep the
    max. Exact cents revenue makes the max deterministic (a double max
    could tie-break differently across engines)."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
    rev = l.groupBy("l_suppkey").agg(
        money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .alias("total_rev"))
    max_rev = rev.agg(F.max("total_rev").alias("m"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(max_rev), rev.total_rev == max_rev.m)
        .join(s, rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_rev")
    )


# --------------------------------------------------------------------
# Q22-shaped: filter on a global scalar aggregate + NOT EXISTS.
# --------------------------------------------------------------------
@query(
    "q22_idle_rich_customers",
    oracle="""
    WITH avg_bal AS (
        SELECT AVG(c_acctbal) AS a FROM customer WHERE c_acctbal > 0
    )
    SELECT c.c_nationkey AS cntry, COUNT(*) AS numcust,
           CAST(SUM(CAST(FLOOR(c.c_acctbal * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS totacctbal
    FROM customer c, avg_bal
    WHERE c.c_acctbal > avg_bal.a
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c.c_nationkey
    """,
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global-scalar filter (above-average balance) + anti-join (never
    ordered), grouped. The scalar aggregate broadcasts as a 1-row
    cross join — no collect to the driver."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("a"))
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntry"))
        .agg(F.count(F.lit(1)).alias("numcust"),
             money_sum("c_acctbal").alias("totacctbal"))
    )


_CENTS_SQL = "CAST(FLOOR({expr}*100.0+0.5) AS BIGINT)"


def _money_sum_sql(expr: str) -> str:
    return f"CAST(SUM({_CENTS_SQL.format(expr=expr)}) AS DOUBLE)/100.0"


# --------------------------------------------------------------------
# Q3: shipping-priority top-k — segment filter, 3-way join, grouped
# revenue, deterministic top 10.
# --------------------------------------------------------------------
@query(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l.l_orderkey,
           {_money_sum_sql("l.l_extendedprice*(1-l.l_discount)")} AS revenue,
           o.o_orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1999-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1999-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unshipped high-revenue orders for one market segment. The
    segment filter prunes customer before the join; revenue is exact
    cents so the top-10 cut is engine-stable."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1999-03-15 00:00:00").cast("timestamp"))
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1999-03-15 00:00:00").cast("timestamp"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
             .alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    )


# --------------------------------------------------------------------
# Q5: local-supplier volume — 6-way join where the supplier must sit
# in the customer's nation.
# --------------------------------------------------------------------
@query(
    "q5_local_supplier_volume",
    oracle=f"""
    SELECT n.n_name,
           {_money_sum_sql("l.l_extendedprice*(1-l.l_discount)")} AS revenue
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
                   AND s.s_nationkey = c.c_nationkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue through same-nation supplier/customer pairs in one
    region-year. region/nation/supplier broadcast; the extra
    s_nationkey = c_nationkey equi-condition rides the supplier join."""
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp")))
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(sized_side(s, s.count()), (s.s_suppkey == l.l_suppkey)
              & (s.s_nationkey == c.c_nationkey))
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
             .alias("revenue"))
    )


# --------------------------------------------------------------------
# Q7: volume shipping between two nations, by direction and year.
# --------------------------------------------------------------------
@query(
    "q7_nation_trade_volume",
    oracle=f"""
    SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
           EXTRACT(year FROM l.l_shipdate) AS ship_year,
           {_money_sum_sql("l.l_extendedprice*(1-l.l_discount)")} AS revenue
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation ns ON ns.n_nationkey = s.s_nationkey
    JOIN nation nc ON nc.n_nationkey = c.c_nationkey
    WHERE ((ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
        OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1, 2, 3
    """,
)
def q7_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bidirectional nation-pair trade by ship year: the self-joined
    dimension (nation twice, different roles) + OR-of-pairs predicate,
    evaluated after two broadcast joins."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")))
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    ns = nation.select(F.col("n_nationkey").alias("ns_key"),
                       F.col("n_name").alias("supp_nation"))
    nc = nation.select(F.col("n_nationkey").alias("nc_key"),
                       F.col("n_name").alias("cust_nation"))
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        l.join(o, o.o_orderkey == l.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(sized_side(s, s.count()), s.s_suppkey == l.l_suppkey)
        .join(F.broadcast(ns), F.col("ns_key") == F.col("s_nationkey"))
        .join(F.broadcast(nc), F.col("nc_key") == F.col("c_nationkey"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").cast("long").alias("ship_year"))
        .agg(money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
             .alias("revenue"))
    )


# --------------------------------------------------------------------
# Q8: national market share within a region/product type, per year.
# --------------------------------------------------------------------
@query(
    "q8_market_share",
    oracle=f"""
    SELECT order_year,
           ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_3'
                          THEN cents ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(cents) AS DOUBLE), 6) AS mkt_share
    FROM (
        SELECT EXTRACT(year FROM o.o_orderdate) AS order_year,
               ns.n_name AS supp_nation,
               {_CENTS_SQL.format(expr="l.l_extendedprice*(1-l.l_discount)")} AS cents
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation nc ON nc.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = nc.n_regionkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation ns ON ns.n_nationkey = s.s_nationkey
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    )
    GROUP BY order_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One nation's share of a region's spend on one part type, per
    year: conditional cents-sum over total cents-sum (exact integer
    numerator/denominator, divided once at the end)."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")))
    c = load_table(spark, sf_dir, "customer")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    s = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "AMERICA")
    nc = nation.select(F.col("n_nationkey").alias("nc_key"),
                       F.col("n_regionkey").alias("nc_region"))
    ns = nation.select(F.col("n_nationkey").alias("ns_key"),
                       F.col("n_name").alias("supp_nation"))
    cents = money_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    joined = (
        l.join(o, o.o_orderkey == l.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(F.broadcast(nc), F.col("nc_key") == F.col("c_nationkey"))
        .join(F.broadcast(region), F.col("nc_region") == F.col("r_regionkey"))
        .join(sized_side(s, s.count()), s.s_suppkey == l.l_suppkey)
        .join(F.broadcast(ns), F.col("ns_key") == F.col("s_nationkey"))
        .join(sized_side(p, p.count()), p.p_partkey == l.l_partkey)
        .select(F.year("o_orderdate").cast("long").alias("order_year"),
                "supp_nation", cents.alias("cents"))
    )
    return (
        joined.groupBy("order_year")
        .agg(F.round(
            F.sum(F.when(F.col("supp_nation") == "NATION_3",
                         F.col("cents")).otherwise(F.lit(0))).cast("double")
            / F.sum("cents").cast("double"), 6).alias("mkt_share"))
    )


# --------------------------------------------------------------------
# Q9-shaped: profit by supplier nation and year. The schema has no
# partsupp/supplycost, so cost is proxied as 60% of the part's retail
# price — the plan shape (LIKE-filtered part dim, 5-way join, signed
# money rollup) is the point.
# --------------------------------------------------------------------
@query(
    "q9_product_profit",
    oracle="""
    SELECT ns.n_name AS supp_nation,
           EXTRACT(year FROM l.l_shipdate) AS ship_year,
           CAST(SUM(CAST(FLOOR((l.l_extendedprice*(1-l.l_discount)
                                - 0.6*p.p_retailprice*l.l_quantity)*100.0+0.5)
                         AS BIGINT)) AS DOUBLE)/100.0 AS profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation ns ON ns.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY 1, 2
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed profit rollup: revenue minus proxied cost per line, in
    cents before summing (FLOOR(x*100+0.5) handles negatives half-up
    identically in both engines)."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    s = load_table(spark, sf_dir, "supplier")
    ns = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("ns_key"),
        F.col("n_name").alias("supp_nation"))
    amount = (F.col("l_extendedprice") * (1 - F.col("l_discount"))
              - F.lit(0.6) * F.col("p_retailprice") * F.col("l_quantity"))
    return (
        l.join(sized_side(p, p.count()), p.p_partkey == l.l_partkey)
        .join(sized_side(s, s.count()), s.s_suppkey == l.l_suppkey)
        .join(F.broadcast(ns), F.col("ns_key") == F.col("s_nationkey"))
        .groupBy("supp_nation",
                 F.year("l_shipdate").cast("long").alias("ship_year"))
        .agg((F.sum(F.floor(amount * 100.0 + F.lit(0.5))).cast("double")
              / F.lit(100.0)).alias("profit"))
    )


# --------------------------------------------------------------------
# Q10: returned-item reporting — top 20 customers by refund-quarter
# revenue.
# --------------------------------------------------------------------
@query(
    "q10_returned_items",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           {_money_sum_sql("l.l_extendedprice*(1-l.l_discount)")} AS revenue,
           c.c_acctbal, n.n_name
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1998-10-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers who returned the most revenue in one quarter: filter
    both fact sides before the join, broadcast nation, exact-cents
    top-20 with key tie-break."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1998-10-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01 00:00:00").cast("timestamp")))
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
             .alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    )


# --------------------------------------------------------------------
# Q13: customer order-count distribution via outer join.
# --------------------------------------------------------------------
@query(
    "q13_order_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                          AND o.o_orderpriority <> '5-LOW'
        GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
)
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level aggregate over a filtered LEFT join: customers with
    zero qualifying orders must appear in the c_count=0 bucket (the
    join-condition filter, not a WHERE, preserves them)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "5-LOW")
    per_cust = (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# --------------------------------------------------------------------
# Q18: large-volume customers — grouped HAVING feeding a semi-join.
# --------------------------------------------------------------------
@query(
    "q18_large_volume_customers",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
           CAST(FLOOR(o.o_totalprice*100.0+0.5) AS BIGINT) AS totalprice_cents,
           CAST(big.qty AS DOUBLE) AS total_qty
    FROM (
        SELECT l_orderkey, SUM(l_quantity) AS qty
        FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 250
    ) big
    JOIN orders o ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose total quantity clears a threshold, with their
    customers: the aggregate runs first (map-side partial sums), and
    only the surviving handful of order keys join outward. Quantities
    are integral in this data, so SUM(double) is exact."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    return (
        big.join(o, o.o_orderkey == big.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate",
            money_cents("o_totalprice").alias("totalprice_cents"),
            F.col("total_qty").cast("double").alias("total_qty"),
        )
    )


# --------------------------------------------------------------------
# Q21-shaped: the sole-late-supplier pattern. The schema has no
# commit/receipt dates, so "late" = shipped more than 90 days after
# the order date; keep suppliers who were the ONLY late supplier on a
# multi-supplier order.
# --------------------------------------------------------------------
@query(
    "q21_sole_late_supplier",
    oracle="""
    SELECT s.s_name, COUNT(*) AS numwait
    FROM (
        SELECT l.l_orderkey,
               l.l_suppkey,
               MAX(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
                        THEN 1 ELSE 0 END) AS is_late
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY l.l_orderkey, l.l_suppkey
    ) per_supp
    JOIN (
        SELECT l_orderkey FROM (
            SELECT l.l_orderkey,
                   COUNT(*) AS n_supp,
                   SUM(MAX_LATE) AS n_late
            FROM (
                SELECT l.l_orderkey AS l_orderkey, l.l_suppkey,
                       MAX(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
                                THEN 1 ELSE 0 END) AS MAX_LATE
                FROM lineitem l
                JOIN orders o ON o.o_orderkey = l.l_orderkey
                GROUP BY l.l_orderkey, l.l_suppkey
            ) l
            GROUP BY l.l_orderkey
        )
        WHERE n_supp >= 2 AND n_late = 1
    ) q ON q.l_orderkey = per_supp.l_orderkey
    JOIN supplier s ON s.s_suppkey = per_supp.l_suppkey
    WHERE per_supp.is_late = 1
    GROUP BY s.s_name
    """,
)
def q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who alone delayed a multi-supplier order. One
    (orderkey, suppkey) aggregate feeds both the per-order tally and
    the final filter — computed once, reused via cache, never a
    correlated re-scan."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    late = (F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
    per_supp = (
        l.join(o, o.o_orderkey == l.l_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(F.when(late, 1).otherwise(0)).alias("is_late"))
        .cache()
    )
    sole_late_orders = (
        per_supp.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_supp"),
             F.sum("is_late").alias("n_late"))
        .filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .select("l_orderkey")
    )
    return (
        per_supp.filter(F.col("is_late") == 1)
        .join(sole_late_orders, "l_orderkey")
        .join(sized_side(s, s.count()), s.s_suppkey == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# --------------------------------------------------------------------
# Q2 pattern: correlated per-group minimum — rows equal to their
# group's min, then enrichment joins.
# --------------------------------------------------------------------
@query(
    "q2p_min_price_per_type",
    oracle=f"""
    SELECT p.p_type, p.p_partkey, p.p_name, p.p_retailprice
    FROM part p
    JOIN (SELECT p_type,
                 MIN({_CENTS_SQL.format(expr="p_retailprice")}) AS min_c
          FROM part GROUP BY p_type) m
      ON m.p_type = p.p_type
     AND {_CENTS_SQL.format(expr="p.p_retailprice")} = m.min_c
    """,
)
def q2p_min_price_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q2's correlated-min shape (min-cost supplier per part →
    here: cheapest part(s) per p_type). The per-type minimum is a tiny
    aggregate broadcast back against part; the equality cut compares
    integer cents, never raw doubles. Ties all surface (like q2's
    multi-supplier ties)."""
    p = load_table(spark, sf_dir, "part")
    mins = (p.groupBy("p_type")
            .agg(F.min(money_cents("p_retailprice")).alias("min_c")))
    return (
        p.join(F.broadcast(mins), "p_type")
        .filter(money_cents("p_retailprice") == F.col("min_c"))
        .select("p_type", "p_partkey", "p_name", "p_retailprice")
    )


# --------------------------------------------------------------------
# Q11 pattern: groups whose aggregate exceeds a fraction of the
# global total (scalar-subquery HAVING).
# --------------------------------------------------------------------
@query(
    "q11p_supplier_revenue_share",
    oracle=f"""
    WITH s_rev AS (
      SELECT l_suppkey,
             SUM({_CENTS_SQL.format(expr="l_extendedprice*(1-l_discount)")})
                 AS rev_c
      FROM lineitem GROUP BY l_suppkey
    ), tot AS (
      SELECT CAST(SUM(rev_c) AS BIGINT) AS tot_c FROM s_rev
    )
    SELECT l_suppkey,
           CAST(rev_c AS DOUBLE)/100.0 AS revenue,
           CAST(rev_c AS DOUBLE) / CAST(tot_c AS DOUBLE) AS share
    FROM s_rev, tot
    WHERE CAST(rev_c AS DOUBLE) > 0.011 * CAST(tot_c AS DOUBLE)
    """,
)
def q11p_supplier_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q11's fraction-of-global-total HAVING: suppliers whose
    lineitem revenue exceeds 1.1% of all revenue. Two-level exact-cents
    aggregation; the global total is a 1-row broadcast, and the share
    is a division of two identical exact longs on both engines."""
    l = load_table(spark, sf_dir, "lineitem")
    rev = (l.groupBy("l_suppkey")
           .agg(F.sum(money_cents(
               F.col("l_extendedprice") * (1 - F.col("l_discount"))))
               .alias("rev_c")))
    tot = rev.agg(F.sum("rev_c").cast("long").alias("tot_c"))
    return (
        rev.crossJoin(F.broadcast(tot))
        .filter(F.col("rev_c").cast("double")
                > 0.011 * F.col("tot_c").cast("double"))
        .select(
            "l_suppkey",
            (F.col("rev_c").cast("double") / 100.0).alias("revenue"),
            (F.col("rev_c").cast("double")
             / F.col("tot_c").cast("double")).alias("share"),
        )
    )


# --------------------------------------------------------------------
# Q20 pattern: dominant-contributor detection — nested aggregation
# where a (part, supplier) cell is compared to the part's total.
# --------------------------------------------------------------------
@query(
    "q20p_dominant_part_suppliers",
    oracle=f"""
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             SUM({_CENTS_SQL.format(expr="l_quantity")}) AS qty_c
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ), pt AS (
      SELECT l_partkey, CAST(SUM(qty_c) AS BIGINT) AS tot_c
      FROM ps GROUP BY l_partkey
    )
    SELECT s.s_suppkey, s.s_name,
           CAST(COUNT(*) AS BIGINT) AS n_dominated_parts
    FROM ps
    JOIN pt USING (l_partkey)
    JOIN supplier s ON s.s_suppkey = ps.l_suppkey
    WHERE CAST(ps.qty_c AS DOUBLE) > 0.4 * CAST(pt.tot_c AS DOUBLE)
    GROUP BY s.s_suppkey, s.s_name
    """,
)
def q20p_dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q20's excess-contributor shape: suppliers that shipped
    more than 40% of some part's total shipped quantity, with how many
    parts they dominate. The (part, supplier) rollup reuses its own
    output for the per-part total (no second lineitem scan), and the
    supplier dim is measured-pinned for the name enrichment (supplier
    SCALES with SF — broadcast under the ceiling, sort-merge past
    it)."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    ps = (l.groupBy("l_partkey", "l_suppkey")
          .agg(F.sum(money_cents("l_quantity")).alias("qty_c")))
    pt = ps.groupBy("l_partkey").agg(
        F.sum("qty_c").cast("long").alias("tot_c"))
    return (
        ps.join(pt, "l_partkey")
        .filter(F.col("qty_c").cast("double")
                > 0.4 * F.col("tot_c").cast("double"))
        .join(sized_side(s.select("s_suppkey", "s_name"), s.count()),
              ps.l_suppkey == F.col("s_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("n_dominated_parts"))
    )
