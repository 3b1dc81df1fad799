"""Deterministic sampling: a hash-based train/test split (the P19
variant) and hash-seeded weighted sampling.

``p19_sample_and_split`` (relational.py) exercises Spark's seeded
RNG sampling, which no other engine can reproduce, so the driver can
only rows-check it. This module adds the production alternative: a
*content-addressed* split, where the bucket is a pure function of the
row key. That is what a 100 TB training pipeline wants anyway —
membership is stable across reruns, engines, and repartitioning, and
any engine can recompute it (here: DuckDB, giving P19 a real
value-hash oracle).

Hash: Knuth multiplicative hashing — ``pmod(key * 2654435761, 2^31)``
(the golden-ratio multiplier of 2^32), then ``mod 100`` for a
percentage bucket. Chosen over xxhash64/md5 because it is exact
integer arithmetic expressible identically in every SQL dialect; the
multiplier scrambles the sequential key space so bucket membership is
uncorrelated with key ranges. All intermediates stay far below int64
overflow for any 32-bit key. Both mods are *non-negative* (``pmod``,
not ``%`` — Spark/DuckDB ``%`` keeps the dividend's sign), so negative
keys land in [0, buckets) like any other key; for non-negative keys
pmod and ``%`` agree, which keeps the oracle SQL (positive TPC-H keys)
on plain ``%``. A portable oracle for signed keys is
``((key*2654435761) % 2147483648 + 2147483648) % 2147483648 % buckets``.

Weighted sampling (ws1, ws2) is Efraimidis–Spirakis (A-ES) reservoir
sampling as a distributed top-k, with hash-derived randomness so the
sample is deterministic and engine-reproducible (the data-mixing
primitive of a training pipeline: sample documents proportional to a
quality/length weight). A-ES: draw u_i ~ U(0,1), key_i = u_i^(1/w_i);
the k largest keys are a weighted sample without replacement.
Monotone-equivalently order by ln(u_i)/w_i, skipping the pow. With u_i
derived from a multiplicative hash of the row id, both engines compute
identical keys, and Spark plans the selection as TakeOrderedAndProject
— per-partition top-k, no global sort, no RNG state.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_analytics_spark.catalog import load_table
from big_data_analytics_spark.functions.money import money_sum
from big_data_analytics_spark.queries import query


KNUTH = 2654435761
MOD = 2147483648  # 2^31


def hash_bucket(key: Column, buckets: int = 100) -> Column:
    """Deterministic engine-portable bucket in [0, buckets) — valid for
    any signed key (pmod keeps the result non-negative)."""
    return F.pmod(F.pmod(key.cast("long") * F.lit(KNUTH), F.lit(MOD)),
                  F.lit(buckets))


def train_test_split(df: DataFrame, key: str, train_pct: int = 80,
                     buckets: int = 100) -> tuple[DataFrame, DataFrame]:
    """Stable hash split: a row's membership never changes across
    reruns or cluster layouts (unlike randomSplit, whose assignment
    depends on partitioning). Narrow — no shuffle, no RNG state."""
    b = hash_bucket(F.col(key), buckets)
    return df.filter(b < train_pct), df.filter(b >= train_pct)


#: Per-stratum keep percentages for the stratified sample (the
#: deterministic analog of DataFrame.sampleBy fractions).
STRATA_PCT = {"1-URGENT": 50, "2-HIGH": 25, "3-MEDIUM": 10,
              "4-NOT SPECIFIED": 10, "5-LOW": 5}


def stratified_hash_sample(df: DataFrame, stratum: str, key: str,
                           pct: dict[str, int],
                           buckets: int = 100) -> DataFrame:
    """sampleBy with content-addressed membership: each stratum keeps
    rows whose key-hash bucket falls under its percentage. Unlike
    ``sampleBy`` the result is identical across reruns, engines, and
    partitionings, and needs no RNG state. Strata absent from ``pct``
    are dropped (fraction 0)."""
    b = hash_bucket(F.col(key), buckets)
    frac = F.lit(None).cast("int")
    for s, p in pct.items():
        frac = F.when(F.col(stratum) == s, F.lit(p)).otherwise(frac)
    return df.withColumn("__frac", frac).filter(b < F.col("__frac")) \
             .drop("__frac")


@query(
    "p20b_stratified_sample",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_sampled,
           CAST(SUM(CAST(FLOOR(o_totalprice*100.0+0.5) AS BIGINT))
                AS DOUBLE)/100.0 AS revenue
    FROM orders
    WHERE (o_orderkey * {KNUTH}) % {MOD} % 100 <
          CASE o_orderpriority
            WHEN '1-URGENT' THEN 50 WHEN '2-HIGH' THEN 25
            WHEN '3-MEDIUM' THEN 10 WHEN '4-NOT SPECIFIED' THEN 10
            WHEN '5-LOW' THEN 5 END
    GROUP BY o_orderpriority
    """,
)
def p20b_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample of orders by priority with
    per-stratum keep rates, summarized per stratum."""
    o = load_table(spark, sf_dir, "orders")
    kept = stratified_hash_sample(o, "o_orderpriority", "o_orderkey",
                                  STRATA_PCT)
    return (
        kept.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_sampled"),
             money_sum("o_totalprice").alias("revenue"))
    )


@query(
    "p19b_hash_split",
    oracle="""
    SELECT CASE WHEN (o_orderkey * 2654435761) % 2147483648 % 100 < 80
                THEN 'train' ELSE 'test' END AS split,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS DOUBLE) / 100.0 AS revenue
    FROM orders
    GROUP BY 1
    ORDER BY split
    """,
)
def p19b_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P19 with a deterministic oracle: 80/20 hash split of orders with
    per-split row counts and exact revenue totals."""
    o = load_table(spark, sf_dir, "orders")
    train, test = train_test_split(o, "o_orderkey", 80)
    tagged = train.withColumn("split", F.lit("train")).unionByName(
        test.withColumn("split", F.lit("test")))
    return (
        tagged.groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"),
             money_sum("o_totalprice").alias("revenue"))
        .orderBy("split")
    )


@query(
    "ws1_weighted_doc_sample",
    oracle=f"""
    SELECT doc_id, n_chars
    FROM documents
    ORDER BY ln(((doc_id * {KNUTH}) % {MOD} + 1.0) / {MOD + 1}.0)
             / n_chars DESC, doc_id
    LIMIT 25
    """,
)
def ws1_weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """25 documents sampled without replacement with probability
    proportional to length (A-ES keys from hash-uniform u). The key is
    only an ordering device — it is not emitted, so a last-ulp ln()
    divergence between engines cannot affect the value hash unless two
    keys collide to within an ulp (measure-zero for continuous
    weights)."""
    d = load_table(spark, sf_dir, "documents")
    u = ((F.col("doc_id") * F.lit(KNUTH)) % F.lit(MOD) + F.lit(1.0)) \
        / F.lit(float(MOD + 1))
    es_key = F.log(u) / F.col("n_chars")
    return (
        d.select("doc_id", "n_chars", es_key.alias("__k"))
        .orderBy(F.desc("__k"), F.asc("doc_id"))
        .limit(25)
        .select("doc_id", "n_chars")
    )


@query(
    "ws2_reservoir_per_group",
    oracle="""
    SELECT event_type, event_id, user_id
    FROM (
        SELECT event_type, event_id, user_id,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type
                   ORDER BY (event_id * 2654435761) % 2147483648,
                            event_id) AS rn
        FROM events
    ) WHERE rn <= 3
    """,
)
def ws2_reservoir_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-group 'reservoir': order each group by a
    multiplicative hash of the row key and keep the first k — the
    uniform-without-replacement sample a random reservoir gives, but
    reproducible across engines, partitionings, and reruns (the
    p19b/ws1 determinism discipline applied to per-group sampling).
    Plans through WindowGroupLimit: only ~k rows per group survive
    each partial sort, so the shuffle carries samples, not groups."""
    ev = load_table(spark, sf_dir, "events")
    h = F.pmod(F.col("event_id") * F.lit(KNUTH), F.lit(MOD))
    w = Window.partitionBy("event_type").orderBy(h, F.col("event_id"))
    return (
        ev.select("event_type", "event_id", "user_id",
                  F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 3)
        .drop("rn")
    )
