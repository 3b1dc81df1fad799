"""Table registry over the driver-provided Parquet fixtures.

The reference spreads its data model across JSON files, MongoDB
collections, and HBase tables (SURVEY.md §1); here every table is a
Parquet scan so Catalyst gets column pruning + predicate pushdown +
partition pruning for free (the reference hand-rolled the first two via
HBase column projections, /root/reference/clv_integration.py:24).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from big_data_analytics_spark.caching import session_memo

#: Tables generated by the driver at /root/testdata/sf*/ (TESTDATA.md).
TPCH_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan for one fixture table.

    ``events.ts`` is written as TIMESTAMP(NANOS), which Spark's Parquet
    reader rejects natively; read it as raw nanos (legacy conf) and
    truncate to microsecond TimestampType — the same ns→us truncation
    DuckDB applies, so both engines see identical values.
    """
    # Timestamps in the fixtures are timezone-naive wall-clock values;
    # pin the session zone so results are identical under any caller's
    # SparkSession (the driver harness builds its own) and match the
    # tz-naive DuckDB oracle. Pinned on every call, memo hit or not: a
    # caller may have changed the zone since the scan was built.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return _scan(spark, sf_dir, name)


@session_memo
def _scan(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Memoized: building the scan costs ~150-250 ms per call (driver-
    # side footer read + schema inference + the NTZ normalization
    # projection + py4j), paid by EVERY query for EVERY table it
    # reads. The DataFrame is an immutable lazy plan: the memo holds
    # table METADATA (what a metastore/catalog holds at scale), never
    # data or results; every action still scans the parquet.
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F
        # integer division — ns→us via double would lose precision at 1e18
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Fixture parquet written as TIMESTAMP(MICROS, isAdjustedToUTC=false)
    # arrives as TIMESTAMP_NTZ under Spark 4's NTZ inference. Normalize
    # to TimestampType: with the session zone pinned to UTC above, the
    # cast is a pure reinterpretation (identical epoch micros), it keeps
    # epoch functions (unix_micros & co.) applicable, and it matches
    # DuckDB's naive-timestamp reading of the same files bit-for-bit.
    ntz_cols = [f for f, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz_cols:
        df = df.withColumn(c, df[c].cast("timestamp"))
    return df


def register_tables(spark: SparkSession, sf_dir: str,
                    tables: tuple[str, ...] = TPCH_TABLES) -> None:
    """Register each fixture table as a temp view for ``spark.sql``."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
