"""Storage-layout levers, driver-graded: bucketed co-located joins
(bj1) and partition-pruned scans (pr1).

Both levers previously lived only in pytest (tests/test_bucketing.py,
tests/test_plans.py); these queries give them driver rows so the
correctness gate certifies the RESULTS through the laid-out storage,
and the plan guards in tests/test_plans.py certify the layout actually
removed the work (no join exchange; partition filters at the scan).

At 100 TB these are the two highest-leverage storage decisions:
bucketing both sides of a recurring join key makes the shuffle a
one-time write-side cost (the Spark-native version of co-located
row-key layouts), and date-partitioned layout turns time-range scans
from full-corpus reads into directory pruning.
"""

from __future__ import annotations

import re
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_analytics_spark.caching import (
    FIXTURE_ROOT,
    derived_fixture,
    source_sig,
)
from big_data_analytics_spark.catalog import load_table
from big_data_analytics_spark.queries import query

_N_BUCKETS = 8


def _sf_tag(sf_dir: str) -> str:
    return re.sub(r"[^A-Za-z0-9_]", "_", Path(sf_dir).name)


def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write orders/customer as bucketed+sorted tables (once per
    scale AND source version): bucketBy(8, key) + sortBy(key),
    external location under .fixtures. Bucket metadata lives in the
    session catalog — a fresh session re-registers (cheap overwrite).
    The data itself is gated on the SOURCE signature like every other
    .fixtures writer (a _DONE file beside the table directories): a
    metastore that outlives a testdata regeneration must not silently
    serve stale bucketed copies, so a signature change forces a
    rebuild even when the catalog says the tables exist. The point is
    that every LATER join on the key plans with zero exchanges, which
    is how a recurring 100 TB join amortizes its shuffle into the
    layout."""
    tag = _sf_tag(sf_dir)
    to, tc = f"bj1_orders_{tag}", f"bj1_customer_{tag}"
    root = FIXTURE_ROOT / f"bj1_bucketed_{tag}"

    def build() -> None:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice")
        cust = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment")
        (orders.write.mode("overwrite")
         .option("path", str(root / "orders"))
         .bucketBy(_N_BUCKETS, "o_custkey").sortBy("o_custkey")
         .saveAsTable(to))
        (cust.write.mode("overwrite")
         .option("path", str(root / "customer"))
         .bucketBy(_N_BUCKETS, "c_custkey").sortBy("c_custkey")
         .saveAsTable(tc))

    cat = spark.catalog
    derived_fixture(
        root, source_sig(sf_dir, "orders") + "|"
        + source_sig(sf_dir, "customer"), build,
        force=not (cat.tableExists(to) and cat.tableExists(tc)))
    return to, tc


@query(
    "bj1_bucketed_colocated_join",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(FLOOR(o.o_totalprice * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
)
def bj1_bucketed_colocated_join(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """EXCHANGE-FREE fact-dimension join through bucketed layout:
    orders and customer are stored bucketBy(8, join-key) + sortBy, so
    the SortMergeJoin (forced with a merge hint — broadcast would
    hide the property being graded) reads both sides already
    co-partitioned AND sorted: no Exchange, no per-task Sort. The
    plan guard (tests/test_plans.py) asserts zero exchanges on either
    join key; this driver row certifies the JOIN RESULT through the
    bucketed files is byte-identical to the plain oracle join.

    Scale: the one-time bucketed write is the amortized shuffle — a
    join run daily against a 100 TB fact table pays it once, then
    every subsequent join is a local merge per bucket. The same
    layout serves any aggregation keyed on the bucket column."""
    to, tc = _bucketed_tables(spark, sf_dir)
    bo, bc = spark.table(to), spark.table(tc).hint("merge")
    return (bo.join(bc, bo.o_custkey == bc.c_custkey)
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).cast("long").alias("n_orders"),
                 F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5)
                       .cast("long")).cast("long")
                 .alias("revenue_cents"))
            .orderBy("c_mktsegment"))


def _partitioned_events_dir(spark: SparkSession, sf_dir: str) -> Path:
    """Events rewritten date-partitioned (one directory per event
    date) under .fixtures, rebuilt whenever the source testdata
    changes. Path-based parquet keeps partition discovery in the
    directory structure, so pruning works across sessions with no
    catalog."""
    root = FIXTURE_ROOT / f"events_partitioned_{Path(sf_dir).name}"
    return derived_fixture(
        root, source_sig(sf_dir),
        lambda: load_table(spark, sf_dir, "events")
        .withColumn("d", F.to_date("ts"))
        .repartition("d")
        .write.partitionBy("d").parquet(str(root / "data")))


@query(
    "pr1_partition_pruned_scan",
    oracle="""
    WITH b AS (SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 10000.0 + 0.5) AS BIGINT))
                AS DOUBLE) / 10000.0 AS value_sum
    FROM events, b
    WHERE CAST(ts AS DATE) >= b.d0 + 4
      AND CAST(ts AS DATE) < b.d0 + 11
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def pr1_partition_pruned_scan(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """PARTITION PRUNING graded end-to-end: events are stored
    date-partitioned; a 7-day range filter (days 5-11 of the span,
    bounds derived from MIN(date) so both engines compute the same
    window) must reach the scan as PartitionFilters — Spark reads
    only 7 of ~30 date directories, never touching the rest. The
    plan guard (tests/test_plans.py) asserts the pruned partition
    count; this driver row certifies the aggregate over the pruned
    read matches the oracle's full-scan-with-WHERE.

    Scale: on a 100 TB event store this is the difference between a
    7/900-day directory listing and a full-corpus scan; the same
    layout composes with the bucketed join (partition by day, bucket
    by user within each day)."""
    root = _partitioned_events_dir(spark, sf_dir)
    ev = spark.read.parquet(str(root / "data"))
    d0 = ev.agg(F.min("d")).first()[0]
    pruned = ev.where(
        (F.col("d") >= F.date_add(F.lit(d0), 4))
        & (F.col("d") < F.date_add(F.lit(d0), 11)))
    return (pruned.groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                 (F.sum(F.floor(F.col("value") * 10000.0 + 0.5)
                        .cast("long")).cast("double") / 10000.0)
                 .alias("value_sum"))
            .orderBy("event_type"))


_N_SKIP_FILES = 16


def _range_clustered_lineitem(spark: SparkSession, sf_dir: str) -> Path:
    """Lineitem rewritten as 16 files range-clustered on l_shipdate
    (repartitionByRange + in-partition sort), plus a FILE-STATS
    MANIFEST (one row per file: min/max shipdate) — the lakehouse
    data-skipping layout (Iceberg/Delta manifests, parquet footer
    stats) expressed with plain parquet. Built once per scale,
    rebuilt when the source testdata changes."""
    root = FIXTURE_ROOT / f"lineitem_rangeclustered_{Path(sf_dir).name}"

    def build() -> None:
        li = load_table(spark, sf_dir, "lineitem")
        (li.repartitionByRange(_N_SKIP_FILES, "l_shipdate")
         .sortWithinPartitions("l_shipdate")
         .write.mode("overwrite").parquet(str(root / "data")))
        manifest = (spark.read.parquet(str(root / "data"))
                    .groupBy(F.input_file_name().alias("file"))
                    .agg(F.min("l_shipdate").alias("min_ship"),
                         F.max("l_shipdate").alias("max_ship")))
        manifest.coalesce(1).write.mode("overwrite").parquet(
            str(root / "manifest"))

    return derived_fixture(root, source_sig(sf_dir, "lineitem"), build)


_SKIP_LO, _SKIP_HI = "1997-03-01", "1997-05-01"


def skip_files_for_range(spark: SparkSession, root: Path,
                         lo: str, hi: str) -> list[str]:
    """Consult the file-stats manifest and return only the files whose
    [min, max] shipdate interval intersects [lo, hi) — the driver-side
    pruning step a table format's manifest read performs. The manifest
    is O(files), kilobytes at any corpus size; collecting it is the
    one intentional driver-side step in this module."""
    m = spark.read.parquet(str(root / "manifest"))
    picked = (m.where((F.col("max_ship") >= F.lit(lo))
                      & (F.col("min_ship") < F.lit(hi)))
              .select("file").collect())
    return [r.file.removeprefix("file:") for r in picked]


@query(
    "dsk1_minmax_file_skipping",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount)
                                * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS revenue_cents
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '{_SKIP_LO} 00:00:00'
      AND l_shipdate <  TIMESTAMP '{_SKIP_HI} 00:00:00'
    """,
)
def dsk1_minmax_file_skipping(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """MIN/MAX FILE SKIPPING without a table format: lineitem is
    stored range-clustered on l_shipdate (16 files, each covering a
    narrow band) with a file-stats manifest; a 2-month revenue query
    consults the manifest, reads ONLY the files whose [min, max]
    intersects the range (tests/test_plans.py asserts ≤3 of 16), and
    applies the residual filter — which parquet row-group stats then
    prune further within each file. Correctness never depends on the
    skip: the residual filter makes a wrongly-included file harmless,
    and a wrongly-EXCLUDED file fails the hash against the full-scan
    oracle — exactly the safety contract of Iceberg/Delta manifests.

    Scale: the manifest is O(files) and kilobytes even at 100 TB; the
    skip converts a time-banded query from a full-corpus scan into
    reading the intersecting band. Clustering (here range; z1's
    Z-order for multi-column) is what makes the per-file min/max
    intervals narrow enough to skip."""
    root = _range_clustered_lineitem(spark, sf_dir)
    files = skip_files_for_range(spark, root, _SKIP_LO, _SKIP_HI)
    li = spark.read.parquet(*files)
    band = li.where((F.col("l_shipdate") >= F.lit(_SKIP_LO))
                    & (F.col("l_shipdate") < F.lit(_SKIP_HI)))
    return band.agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum(F.floor(F.col("l_extendedprice")
                      * (1 - F.col("l_discount")) * 100.0 + 0.5)
              .cast("long")).cast("long").alias("revenue_cents"))


def _partitioned_bucketed_events(spark: SparkSession, sf_dir: str) -> str:
    """Events stored date-PARTITIONED and user-BUCKETED at once —
    the composed layout pr1's docstring promises ("partition by day,
    bucket by user within each day"): partitionBy(d) prunes time
    ranges to directories, bucketBy(8, user_id) pre-hashes every
    directory's files on the user key so per-user aggregations and
    user-keyed joins plan with no exchange. Same catalog + source-
    signature gating as _bucketed_tables."""
    tag = _sf_tag(sf_dir)
    tbl = f"bp1_events_{tag}"
    root = FIXTURE_ROOT / f"bp1_events_pb_{tag}"

    def build() -> None:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type", "value",
            F.to_date("ts").alias("d"))
        (ev.repartition("d", "user_id")
         .write.mode("overwrite")
         .option("path", str(root / "events"))
         .partitionBy("d")
         .bucketBy(_N_BUCKETS, "user_id").sortBy("user_id")
         .saveAsTable(tbl))

    derived_fixture(root, source_sig(sf_dir), build,
                    force=not spark.catalog.tableExists(tbl))
    return tbl


@query(
    "bp1_partitioned_bucketed_rollup",
    oracle="""
    WITH b AS (SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 10000.0 + 0.5) AS BIGINT))
                AS DOUBLE) / 10000.0 AS value_sum
    FROM events, b
    WHERE CAST(ts AS DATE) >= b.d0 + 4
      AND CAST(ts AS DATE) < b.d0 + 11
    GROUP BY user_id
    """,
)
def bp1_partitioned_bucketed_rollup(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """BOTH storage levers in ONE plan: a per-user rollup over a 7-day
    window of the date-partitioned, user-bucketed events store. The
    date filter must reach the scan as PartitionFilters (reads 7 of
    ~30 date directories) AND the groupBy(user_id) must ride the
    bucketed layout with ZERO exchanges — the scan's hash-partitioning
    on user_id (8 buckets, coalesced across the surviving date
    directories) already satisfies the aggregation's distribution.
    tests/test_plans.py asserts both properties in the same plan; this
    driver row certifies the rollup through the composed layout
    matches the oracle's full-scan WHERE + GROUP BY.

    Scale: this is the canonical event-store layout at 100 TB — time
    ranges prune to directories, and every per-user computation
    (sessionization, feature rollups, joins against user dims) runs
    shuffle-free inside bucket-aligned tasks. The one-time layout
    write amortizes the shuffle exactly as bj1's join does."""
    tbl = _partitioned_bucketed_events(spark, sf_dir)
    ev = spark.table(tbl)
    d0 = ev.agg(F.min("d")).first()[0]
    pruned = ev.where(
        (F.col("d") >= F.date_add(F.lit(d0), 4))
        & (F.col("d") < F.date_add(F.lit(d0), 11)))
    return (pruned.groupBy("user_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                 (F.sum(F.floor(F.col("value") * 10000.0 + 0.5)
                        .cast("long")).cast("double") / 10000.0)
                 .alias("value_sum")))


def _compacted_events(spark: SparkSession, sf_dir: str) -> Path:
    """A small-files events store (64 parquet files — the shape a
    streaming sink or CDC appender leaves behind) plus its compaction
    via sources/maintenance.py:compact_parquet, built once per scale
    and rebuilt whenever the source testdata changes (_DONE records
    the source signature, like every .fixtures writer). Returns the
    COMPACTED directory — the graded query reads only it, so the
    oracle hash certifies the rewrite lost and altered nothing."""
    tag = _sf_tag(sf_dir)
    root = FIXTURE_ROOT / f"cm1_compaction_{tag}"
    small, compacted = root / "small", root / "compacted"

    def build() -> None:
        from big_data_analytics_spark.sources.maintenance import (
            compact_parquet,
        )
        ev = load_table(spark, sf_dir, "events")
        ev.repartition(64).write.mode("overwrite").parquet(str(small))
        compact_parquet(spark, str(small), target_file_bytes=32 << 20,
                        out_path=str(compacted))

    derived_fixture(root, source_sig(sf_dir), build)
    return compacted


@query(
    "cm1_compaction_rollup",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 10000.0 + 0.5) AS BIGINT))
                AS BIGINT) AS value_q4
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def cm1_compaction_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction, driver-graded: the events table is
    deliberately written as 64 small parquet files (what a streaming
    sink leaves behind), compacted into ~target-size files by
    sources/maintenance.py:compact_parquet (file count from MEASURED
    input bytes, never row or core counts), and a per-(day, type)
    rollup is computed FROM THE COMPACTED STORE ONLY. The oracle runs
    the same rollup on the source table, so hash equality certifies
    the rewrite is lossless — the safety contract any OPTIMIZE-style
    table maintenance must carry. File-count reduction itself is
    asserted in tests/test_maintenance.py (counts depend on
    compression ratios, so they stay out of the graded columns).

    Scale: at 100 TB compaction is what keeps a CDC/stream-fed lake
    scannable — scan throughput collapses when footer reads and task
    scheduling dominate; the rewrite is one narrow repartition sized
    by measured bytes, embarrassingly parallel, and the read-back is
    an ordinary pruned scan."""
    path = _compacted_events(spark, sf_dir)
    ev = spark.read.parquet(str(path))
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("day", F.col("ts")),
                          "yyyy-MM-dd").alias("day"),
            "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
             F.sum(F.floor(F.col("value") * 10000.0 + 0.5).cast("long"))
             .cast("long").alias("value_q4"))
        .orderBy("day", "event_type")
    )


def _evolved_events(spark: SparkSession, sf_dir: str) -> tuple[Path, Path]:
    """A two-schema-version events store: v1 (even event_ids) was
    written BEFORE the ``value`` column existed; v2 (odd event_ids)
    carries it. Signature-gated like every .fixtures writer. The pair
    models the only free kind of schema evolution — additive columns —
    where yesterday's files must stay readable without a rewrite."""
    tag = _sf_tag(sf_dir)
    root = FIXTURE_ROOT / f"se1_evolved_{tag}"
    v1, v2 = root / "v1", root / "v2"

    def build() -> None:
        ev = load_table(spark, sf_dir, "events")
        (ev.where(F.col("event_id") % 2 == 0)
         .select("event_id", "ts", "user_id", "event_type")
         .write.mode("overwrite").parquet(str(v1)))
        (ev.where(F.col("event_id") % 2 == 1)
         .select("event_id", "ts", "user_id", "event_type", "value")
         .write.mode("overwrite").parquet(str(v2)))

    derived_fixture(root, source_sig(sf_dir), build)
    return v1, v2


@query(
    "se1_schema_evolution_rollup",
    oracle="""
    WITH unioned AS (
        SELECT event_type, CAST(NULL AS DOUBLE) AS value
        FROM events WHERE event_id % 2 = 0
        UNION ALL
        SELECT event_type, value FROM events WHERE event_id % 2 = 1
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_pre_schema,
           CAST(SUM(CAST(FLOOR(COALESCE(value, 0.0) * 10000.0 + 0.5)
                    AS BIGINT)) AS BIGINT) AS value_q4
    FROM unioned
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def se1_schema_evolution_rollup(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Additive schema evolution, driver-graded: half the events store
    was written BEFORE the ``value`` column existed; the mergeSchema
    union (sources/maintenance.py:read_evolved) must read both
    versions as one frame with the missing column as NULL — never a
    rewrite of history, never a retype. The graded rollup counts
    pre-schema rows per event type and sums the quantized value over
    the rows that have one, so the hash certifies both the union's
    completeness and the NULL semantics of the backfilled column.

    Scale: at 100 TB "read yesterday's files under today's schema" is
    the default state of a lake, not an edge case — every column
    addition splits the store into schema generations, and the only
    affordable contract is additive columns + NULL backfill at read
    (a rewrite of history is a full-corpus job)."""
    from big_data_analytics_spark.sources.maintenance import read_evolved

    v1, v2 = _evolved_events(spark, sf_dir)
    ev = read_evolved(spark, str(v1), str(v2))
    return (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
             F.sum(F.col("value").isNull().cast("long")).cast("long")
             .alias("n_pre_schema"),
             F.sum(F.floor(F.coalesce(F.col("value"), F.lit(0.0))
                           * 10000.0 + 0.5).cast("long"))
             .cast("long").alias("value_q4"))
        .orderBy("event_type")
    )
