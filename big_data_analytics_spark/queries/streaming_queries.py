"""Structured Streaming, driver-graded.

The streaming surface (streaming/events.py) was validated only by
stream==batch pytest equivalences; this module gives it a driver row.
``sm1`` runs a REAL incremental execution — file source over a
multi-file copy of the events table, ``maxFilesPerTrigger=1`` so the
aggregation genuinely accumulates state across several micro-batches,
``trigger(availableNow)`` to completion, memory sink — and returns the
final result as a batch DataFrame. Because Structured Streaming's
contract is incrementalized-batch equivalence, the finished stream
must hash-match the plain batch SQL over the same rows, which is
exactly what the DuckDB oracle states.

Scale: the same plan runs unbounded with a Kafka source — the
watermark bounds the aggregation state (late events beyond 1 day are
dropped), partial aggregation happens per micro-batch, and the memory
sink swaps for a Parquet/Delta upsert sink (streaming/events.py:
start_upsert_metrics_sink). availableNow + file-listing is the
backfill mode of the identical query.
"""

from __future__ import annotations

import itertools
import os
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from big_data_analytics_spark.caching import (
    FIXTURE_ROOT,
    derived_fixture,
    session_memo,
    source_sig,
)
from big_data_analytics_spark.catalog import load_table
from big_data_analytics_spark.operators.joins import sized_side
from big_data_analytics_spark.queries import query
from big_data_analytics_spark.streaming.events import (
    daily_event_counts,
    dedup_events_within_watermark,
    session_windows,
    user_lifetime_stats_stateful,
    view_purchase_interval_join,
)

_QNAME = itertools.count()


def _scratch(name: str, *subdirs: str) -> tuple[Path, ...]:
    """Bounded per-query scratch space (checkpoints, sink targets):
    one FIXED location under the gitignored .fixtures root, wiped at
    the start of each invocation. mkdtemp here would leak a directory
    per driver/bench run (for sm8/sm10, a full parquet copy of the
    events rollup); a fixed path caps the footprint at one copy. The
    wipe is also a correctness requirement: a stale checkpoint at a
    reused path would make the stream RESUME instead of reprocessing.
    Callers that read the target back return a lazy DataFrame over it,
    so the dir must survive until the caller's next invocation — which
    is exactly what wipe-on-entry (not on-exit) provides."""
    import shutil

    root = FIXTURE_ROOT / "scratch" / name
    if root.exists():
        shutil.rmtree(root)
    out = tuple(root / s for s in subdirs)
    for p in out:
        p.mkdir(parents=True, exist_ok=True)
    return out


def _events_stream_dir(spark: SparkSession, sf_dir: str) -> Path:
    """A multi-file Parquet copy of the (normalized) events table —
    the replayable file-source directory. Built once per scale (and
    rebuilt whenever the source testdata changes — _DONE records the
    source signature); the 4-way split makes maxFilesPerTrigger=1
    produce 4 real micro-batches instead of one."""
    root = FIXTURE_ROOT / f"events_stream_{Path(sf_dir).name}"
    return derived_fixture(
        root, source_sig(sf_dir),
        lambda: load_table(spark, sf_dir, "events").repartition(4)
        .write.parquet(str(root / "data")))


def _events_stream_dir_ordered(spark: SparkSession, sf_dir: str,
                               copies: int = 1) -> Path:
    """An EVENT-TIME-ORDERED multi-file Parquet copy of the events
    table: 4 files per copy, file k covering the k-th quarter of the
    time span, written sequentially with strictly increasing mtimes so
    the file source (which orders by modification time) replays them
    in event-time order. This models the bounded-disorder arrival a
    Kafka source with time-ordered partitions provides — the
    precondition for watermark-correct sessionization and stream-
    stream joins (a randomly-split directory makes 3/4 of the data
    arrive behind the watermark and silently drop as late).

    ``copies=2`` appends the same four ranges a second time (every
    event exactly twice) — the at-least-once redelivery fixture for
    the streaming dedup query."""
    tag = f"events_stream_ordered{'_x2' if copies == 2 else ''}"
    root = FIXTURE_ROOT / f"{tag}_{Path(sf_dir).name}"
    data = root / "data"

    def build() -> None:
        ev = load_table(spark, sf_dir, "events")
        b = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")
                   ).collect()[0]
        span = (b.hi - b.lo) / 4
        seen: set[Path] = set()
        base = 1_700_000_000
        step = 0
        for _copy in range(copies):
            for i in range(4):
                lo = b.lo + i * span
                hi_cond = (F.col("ts") <= F.lit(b.hi)) if i == 3 else (
                    F.col("ts") < F.lit(b.lo + (i + 1) * span))
                (ev.filter((F.col("ts") >= F.lit(lo)) & hi_cond)
                 .coalesce(1).write.mode("append").parquet(str(data)))
                now = set(data.glob("*.parquet"))
                for f in now - seen:
                    os.utime(f, (base + step, base + step))
                seen = now
                step += 1

    return derived_fixture(root, source_sig(sf_dir), build)


@session_memo
def _fixture_schema(spark: SparkSession, data: str, sig: str) -> StructType:
    """Schema of a derived stream fixture's Parquet files. Inferring it
    is a Spark job (70-100 ms warm), so it is memoized per session;
    ``sig`` (the source signature the fixture's ``_DONE`` records) is
    in the key so a regenerated fixture gets a fresh schema."""
    return spark.read.parquet(data).schema


def _stream_source(spark: SparkSession, root: Path,
                   files_per_trigger: int = 1) -> DataFrame:
    """The replayable file-source stream over the derived fixture at
    ``root``: ``files_per_trigger`` files per micro-batch."""
    data = str(root / "data")
    schema = _fixture_schema(spark, data, (root / "_DONE").read_text())
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", int(files_per_trigger))
            .parquet(data))


#: Streaming state partition count for the graded fixtures. The
#: sizing rule this encodes — STATE PARTITIONS SCALE WITH STATE SIZE,
#: NOT CLUSTER CORES — is a production lever, not a test shortcut:
#: every state partition pays snapshot/commit I/O per side per
#: micro-batch, so a kilobyte-scale keyed state sharded 32 ways costs
#: 32x2x(triggers) file round-trips for nothing (measured: sm7
#: 27.6 s -> 5.0 s at 4 partitions, identical results — state
#: placement never affects values). At 100 TB the same knob goes the
#: other way: set it to state_bytes / ~128 MB before the stream's
#: FIRST start (it is pinned into the checkpoint thereafter).
#:
#: REFINEMENT (round 9): the same number also shards each
#: micro-batch's INPUT, so a volume-heavy stream over tiny state is
#: input-bound at 4 partitions — sm11 at the 10x probe step (1M
#: events, 150 users) ran 59 s at 4 / 22 s at 16 / 13.7 s at 32,
#: values identical. Full-stream consumers therefore pass their
#: fixture's row count to _run_to_memory, which sizes the knob as
#: max(state floor, one partition per ~32k rows) capped at cores —
#: at the graded sf0.01/sf0.1 scales this resolves to the measured
#: sweet spot of 4 and nothing changes.
#:
#: BOUNDED-KEY EXCEPTION: sm1 passes ``partitions=1``. Its state key is
#: (1-day window, event_type), so state holds at most days x 5 keys
#: (150 on the sf0.01 events: 30 days x 5 types) whatever the event
#: volume, and each micro-batch is partially aggregated map-side before
#: the state exchange, so the exchange carries at most that many rows
#: per input partition. One partition serves it at any scale; four paid
#: three idle state stores' commit I/O per micro-batch (sm1 on the
#: sf0.01 events, local[4], 4 micro-batches, warm medians of 6
#: alternating runs: 1.84 s at 4 partitions, 1.55 s at 1; the saving
#: is all in the batches' addBatch phase, 1.10 s -> 0.81 s summed;
#: identical rows).
_STATE_PARTITIONS = 4
_ROWS_PER_STATE_PARTITION = 32_000


@contextmanager
def _state_partitions(spark: SparkSession, n: int = _STATE_PARTITIONS):
    """Pin spark.sql.shuffle.partitions (the streaming state-partition
    knob) around a stream's first start; restore afterwards so batch
    plans keep the session default.

    SINGLE-THREADED-SESSION ASSUMPTION: this mutates session-global
    conf for the duration of the stream, so a batch query planned
    concurrently on the same SparkSession would silently plan with
    ``n`` shuffle partitions. The bench and test harnesses run streams
    serially; callers that need concurrency must isolate the stream on
    ``spark.newSession()`` (own conf, shared JVM/catalog) instead."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _run_to_memory(df: DataFrame, mode: str, prefix: str,
                   input_rows: int | None = None,
                   partitions: int = _STATE_PARTITIONS) -> DataFrame:
    """Start ``df`` as an availableNow stream into a memory sink and
    block to completion; returns the sink's rows as a DataFrame. State
    partitioning right-sized via _state_partitions (``partitions`` is
    the state floor); pass ``input_rows`` (the source fixture's row
    count) from volume-heavy streams so the knob also covers per-batch
    input parallelism.

    The memory sink registers a temp view named after the query; the
    returned DataFrame is already resolved against the sink, so the
    view is dropped before returning instead of piling up one view
    (and its sink's rows) per call in the session catalog."""
    spark = df.sparkSession
    qname = f"{prefix}_{next(_QNAME)}"
    (ckpt,) = _scratch(f"{prefix}_mem", "ckpt")
    n = partitions
    if input_rows is not None:
        # cores cap applies to the VOLUME-derived term only — the
        # documented state floor must hold even when
        # defaultParallelism < _STATE_PARTITIONS (small executors)
        para = spark.sparkContext.defaultParallelism
        n = max(n, min(input_rows // _ROWS_PER_STATE_PARTITION, para))
    with _state_partitions(spark, n):
        q = (df.writeStream.format("memory").queryName(qname)
             .outputMode(mode)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()
    out = spark.table(qname)
    spark.catalog.dropTempView(qname)
    return out


@query(
    "sm1_stream_daily_metrics",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS day,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE)
               / 10000.0 AS value_sum
    FROM events
    GROUP BY 1, 2
    """,
)
def sm1_stream_daily_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day window × event_type counters computed BY THE
    STREAMING ENGINE: file source (1 file per micro-batch), watermarked
    stateful aggregation accumulating across batches, availableNow to
    completion, memory sink. The returned table is the stream's final
    state and must equal the batch aggregate — the incrementalized-
    batch contract, graded by hash against DuckDB.

    Streaming restatement of the reference's cross-batch Python
    accumulator (/root/reference/load_hbase.py:127-134,191-211), with
    state in the engine and progress in the checkpoint instead of
    driver dicts."""
    src = _stream_source(spark, _events_stream_dir(spark, sf_dir))
    # complete mode: availableNow's final watermark sits 1 day behind
    # max(ts), so append mode would hold back the last open window;
    # complete emits every window's final state. One state partition:
    # the state is bounded by days x event types (see _STATE_PARTITIONS).
    out = _run_to_memory(daily_event_counts(src), "complete", "sm1_mem",
                         partitions=1)
    return out.select(
        F.date_format("day", "yyyy-MM-dd HH:mm:ss").alias("day"),
        "event_type", "n_events", "value_sum")


@query(
    "sm2_stream_sessions",
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
    ), sess AS (
        SELECT user_id,
               MIN(ts) AS st,
               MAX(ts) + INTERVAL 30 MINUTE AS en,
               COUNT(*) AS n_events
        FROM numbered GROUP BY user_id, session_seq
    ), wm AS (
        SELECT date_trunc('milliseconds', MAX(ts)) AS w FROM events
    )
    SELECT user_id,
           strftime(st, '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           strftime(en, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
           n_events
    FROM sess, wm WHERE en <= w
    """,
)
def sm2_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization computed BY THE STREAMING ENGINE:
    ``session_window`` state across 4 event-time-ordered micro-
    batches, watermark delay 0, append mode — so the emitted rows are
    exactly the sessions the engine FINALIZED (evicted) by the end of
    the backfill.

    The oracle states the append-mode contract precisely: a session
    is emitted iff its window end (last event + 30 min gap) is <= the
    final watermark, which Spark truncates to whole milliseconds.
    Everything else — here, sessions still open in the last 30+ min
    of the fixture — remains in state awaiting more data, exactly as
    an unbounded deployment would hold it. The time-ordered source
    matters: with randomly-split files 3/4 of events arrive behind
    the watermark and are dropped as late (measured: 4,878 of 9,549
    sessions emitted), which is the documented late-data semantics,
    not a correctness escape — Kafka/file sources in production are
    time-ordered per partition, the case modeled here.

    Streaming restatement of w7_sessionize_events; stream==batch
    equivalence for the helper is separately pytest-asserted
    (tests/test_streaming.py)."""
    root = _events_stream_dir_ordered(spark, sf_dir)
    src = _stream_source(spark, root)
    sess = session_windows(src, gap="30 minutes", watermark="0 seconds")
    return _run_to_memory(sess, "append", "sm2_mem").select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .alias("session_end"),
        "n_events")


@query(
    "sm3_stream_dedup_ingest",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE)
               / 10000.0 AS value_sum
    FROM events
    GROUP BY event_type
    """,
)
def sm3_stream_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once ingest over an at-least-once source: the stream
    directory contains EVERY EVENT TWICE (a full redelivery), the
    plan chains streaming dropDuplicates(event_id) into a running
    per-type aggregate, and the finished stream must equal the
    batch aggregate over each event ONCE — which is what the oracle
    states. 8 micro-batches, two stateful operators chained
    (dedup feeding aggregation), complete mode.

    Unbounded deployments swap the plain dropDuplicates for
    dropDuplicatesWithinWatermark (streaming/events.py:72) so dedup
    state is bounded by the redelivery horizon instead of the key
    space; for an availableNow backfill the full-state form is the
    exact contract."""
    root = _events_stream_dir_ordered(spark, sf_dir, copies=2)
    src = _stream_source(spark, root)
    deduped = src.dropDuplicates(["event_id"])
    agg = deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(F.floor(F.col("value") * 10000.0 + 0.5)).cast("double")
         / 10000.0).alias("value_sum"))
    return _run_to_memory(agg, "complete", "sm3_mem")


@query(
    "sm4_stream_stream_join",
    oracle="""
    SELECT v.event_id AS view_id,
           p.event_id AS purchase_id,
           v.user_id,
           epoch_us(p.ts) - epoch_us(v.ts) AS gap_us,
           p.value AS purchase_value
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
    """,
)
def sm4_stream_stream_join(spark: SparkSession, sf_dir: str,
                           files_per_trigger: int = 1) -> DataFrame:
    """Stream-stream interval join executed BY THE STREAMING ENGINE:
    views and purchases are two watermarked streams over the same
    event-time-ordered source; every (view, purchase-within-30-min)
    pair must come out, hash-equal to the batch interval join.

    Why no pair can be lost to state eviction: files are time-
    ordered, the watermark delay (1 h) exceeds the join horizon
    (30 min), and a view's state is only evicted once the watermark
    passes view_ts + horizon — any purchase that could still match
    arrives before that, because it is at most 30 min younger than
    the view while the watermark lags the newest data by a full
    hour. That inequality (delay > horizon + max disorder) is the
    production sizing rule this query certifies; ij1 grades the
    identical join shape in batch.

    ``files_per_trigger`` is the TRIGGER-SIZING knob: the per-trigger
    cost of a stream-stream join is dominated by state-store
    maintenance (two stateful sides snapshot + evict every
    micro-batch), so an availableNow BACKFILL should batch as many
    files per trigger as memory allows — files_per_trigger >= the
    file count collapses the run to ONE trigger and pays state
    overhead once (the SCALE.md backfill guidance; ~2x faster on the
    4-file fixture, more at scale). The graded default stays 1 so
    the query certifies real multi-batch incremental execution with
    watermark-driven eviction between triggers."""
    root = _events_stream_dir_ordered(spark, sf_dir)
    src = _stream_source(spark, root, files_per_trigger)
    joined = view_purchase_interval_join(
        src, horizon="30 minutes", watermark="1 hour")
    return _run_to_memory(joined, "append", "sm4_mem").select(
        "view_id", "purchase_id", "user_id", "gap_us", "purchase_value")


@query(
    "sm5_stream_static_enrich",
    oracle="""
    SELECT c.c_mktsegment AS mktsegment,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(e.value * 10000.0 + 0.5) AS BIGINT))
                AS DOUBLE) / 10000.0 AS value_sum
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
)
def sm5_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join — the remaining canonical
    Structured Streaming shape after sm1-sm4 (agg / sessions / dedup /
    stream-stream): the event stream joins the STATIC customer
    dimension inside every micro-batch, then aggregates per market
    segment across batches. File source with 1 file per trigger (4
    real micro-batches of accumulated state), availableNow to
    completion, memory sink; the finished stream must equal the plain
    batch join+aggregate — the incrementalized-batch contract, graded
    by hash against DuckDB.

    Scale: a stream-static join re-plans the static side per
    micro-batch — Spark broadcasts the dim when it fits (asserted in
    tests/test_plans.py for the batch twin j1), so the streaming side
    never shuffles; dimension updates between batches are picked up
    on re-plan, which is exactly how slowly-changing enrichment dims
    behave in production. State kept by the engine is only the
    |segments|-row aggregate."""
    root = _events_stream_dir(spark, sf_dir)
    src = _stream_source(spark, root)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment")
    # customer SCALES with SF: measure (parquet metadata count, paid
    # once at plan time) and pin — broadcast under the ceiling,
    # shuffled stream-static join past it
    enriched = src.join(sized_side(cust, cust.count()),
                        src.user_id == cust.c_custkey)
    agg = (enriched.groupBy(F.col("c_mktsegment").alias("mktsegment"))
           .agg(F.count("*").alias("n_events"),
                F.sum(F.floor(F.col("value") * 10000.0 + 0.5)
                      .cast("long")).alias("_vq"))
           .select("mktsegment", "n_events",
                   (F.col("_vq").cast("double") / 10000.0)
                   .alias("value_sum")))
    return _run_to_memory(agg, "complete", "sm5_mem")


@query(
    "sm6_stream_stateful_user_totals",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 10000.0 + 0.5) AS BIGINT))
                AS DOUBLE) / 10000.0 AS value_sum
    FROM events GROUP BY user_id
    """,
)
def sm6_stream_stateful_user_totals(spark: SparkSession,
                                    sf_dir: str,
                                    files_per_trigger: int = 1) -> DataFrame:
    """CUSTOM stateful operator executed by the streaming engine:
    per-user lifetime totals accumulated in applyInPandasWithState
    Python state across 4 real micro-batches (streaming/events.py
    user_lifetime_stats_stateful — the reference's cross-batch
    accumulator dicts, load_hbase.py:178-180, under managed state) —
    graded by hash against the plain batch groupBy. The state holds
    the EXACT INTEGER 1e-4 fixed-point sum, so the final division is
    bit-identical to the oracle's SUM(quantized)/1e4 regardless of
    how events split across batches.

    The update-mode sink accumulates one row per (user, batch-with-
    activity); n_events is strictly increasing within a user, so the
    final lifetime row is max_by(n_events) — a keyed mergeable
    aggregate, no windows. Scale: state is 2 BIGINTs per user,
    partitioned by user_id; the Arrow transfer batches per group —
    the sanctioned tier-3 escape hatch for state Spark's built-in
    aggregates can't hold (asserted as FlatMapGroupsInPandasWithState
    in tests/test_plans.py).

    ``files_per_trigger`` is sm4's trigger-sizing knob: the graded
    default (1) forces 4 real micro-batches; a backfill sets it >=
    the file count to pay state snapshot/commit once instead of per
    trigger. Identical output either way (the state fold is
    commutative and the final max_by rollup reads only the last row
    per user) — asserted in tests/test_streaming.py; the measured
    delta is SCALE.md's "sm6/sm11 trigger-count A/B"."""
    return _user_totals_stream(spark, sf_dir, files_per_trigger, "sm6_mem")


def _user_totals_stream(spark: SparkSession, sf_dir: str,
                        files_per_trigger: int, prefix: str) -> DataFrame:
    """Shared body of sm6/sm14 — identical logical stream, so the ONLY
    degree of freedom between the two graded rows is the state-store
    provider conf active at stream start (sm14's RocksDB swap)."""
    root = _events_stream_dir(spark, sf_dir)
    updates = user_lifetime_stats_stateful(
        _stream_source(spark, root, files_per_trigger))
    rows = spark.read.parquet(str(root / "data")).count()
    return (_run_to_memory(updates, "update", prefix, input_rows=rows)
            .groupBy("user_id")
            .agg(F.max("n_events").cast("long").alias("n_events"),
                 F.max_by("value_sum", "n_events").alias("value_sum")))


@query(
    "sm7_stream_stream_left_outer",
    oracle="""
    WITH cutoff AS (
        SELECT MAX(ts) - INTERVAL 2 HOUR AS c FROM events
    ), v AS (
        SELECT event_id AS view_id, user_id, ts AS view_ts
        FROM events, cutoff
        WHERE event_type = 'view' AND ts < c
    ), p AS (
        SELECT event_id AS purchase_id, user_id AS buyer_id,
               ts AS purchase_ts, value AS purchase_value
        FROM events WHERE event_type = 'purchase'
    )
    SELECT v.view_id, v.user_id, p.purchase_id,
           epoch_us(p.purchase_ts) - epoch_us(v.view_ts) AS gap_us,
           p.purchase_value,
           CASE WHEN p.purchase_id IS NULL THEN 1 ELSE 0 END
               AS unconverted
    FROM v LEFT JOIN p
      ON v.user_id = p.buyer_id
     AND p.purchase_ts >= v.view_ts
     AND p.purchase_ts <= v.view_ts + INTERVAL 30 MINUTE
    """,
)
def sm7_stream_stream_left_outer(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join executed by the
    streaming engine: sm4's attribution join, but UNCONVERTED views
    (no purchase within 30 min) must come out too, as null-padded
    rows — the abandonment feed. This is a semantically distinct
    streaming contract from the inner join: a null row is only
    CORRECT once no matching purchase can still arrive, so the
    engine emits it when the watermark passes view_ts + horizon;
    until then the view sits in state as a candidate.

    Finalization cutoff: with availableNow the final watermark rests
    at max(ts) - 1 h, so views younger than max(ts) - (watermark +
    horizon) are still open when the stream ends — their outer rows
    never emit. The graded output therefore restricts to views with
    view_ts < max(ts) - 2 h (30 min inside the finalized region —
    strict inequality keeps boundary semantics out of the hash), and
    the oracle applies the identical cutoff to the batch left join.
    That cutoff IS the production contract: an outer-join consumer
    always reads results watermark+horizon behind the stream head."""
    root = _events_stream_dir_ordered(spark, sf_dir)
    src = _stream_source(spark, root)
    joined = view_purchase_interval_join(
        src, horizon="30 minutes", watermark="1 hour",
        join_type="left_outer")
    out = _run_to_memory(joined, "append", "sm7_mem")
    cut = (spark.read.parquet(str(root / "data"))
           .agg((F.max("ts") - F.expr("INTERVAL 2 HOURS")).alias("c")))
    return (out
            .join(F.broadcast(cut), F.col("view_ts") < F.col("c"))
            .select("view_id", "user_id", "purchase_id", "gap_us",
                    "purchase_value",
                    F.when(F.col("purchase_id").isNull(), 1).otherwise(0)
                    .alias("unconverted")))


@query(
    "sm8_stream_upsert_parquet_sink",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS day,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE)
               / 10000.0 AS value_sum
    FROM events
    GROUP BY 1, 2
    """,
)
def sm8_stream_upsert_parquet_sink(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """The PRODUCTION SINK path graded: sm1 proves the stateful rollup
    in a memory sink; this runs the same rollup through the real
    exactly-once Parquet upsert (streaming/events.py
    start_stateful_upsert_sink — update-mode stateful aggregate,
    foreachBatch dynamic overwrite of exactly the changed
    (day, event_type) partitions) over 4 time-ordered micro-batches,
    then READS THE TARGET BACK and hash-grades it against the batch
    oracle. What this certifies beyond sm1: update-mode emission
    (current cumulative value per changed key, every trigger),
    key-grained partition overwrite (a coarser partition would drop
    unchanged sibling keys), and that the on-disk result of the whole
    stream → sink → read-back loop equals one batch aggregate —
    the streaming restatement of the reference's HBase loader
    (/root/reference/load_hbase.py:191-217) with idempotent replays
    and checkpointed progress instead of driver dicts."""
    root = _events_stream_dir_ordered(spark, sf_dir)
    src = _stream_source(spark, root)
    target, ckpt = (str(d) for d in
                    _scratch(f"sm8_{Path(sf_dir).name}", "target", "ckpt"))
    from big_data_analytics_spark.streaming.events import (
        start_stateful_upsert_sink,
    )
    with _state_partitions(spark):
        q = start_stateful_upsert_sink(src, target, ckpt)
        q.awaitTermination()
    return (spark.read.parquet(target)
            .select(F.date_format("day", "yyyy-MM-dd HH:mm:ss")
                    .alias("day"),
                    "event_type", "n_events", "value_sum"))


@query(
    "sm10_stream_crash_recovery",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS day,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE)
               / 10000.0 AS value_sum
    FROM events
    GROUP BY 1, 2
    """,
)
def sm10_stream_crash_recovery(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Exactly-once graded as a RECOVERY claim: run sm8's stream →
    stateful-upsert-sink pipeline, but kill the query in the WORST
    window — after trigger 2's target write landed on disk, before
    the checkpoint commit log recorded it — then restart from the
    same checkpoint, run to completion, and return the read-back
    target. The oracle is sm8's plain batch aggregate: a green hash
    means the restart replayed the uncommitted batch against the
    partially-written target and the dynamic partition overwrite made
    that replay byte-idempotent (the property "exactly-once" rests
    on). The query itself asserts the crash fired mid-stream and that
    the checkpoint showed genuine partial progress (batch 0 committed,
    batch 1 not) before recovering — if the failure injection ever
    stops firing, the row errors rather than silently grading sm8's
    crash-free path. Pytest's twin
    (tests/test_streaming.py::test_stateful_upsert_sink_mid_stream_
    crash_recovery) proves the same on the unordered split; this row
    puts the recovery semantics under the driver's hash gate on the
    production-shaped time-ordered fixture."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from big_data_analytics_spark.streaming.events import (
        start_stateful_upsert_sink,
    )

    root = _events_stream_dir_ordered(spark, sf_dir)
    target, ckpt = (str(d) for d in
                    _scratch(f"sm10_{Path(sf_dir).name}", "target", "ckpt"))
    crashed: list[int] = []

    def crash_once(batch_id: int) -> None:
        if batch_id == 1 and not crashed:
            crashed.append(batch_id)
            raise RuntimeError("injected crash after batch 1 target write")

    with _state_partitions(spark):
        q = start_stateful_upsert_sink(_stream_source(spark, root), target,
                                       ckpt, on_batch_committed=crash_once)
        try:
            q.awaitTermination()
            raise RuntimeError(
                "sm10 failure injection did not fire — the stream "
                "completed crash-free; the row would not be grading "
                "recovery")
        except StreamingQueryException:
            pass
        commits = set(os.listdir(os.path.join(ckpt, "commits")))
        if crashed != [1] or "1" in commits or "0" not in commits:
            raise RuntimeError(
                f"sm10 crash window not as claimed: crashed={crashed}, "
                f"commits={sorted(commits)} — expected batch 0 "
                "committed and batch 1 written-but-uncommitted")
        q2 = start_stateful_upsert_sink(_stream_source(spark, root), target,
                                        ckpt)
        q2.awaitTermination()
    return (spark.read.parquet(target)
            .select(F.date_format("day", "yyyy-MM-dd HH:mm:ss")
                    .alias("day"),
                    "event_type", "n_events", "value_sum"))


def _events_stream_dir_redelivery(spark: SparkSession, sf_dir: str) -> Path:
    """The LATE-DATA fixture: four files arriving as Q2, Q2 again,
    Q4, Q2 a third time (strictly increasing mtimes, one file per
    micro-batch). Quarter boundaries are INTEGER-MICROSECOND
    arithmetic — lo_us + i * ((hi_us - lo_us) // 4) — so the DuckDB
    oracle reproduces the file contents exactly with epoch_us() and
    integer division, never floating-point timestamp math.

    The shape models at-least-once redelivery against a watermark:
    the second Q2 copy arrives one batch after the original (some
    rows still inside the watermark -> accepted, double-counted;
    the rest dropped), and the third copy arrives after Q4 pushed
    the watermark far past Q2 (every row dropped)."""
    root = FIXTURE_ROOT / f"events_stream_redelivery_{Path(sf_dir).name}"
    data = root / "data"

    def build() -> None:
        ev = load_table(spark, sf_dir, "events")
        b = ev.agg(F.min(F.unix_micros("ts")).alias("lo"),
                   F.max(F.unix_micros("ts")).alias("hi")).collect()[0]
        span = (b.hi - b.lo) // 4
        t = F.unix_micros("ts")
        q2 = ev.filter((t >= b.lo + span) & (t < b.lo + 2 * span))
        q4 = ev.filter(t >= b.lo + 3 * span)
        seen: set[Path] = set()
        base = 1_700_000_000
        for step, sl in enumerate((q2, q2, q4, q2)):
            sl.coalesce(1).write.mode("append").parquet(str(data))
            now = set(data.glob("*.parquet"))
            for f in now - seen:
                os.utime(f, (base + step, base + step))
            seen = now

    return derived_fixture(root, source_sig(sf_dir), build)


def _sm9_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared body for sm9: hourly windowed counts over the
    redelivery fixture, append mode, one file per micro-batch."""
    root = _events_stream_dir_redelivery(spark, sf_dir)
    # delay = span/8 rounded down to whole seconds (the fixture's Q2
    # starts at lo_us + span; recover span from the full table to
    # keep the delay identical to the oracle's formula)
    ev = load_table(spark, sf_dir, "events")
    full = ev.agg(F.min(F.unix_micros("ts")).alias("lo"),
                  F.max(F.unix_micros("ts")).alias("hi")).collect()[0]
    span = (full.hi - full.lo) // 4
    delay_s = span // 8 // 1_000_000

    src = _stream_source(spark, root)
    agg = (src.withWatermark("ts", f"{delay_s} seconds")
           .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.sum(F.floor(F.col("value") * 10000.0 + 0.5)
                      .cast("long")).alias("vq")))
    hourly = agg.select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "event_type", "n_events",
        (F.col("vq").cast("double") / 10000.0).alias("value_sum"))
    return (_run_to_memory(hourly, "append", "sm9_mem")
            .orderBy("hour", "event_type"))


@query(
    "sm9_stream_late_data_accounting",
    oracle="""
    WITH b AS (SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi
               FROM events),
    s AS (SELECT lo, hi, (hi - lo) // 4 AS span,
                 ((hi - lo) // 4) // 8 // 1000000 * 1000000 AS d
          FROM b),
    q2 AS (SELECT e.* FROM events e, s
           WHERE epoch_us(ts) >= lo + span
             AND epoch_us(ts) < lo + 2 * span),
    q4 AS (SELECT e.* FROM events e, s
           WHERE epoch_us(ts) >= lo + 3 * span),
    wm AS (SELECT
        (SELECT epoch_us(date_trunc('milliseconds', max(ts))) FROM q2)
            - (SELECT d FROM s) AS wm_filter,
        greatest(
            (SELECT epoch_us(date_trunc('milliseconds', max(ts))) FROM q4),
            (SELECT epoch_us(date_trunc('milliseconds', max(ts))) FROM q2))
            - (SELECT d FROM s) AS wm_emit),
    contrib AS (
        SELECT ts, event_type, value,
               2 + CASE WHEN epoch_us(date_trunc('hour', ts)
                                      + INTERVAL 1 HOUR)
                             > (SELECT wm_filter FROM wm)
                        THEN 1 ELSE 0 END AS m
        FROM q2
        UNION ALL
        SELECT ts, event_type, value, 1 AS m FROM q4),
    emit AS (
        SELECT * FROM contrib
        WHERE epoch_us(date_trunc('hour', ts) + INTERVAL 1 HOUR)
              <= (SELECT wm_emit FROM wm))
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type,
           CAST(SUM(m) AS BIGINT) AS n_events,
           CAST(SUM(m * CAST(FLOOR(value * 10000.0 + 0.5) AS BIGINT))
                AS DOUBLE) / 10000.0 AS value_sum
    FROM emit GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def sm9_stream_late_data_accounting(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """WATERMARK SEMANTICS graded end-to-end: hourly windowed counts
    in APPEND mode over an at-least-once redelivery arrival (Q2, Q2
    again, Q4, Q2 a third time; one file per micro-batch), where the
    engine must (a) accept the second copy — the watermark hasn't
    advanced yet — (b) drop most of the third copy as late, keeping
    only windows still open, and (c) hold windows beyond the final
    watermark back from the append output. The oracle restates all
    three rules in SQL, so the hash pins the engine's exact
    late-data/eviction behavior, not just the happy path.

    MEASURED Spark semantics the oracle encodes (pinned empirically
    on this engine version via StreamingQueryProgress: the late-row
    FILTER in batch k uses the watermark computed from event-time
    stats through batch k-2, while EMISSION/eviction at the end of
    batch k uses stats through batch k-1; watermark = ms-truncated
    max event time minus the delay):
    - copy 1 (batch 0) and copy 2 (batch 1) of Q2 are both fully
      accepted — batch 1's filter watermark is still the initial 0;
    - copy 3 (batch 3) filters against max(Q2) - delay: windows
      ending at or before it are DROPPED (late), open windows gain a
      third count;
    - the append output at availableNow completion contains exactly
      the windows ending at or before max(all) - delay — Q4's tail
      stays in state, unemitted.
    Boundary ties are impossible by construction: hour-window ends
    are whole hours while the watermark carries the max event time's
    sub-second fraction (delay is whole seconds), so the <=/< choice
    cannot affect the result.

    The delay is span/8 rounded down to whole seconds, derived from
    the same integer-microsecond quarter arithmetic the fixture
    writer uses — both engines compute identical boundaries with
    integer division, no floating-point timestamp math anywhere.

    Scale: this is the property that makes unbounded ingestion
    bounded — state is O(open windows), late rows cost nothing, and
    redelivered data cannot double-count finalized windows (the
    exactly-once upsert sink sm8 composes on top)."""
    return _sm9_run(spark, sf_dir)


_SM11_DRIFT = 5_500   # fixed in-control level + allowance, cents
_SM11_H = 20_000      # alarm threshold, cents


@query(
    "sm11_stream_cusum",
    oracle=f"""
    WITH v AS (
        SELECT user_id, ts, event_id,
               CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS vc
        FROM events
    ), cum AS (
        SELECT user_id, ts, event_id,
               SUM(vc - {_SM11_DRIFT}) OVER w AS c
        FROM v
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING)
    ), mins AS (
        SELECT *, MIN(c) OVER w AS cmin
        FROM cum
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING)
    ), su AS (
        SELECT user_id, ts, event_id,
               c - LEAST(0, cmin) AS s_t
        FROM mins
    ), fa AS (
        SELECT user_id, event_id AS first_eid,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM su WHERE s_t > {_SM11_H}
    )
    SELECT a.user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN s_t > {_SM11_H} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_alarms,
           CAST(MAX(s_t) AS BIGINT) AS cusum_peak_cents,
           CAST(MAX(f.first_eid) AS BIGINT) AS first_alarm_event_id
    FROM su a LEFT JOIN (SELECT user_id, first_eid FROM fa WHERE rn = 1) f
      ON a.user_id = f.user_id
    GROUP BY a.user_id
    """,
)
def sm11_stream_cusum(spark: SparkSession, sf_dir: str,
                      files_per_trigger: int = 1) -> DataFrame:
    """Per-user CUSUM changepoint detection executed BY THE STREAMING
    ENGINE as the true per-event recursion — the incremental twin
    ts7's batch Lindley closed form stands in for. Four event-time-
    ordered micro-batches drive streaming/events.py
    cusum_alarms_stateful (applyInPandasWithState, five int64s of
    state per user); the oracle restates the recursion's fixed point
    with the same closed form the batch query uses, against a FIXED
    in-control level (ts7 uses the user's own mean, which a stream
    cannot know upfront — the honest difference between the two).
    A hash match here proves recursion == closed form AND that the
    incremental execution is exact across arbitrary batch splits.

    ORDER-SENSITIVE state is the point: unlike sm6's commutative
    sums, CUSUM needs its events in time order, so this query rides
    the ordered fixture (disjoint increasing time ranges per
    micro-batch — the Kafka time-ordered-partition contract) and
    sorts within each batch. The update-mode sink accumulates one row
    per (user, active batch); n_events is strictly increasing within
    a user, so the lifetime row is max_by(n_events) — the sm6
    finalization pattern.

    ``files_per_trigger``: sm4/sm6's trigger-sizing knob. Safe here
    despite the order-sensitive state because the operator sorts
    WITHIN each batch and the fixture's files carry disjoint
    increasing time ranges — one merged batch sorts to the same
    global order the 4-batch replay consumes. Identical output
    asserted in tests/test_streaming.py."""
    from big_data_analytics_spark.streaming.events import (
        cusum_alarms_stateful,
    )
    root = _events_stream_dir_ordered(spark, sf_dir)
    updates = cusum_alarms_stateful(
        _stream_source(spark, root, files_per_trigger), _SM11_DRIFT, _SM11_H)
    rows = spark.read.parquet(str(root / "data")).count()
    return (_run_to_memory(updates, "update", "sm11_mem", input_rows=rows)
            .groupBy("user_id")
            .agg(F.max("n_events").cast("long").alias("n_events"),
                 F.max_by("n_alarms", "n_events").cast("long")
                 .alias("n_alarms"),
                 F.max_by("cusum_peak_cents", "n_events").cast("long")
                 .alias("cusum_peak_cents"),
                 F.max_by("first_alarm_event_id", "n_events")
                 .cast("long").alias("first_alarm_event_id")))


@query(
    "sm12_stream_chained_windows",
    oracle="""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h, event_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ), wm AS (
        SELECT date_trunc('milliseconds', MAX(ts)) AS w FROM events
    ), daily AS (
        SELECT date_trunc('day', h) AS d, event_type,
               CAST(COUNT(*) AS BIGINT) AS n_hours,
               CAST(SUM(n) AS BIGINT) AS n_events,
               CAST(MAX(n) AS BIGINT) AS peak_hour_events
        FROM hourly GROUP BY 1, 2
    )
    SELECT strftime(d, '%Y-%m-%d') AS day, event_type,
           n_hours, n_events, peak_hour_events
    FROM daily, wm WHERE d + INTERVAL 1 DAY <= w
    """,
)
def sm12_stream_chained_windows(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """CHAINED stateful aggregations in one streaming query — the
    multiple-stateful-operator capability (Spark 3.5+/4.x): an hourly
    tumbling-window count per event type feeds a SECOND windowed
    aggregation (daily rollup of the hourly rows via
    ``window(window_time(...))``) inside the same incremental plan.
    This is the streaming form of a tiered rollup (raw -> hourly ->
    daily) that previously required two jobs with an intermediate
    sink; no other sm entry exercises operator chaining. Emits per
    closed day and type: hours seen, total events, and the peak
    hour's count (the intra-day burst statistic a rate-limiter or
    capacity planner reads).

    Append-mode contract (the sm2 discipline, stated by the oracle):
    a daily row is emitted iff the final watermark — max event time
    truncated to whole milliseconds, delay 0 — has passed the day's
    end; its hourly inputs are then complete by construction (every
    hour of a closed day closed first), and the time-range-ordered
    4-file source keeps the watermark monotone so nothing is dropped
    as late (the sm1/sm2 fixture property). Days still open at the
    fixture's edge stay in state, exactly as an unbounded deployment
    would hold them.

    Scale shape: state is two keyed stores — (hour, type) pre-
    eviction and (day, type) — both bounded by the watermark horizon,
    never by stream length; each micro-batch partial-aggregates
    map-side before either store. The chain saves the intermediate
    sink's full write/read round-trip at any scale."""
    root = _events_stream_dir_ordered(spark, sf_dir)
    src = _stream_source(spark, root)
    hourly = (src.withWatermark("ts", "0 seconds")
              .groupBy(F.window("ts", "1 hour").alias("hw"),
                       "event_type")
              .agg(F.count(F.lit(1)).cast("long").alias("n")))
    daily = (hourly
             .groupBy(F.window(F.window_time("hw"), "1 day").alias("dw"),
                      "event_type")
             .agg(F.count(F.lit(1)).cast("long").alias("n_hours"),
                  F.sum("n").cast("long").alias("n_events"),
                  F.max("n").cast("long").alias("peak_hour_events")))
    return _run_to_memory(daily, "append", "sm12_mem").select(
        F.date_format(F.col("dw.start"), "yyyy-MM-dd").alias("day"),
        "event_type", "n_hours", "n_events", "peak_hour_events")


@query(
    "sm13_stream_dedup_within_watermark",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE)
               / 10000.0 AS value_sum
    FROM events
    GROUP BY event_type
    """,
)
def sm13_stream_dedup_within_watermark(spark: SparkSession,
                                       sf_dir: str,
                                       files_per_trigger: int = 1
                                       ) -> DataFrame:
    """sm3's exactly-once ingest rebuilt on the PRODUCTION state
    mechanism: ``dropDuplicatesWithinWatermark`` (via
    streaming/events.py:dedup_events_within_watermark) keeps per-key
    dedup state only until the watermark passes the key's event time
    plus the delay, so state is bounded by (key arrival rate x
    redelivery horizon) instead of growing with the key space forever
    like sm3's plain dropDuplicates — THE difference between a
    backfill-only plan and one that survives an unbounded Kafka
    deployment. The 45-day delay covers the fixture's full
    redelivery (the doubled source replays every event after the
    first pass completes), so the contract is the same as sm3's:
    every event counted ONCE, which the batch oracle states. Three
    stateful operators' worth of plumbing (watermark -> keyed dedup
    state -> running aggregate), complete mode, 8 micro-batches.

    At 100 TB the delay shrinks to the actual redelivery horizon
    (minutes-hours) and state stays kilobytes per key-arrival-window;
    the first driver row for the operator that was previously only
    documented as the production swap-in.

    ``files_per_trigger``: sm4/sm6's trigger-sizing knob, measured on
    sm13 in round 13 (SCALE.md): the graded default 1 certifies real
    multi-batch execution with state carried across 8 triggers; a
    backfill caller passes >= the file count to collapse to one
    trigger and pay dedup-state snapshot/eviction once —
    dropDuplicatesWithinWatermark dedupes within a batch exactly as
    it does against carried state, so the output is identical
    (asserted in tests/test_streaming.py)."""
    root = _events_stream_dir_ordered(spark, sf_dir, copies=2)
    src = _stream_source(spark, root, files_per_trigger)
    deduped = dedup_events_within_watermark(src, watermark="45 days")
    agg = deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(F.floor(F.col("value") * 10000.0 + 0.5)).cast("double")
         / 10000.0).alias("value_sum"))
    return _run_to_memory(agg, "complete", "sm13_mem")


_ROCKSDB_PROVIDER = ("org.apache.spark.sql.execution.streaming.state."
                     "RocksDBStateStoreProvider")


@contextmanager
def _state_store_provider(spark: SparkSession, provider: str):
    """Pin spark.sql.streaming.stateStore.providerClass around a
    stream's FIRST start (the provider is then recorded in the
    checkpoint's offset log — a restart under a different provider
    fails fast rather than corrupting state); restore afterwards so
    sibling streams keep the session default. Same single-threaded-
    session assumption as _state_partitions."""
    key = "spark.sql.streaming.stateStore.providerClass"
    try:
        old = spark.conf.get(key)
    except Exception:
        old = None
    spark.conf.set(key, provider)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


@query(
    "sm14_stream_user_totals_rocksdb",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 10000.0 + 0.5) AS BIGINT))
                AS DOUBLE) / 10000.0 AS value_sum
    FROM events GROUP BY user_id
    """,
)
def sm14_stream_user_totals_rocksdb(spark: SparkSession,
                                    sf_dir: str,
                                    files_per_trigger: int = 1
                                    ) -> DataFrame:
    """sm6's stateful per-user lifetime totals executed under the
    RocksDB state-store provider — the documented PRODUCTION swap-in
    (VERDICT r13 task 8), now a graded row instead of a README claim.
    The default HDFS-backed provider keeps every key's state as JVM
    heap objects, so executor memory bounds total state; RocksDB
    keeps state off-heap in an embedded LSM store with changelog/
    snapshot files in the checkpoint, which is what lets a 1000-
    executor deployment hold per-user state for ~1e9 users (state
    size bounded by local disk, not heap) and is the provider every
    large Structured Streaming deployment actually runs. Both sides
    of the trade are MEASURED (SCALE.md r14 + r15): below heap-scale state RocksDB is
    pure commit overhead; at 16M keys on a 2g heap the HDFS
    provider's in-heap state map OOMs the stream while RocksDB
    completes the identical aggregation — the crossover this row
    exists to document.

    The swap is CONFIG ONLY — spark.sql.streaming.stateStore
    .providerClass pinned around the stream's first start; the
    logical plan, the applyInPandasWithState fold, and the final
    max_by rollup are byte-for-byte sm6's (shared body:
    _user_totals_stream), so a hash divergence from sm6's green
    oracle row would isolate the provider as the cause. Provider
    choice must never affect VALUES — both providers implement the
    same versioned KV contract — and that invariance is exactly what
    this row grades (plus tests/test_streaming.py, which also
    asserts RocksDB artifacts actually landed in the checkpoint's
    state directory, so a silently-ignored conf can't fake the row
    green)."""
    with _state_store_provider(spark, _ROCKSDB_PROVIDER):
        return _user_totals_stream(spark, sf_dir, files_per_trigger,
                                   "sm14_mem")
