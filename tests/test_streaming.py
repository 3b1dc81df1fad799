"""Streaming surface: each streaming query must produce exactly the
batch result on the same data (Structured Streaming's incrementalized-
batch correctness model), exercised with a file source replayed in
multiple micro-batches via maxFilesPerTrigger + availableNow."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from big_data_analytics_spark.catalog import load_table
from big_data_analytics_spark.streaming.events import (
    daily_event_counts,
    running_user_totals,
    session_windows,
    stream_from_parquet,
)
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def event_dir(spark):
    """events table re-written as 4 parquet files (4 micro-batches),
    with the nanos ts already normalized to TimestampType."""
    d = tempfile.mkdtemp(prefix="events_stream_")
    load_table(spark, SF_SMOKE, "events").repartition(4).write.mode(
        "overwrite").parquet(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _run_stream(spark, event_dir, transform, output_mode):
    batch_df = spark.read.parquet(event_dir)
    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)   # force multiple micro-batches
        .parquet(event_dir)
    )
    q = (
        transform(stream)
        .writeStream.format("memory")
        .queryName(f"q_{transform.__name__}")
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM q_{transform.__name__}"), batch_df


def _canon(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_daily_counts_stream_equals_batch(spark, event_dir):
    got, batch = _run_stream(spark, event_dir, daily_event_counts, "complete")
    expected = daily_event_counts(batch)
    cols = ["day", "event_type", "n_events", "value_sum"]
    assert _canon(got, cols) == _canon(expected, cols)
    assert len(_canon(got, cols)) > 0


def test_session_windows_stream_equals_batch(spark, event_dir):
    """Watermark wider than the data span → no late drops → stream
    must equal batch exactly. (Files replay in arbitrary event-time
    order, so a narrow watermark legitimately drops data — covered by
    test_narrow_watermark_drops_late_events.)"""

    def wide(ev):
        return session_windows(ev, gap="30 minutes", watermark="60 days")

    got, batch = _run_stream(spark, event_dir, wide, "complete")
    expected = wide(batch)
    cols = ["user_id", "session_start", "session_end", "n_events"]
    assert _canon(got, cols) == _canon(expected, cols)


def test_narrow_watermark_drops_late_events(spark, event_dir):
    """With unordered replay and a 1-hour watermark, events arriving
    behind the watermark are dropped — state stays bounded at the cost
    of completeness. This is the documented semantic difference from
    the reference's recompute-everything batch loader."""
    got, batch = _run_stream(spark, event_dir, session_windows, "complete")
    assert 0 < got.count() < session_windows(batch).count()


def test_running_totals_update_mode(spark, event_dir):
    got, batch = _run_stream(spark, event_dir, running_user_totals, "complete")
    expected = running_user_totals(batch)
    cols = ["user_id", "n_events", "value_total"]
    assert _canon(got, cols) == _canon(expected, cols)


def test_watermark_bounds_state(spark, event_dir):
    """The windowed agg carries an event-time watermark (state is
    bounded); verify the plan is streaming and uses a watermark node."""
    batch_df = spark.read.parquet(event_dir)
    stream = spark.readStream.schema(batch_df.schema).parquet(event_dir)
    out = daily_event_counts(stream)
    assert out.isStreaming
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "EventTimeWatermark" in plan


def test_foreach_batch_upsert_idempotent(spark, event_dir):
    """foreachBatch + dynamic partition overwrite: running the stream
    twice over the same source must NOT double-count (the reference's
    HBase counter loader does — load_hbase.py:146-152)."""
    import tempfile

    from big_data_analytics_spark.streaming.events import (
        start_upsert_metrics_sink,
    )

    batch_df = spark.read.parquet(event_dir)
    target = tempfile.mkdtemp(prefix="upsert_target_")
    ckpt1 = tempfile.mkdtemp(prefix="upsert_ckpt1_")
    src = (spark.readStream.schema(batch_df.schema)
           .option("maxFilesPerTrigger", 2).parquet(event_dir))
    q = start_upsert_metrics_sink(spark, src, target, ckpt1)
    q.awaitTermination(120)
    first = spark.read.parquet(target).agg(F.sum("n_events")).first()[0]

    # fresh checkpoint → full replay → same target: counts unchanged
    ckpt2 = tempfile.mkdtemp(prefix="upsert_ckpt2_")
    src2 = (spark.readStream.schema(batch_df.schema)
            .option("maxFilesPerTrigger", 2).parquet(event_dir))
    q2 = start_upsert_metrics_sink(spark, src2, target, ckpt2)
    q2.awaitTermination(120)
    second = spark.read.parquet(target).agg(F.sum("n_events")).first()[0]
    assert first == second

    shutil.rmtree(target, ignore_errors=True)
    shutil.rmtree(ckpt1, ignore_errors=True)
    shutil.rmtree(ckpt2, ignore_errors=True)


def test_apply_in_pandas_with_state(spark, event_dir):
    """Custom stateful operator: the final per-user lifetime counts
    (max over emitted updates — counts are monotone) must equal the
    batch groupBy, and per-batch contributions must sum to the total."""
    from big_data_analytics_spark.streaming.events import (
        user_lifetime_stats_stateful,
    )

    batch_df = spark.read.parquet(event_dir)
    stream = (spark.readStream.schema(batch_df.schema)
              .option("maxFilesPerTrigger", 1).parquet(event_dir))
    q = (user_lifetime_stats_stateful(stream)
         .writeStream.format("memory").queryName("q_state")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    updates = spark.sql("SELECT * FROM q_state")
    final = updates.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.sum("batch_events").alias("total_batch_events"))
    expected = batch_df.groupBy("user_id").agg(F.count("*").alias("n"))
    joined = final.join(expected, "user_id").collect()
    assert len(joined) == expected.count()
    for r in joined:
        assert r.n_events == r.n, r
        assert r.total_batch_events == r.n, r


def test_stream_dedup_within_watermark(spark):
    """A replayed file (at-least-once delivery) must not produce
    duplicate events downstream: every planted event_id comes out
    exactly once, and the batch fallback degrades to dropDuplicates."""
    from big_data_analytics_spark.streaming.events import (
        dedup_events_within_watermark,
    )

    ev = load_table(spark, SF_SMOKE, "events").filter(F.col("event_id") < 300)
    a = ev.filter(F.col("event_id") < 200)
    b = ev.filter(F.col("event_id") >= 200)
    d = tempfile.mkdtemp(prefix="dup_events_")
    a.coalesce(1).write.mode("append").parquet(d)
    a.coalesce(1).write.mode("append").parquet(d)  # exact redelivery
    b.coalesce(1).write.mode("append").parquet(d)

    batch_df = spark.read.parquet(d)
    assert batch_df.count() == 500  # duplicates present at the source
    stream = (spark.readStream.schema(batch_df.schema)
              .option("maxFilesPerTrigger", 1).parquet(d))
    q = (dedup_events_within_watermark(stream, watermark="60 days")
         .writeStream.format("memory").queryName("q_dedup")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT event_id FROM q_dedup")
    ids = sorted(r.event_id for r in got.collect())
    assert ids == sorted(range(300))

    batch_ids = sorted(
        r.event_id
        for r in dedup_events_within_watermark(batch_df).collect())
    assert batch_ids == ids
    shutil.rmtree(d, ignore_errors=True)


def test_session_funnel_stream_equals_batch(spark, event_dir):
    """The streaming funnel's per-session step flags must equal the
    batch evaluation of the same plan — including sessions whose
    events arrive across different micro-batches (a late view must
    retroactively admit earlier clicks before the session closes)."""
    from big_data_analytics_spark.streaming.events import session_funnel

    def wide(ev):
        # watermark wider than the data span: files replay in arbitrary
        # event-time order, so a narrow watermark would (correctly)
        # drop late events — equality needs none dropped
        return session_funnel(ev, gap="30 minutes", watermark="60 days")

    got, batch = _run_stream(spark, event_dir, wide, "complete")
    cols = ["user_id", "session_start", "session_end", "n_events",
            "s_view", "s_click", "s_buy"]
    assert _canon(got, cols) == _canon(wide(batch), cols)
    # funnel monotonicity: each step can only lose sessions
    agg = got.agg(
        F.sum(F.col("s_view").cast("long")).alias("v"),
        F.sum(F.col("s_click").cast("long")).alias("c"),
        F.sum(F.col("s_buy").cast("long")).alias("b"),
    ).first()
    assert agg.v >= agg.c >= agg.b
    assert agg.v > 0


def test_interval_join_stream_equals_batch(spark, event_dir):
    """Stream-stream interval self-join (view x purchase within 30
    min) must emit exactly the batch pairs when the watermark is wider
    than the data span (no state expired before its matches arrive)."""
    from big_data_analytics_spark.streaming.events import (
        view_purchase_interval_join,
    )

    def joinq(ev):
        return view_purchase_interval_join(
            ev, horizon="30 minutes", watermark="60 days")

    got, batch = _run_stream(spark, event_dir, joinq, "append")
    expected = joinq(batch)
    cols = ["user_id", "view_id", "purchase_id", "gap_us", "purchase_value"]
    assert _canon(got, cols) == _canon(expected, cols)
    assert len(_canon(got, cols)) > 0


def test_sm4_single_trigger_backfill_matches_incremental(spark):
    """The sm4 trigger-sizing knob: files_per_trigger >= file count
    collapses the availableNow run to ONE trigger (state-store
    maintenance paid once — the SCALE.md backfill guidance) and must
    emit exactly the same join pairs as the graded 4-trigger
    incremental run."""
    from big_data_analytics_spark.queries.streaming_queries import (
        sm4_stream_stream_join,
    )

    incremental = sm4_stream_stream_join(spark, SF_SMOKE)
    backfill = sm4_stream_stream_join(spark, SF_SMOKE,
                                      files_per_trigger=1000)
    assert incremental.exceptAll(backfill).count() == 0
    assert backfill.exceptAll(incremental).count() == 0
    assert backfill.count() > 0


def test_stateful_upsert_sink_resume_is_idempotent(spark, event_dir):
    """The production Parquet upsert sink: a second availableNow start
    on the SAME checkpoint finds no new files and must leave the
    target byte-for-byte equivalent (exactly-once restatement), and
    the target must equal the batch aggregate."""
    import tempfile

    from big_data_analytics_spark.streaming.events import (
        daily_event_counts,
        start_stateful_upsert_sink,
    )

    batch_df = spark.read.parquet(event_dir)
    target = tempfile.mkdtemp(prefix="upsert_target_")
    ckpt = tempfile.mkdtemp(prefix="upsert_ckpt_")

    def run():
        stream = (spark.readStream.schema(batch_df.schema)
                  .option("maxFilesPerTrigger", 1).parquet(event_dir))
        # event_dir is an UNORDERED split: widen the watermark past the
        # data span so update mode drops nothing (the graded sm8 uses
        # the time-ordered fixture with the production 1-day watermark)
        q = start_stateful_upsert_sink(stream, target, ckpt,
                                       watermark="60 days")
        q.awaitTermination(120)

    run()
    first = {(r.day, r.event_type): (r.n_events, round(r.value_sum, 4))
             for r in spark.read.parquet(target).collect()}
    run()  # resume: no new files -> no rewrites, same content
    second = {(r.day, r.event_type): (r.n_events, round(r.value_sum, 4))
              for r in spark.read.parquet(target).collect()}
    assert first == second
    expected = {(r.day, r.event_type): (r.n_events, round(r.value_sum, 4))
                for r in daily_event_counts(batch_df).collect()}
    assert first == expected


def test_stateful_upsert_sink_mid_stream_crash_recovery(spark, event_dir):
    """Exactly-once as a RECOVERY claim, not just a replay claim: fail
    the upsert-sink query after trigger 2 of 4 in the worst window
    (target written, checkpoint commit NOT yet recorded), restart from
    the same checkpoint, run to completion — the read-back target must
    equal the batch aggregate exactly. The restart replays the failed
    batch against the partially-written target; dynamic partition
    overwrite makes that replay idempotent."""
    import os
    import tempfile

    import pyspark.errors

    from big_data_analytics_spark.streaming.events import (
        daily_event_counts,
        start_stateful_upsert_sink,
    )

    batch_df = spark.read.parquet(event_dir)
    target = tempfile.mkdtemp(prefix="crash_target_")
    ckpt = tempfile.mkdtemp(prefix="crash_ckpt_")

    def stream():
        return (spark.readStream.schema(batch_df.schema)
                .option("maxFilesPerTrigger", 1).parquet(event_dir))

    crashed = []

    def crash_once(batch_id: int) -> None:
        # fail exactly once, on the second trigger, AFTER its target
        # write — the replayed attempt must pass through
        if batch_id == 1 and not crashed:
            crashed.append(batch_id)
            raise RuntimeError("injected crash after batch 1 commit")

    q = start_stateful_upsert_sink(stream(), target, ckpt,
                                   watermark="60 days",
                                   on_batch_committed=crash_once)
    with pytest.raises(pyspark.errors.exceptions.captured
                       .StreamingQueryException):
        q.awaitTermination(120)
    assert crashed == [1]
    # genuine partial progress: batch 0 committed, batch 1's output is
    # on disk but its commit is not — the crash window we claimed
    commits = os.listdir(os.path.join(ckpt, "commits"))
    assert "0" in commits and "1" not in commits
    assert len(spark.read.parquet(target).take(1)) == 1

    # restart from the same checkpoint: replays batch 1 (idempotent
    # rewrite of the partitions it already wrote), then finishes 2-3
    q2 = start_stateful_upsert_sink(stream(), target, ckpt,
                                    watermark="60 days")
    q2.awaitTermination(120)

    got = {(r.day, r.event_type): (r.n_events, round(r.value_sum, 4))
           for r in spark.read.parquet(target).collect()}
    expected = {(r.day, r.event_type): (r.n_events, round(r.value_sum, 4))
                for r in daily_event_counts(batch_df).collect()}
    assert got == expected


def test_cusum_vectorized_fold_equals_per_event_recursion():
    """The Lindley fold with carried state used by
    streaming/events.py cusum_alarms_stateful —
    S_i = max(0, s0 + c_i, c_i - min_{0<=t<i} c_t) over within-batch
    deviation prefix sums — must equal the per-event recursion
    S_i = max(0, S_{i-1} + d_i) for every batch split and carried
    state, alarms and first-crossing included."""
    import numpy as np

    rng = np.random.default_rng(42)
    for _ in range(300):
        n = int(rng.integers(1, 60))
        d = rng.integers(-1000, 1000, n)
        s0 = int(rng.integers(0, 3000))
        h = int(rng.integers(100, 2000))
        s, ref, ref_alarms, ref_first = s0, [], 0, -1
        for i, x in enumerate(d):
            s = max(0, s + int(x))
            ref.append(s)
            if s > h:
                ref_alarms += 1
                if ref_first < 0:
                    ref_first = i
        c = np.cumsum(d)
        cm = np.minimum.accumulate(np.concatenate(([0], c[:-1])))
        series = np.maximum(np.maximum(s0 + c, c - cm), 0)
        assert list(series) == ref
        over = series > h
        assert int(over.sum()) == ref_alarms
        got_first = int(np.argmax(over)) if over.any() else -1
        assert got_first == ref_first


def test_sm6_single_trigger_backfill_matches_incremental(spark):
    """sm6's trigger-sizing knob (sm4's pattern on the stateful
    accumulator): one merged trigger must produce the same per-user
    lifetime rows as the graded 4-trigger incremental run — the state
    fold is commutative and the max_by finalization reads only each
    user's last row."""
    from big_data_analytics_spark.queries.streaming_queries import (
        sm6_stream_stateful_user_totals,
    )

    incremental = sm6_stream_stateful_user_totals(spark, SF_SMOKE)
    backfill = sm6_stream_stateful_user_totals(spark, SF_SMOKE,
                                               files_per_trigger=1000)
    assert incremental.exceptAll(backfill).count() == 0
    assert backfill.exceptAll(incremental).count() == 0
    assert backfill.count() > 0


def test_sm11_single_trigger_backfill_matches_incremental(spark):
    """sm11's trigger-sizing knob — the ORDER-SENSITIVE case: CUSUM
    state must see events in time order, so this asserts the within-
    batch sort over one merged trigger reproduces the 4-trigger
    time-ordered replay exactly (alarm counts, peaks, and first-alarm
    ids all included in the row equality)."""
    from big_data_analytics_spark.queries.streaming_queries import (
        sm11_stream_cusum,
    )

    incremental = sm11_stream_cusum(spark, SF_SMOKE)
    backfill = sm11_stream_cusum(spark, SF_SMOKE, files_per_trigger=1000)
    assert incremental.exceptAll(backfill).count() == 0
    assert backfill.exceptAll(incremental).count() == 0
    assert backfill.count() > 0


def test_sm13_single_trigger_backfill_matches_incremental(spark):
    """sm13's trigger-sizing knob (VERDICT r12 task 4): one merged
    trigger must dedupe the doubled source identically to the graded
    8-trigger incremental run — dropDuplicatesWithinWatermark drops
    intra-batch duplicates exactly as it drops against carried state,
    and the running aggregate is order-insensitive."""
    from big_data_analytics_spark.queries.streaming_queries import (
        sm13_stream_dedup_within_watermark,
    )

    incremental = sm13_stream_dedup_within_watermark(spark, SF_SMOKE)
    backfill = sm13_stream_dedup_within_watermark(spark, SF_SMOKE,
                                                  files_per_trigger=1000)
    assert incremental.exceptAll(backfill).count() == 0
    assert backfill.exceptAll(incremental).count() == 0
    assert backfill.count() > 0


def test_sm14_rocksdb_matches_sm6_and_writes_rocksdb_state(spark):
    """sm14 (VERDICT r13 task 8): the RocksDB state-store provider is
    a values-invariant swap — same rows as sm6's HDFS-backed run —
    AND it must actually have engaged: a misspelled/ignored provider
    conf would run green on the default provider and grade a lie, so
    this inspects the checkpoint's state directory for RocksDB
    artifacts (changelog/zip snapshots), which the default provider
    never writes (it writes .delta/.snapshot files)."""
    from big_data_analytics_spark.caching import FIXTURE_ROOT
    from big_data_analytics_spark.queries.streaming_queries import (
        sm6_stream_stateful_user_totals,
        sm14_stream_user_totals_rocksdb,
    )

    rocks = sm14_stream_user_totals_rocksdb(spark, SF_SMOKE)
    hdfs = sm6_stream_stateful_user_totals(spark, SF_SMOKE)
    assert rocks.exceptAll(hdfs).count() == 0
    assert hdfs.exceptAll(rocks).count() == 0
    assert rocks.count() > 0

    state = FIXTURE_ROOT / "scratch" / "sm14_mem_mem" / "ckpt" / "state"
    assert state.exists(), "sm14 checkpoint state dir missing"
    arts = [p.name for p in state.rglob("*")
            if p.suffix in (".zip", ".changelog")]
    assert arts, ("no RocksDB snapshot/changelog artifacts under the "
                  "sm14 checkpoint — the provider conf did not engage")
    deltas = [p.name for p in state.rglob("*.delta")]
    assert not deltas, ("HDFS-backed .delta state files under the sm14 "
                        "checkpoint — stream ran on the default provider")


def test_sm14_provider_conf_restored(spark):
    """The provider pin must not leak: after sm14 returns, the session
    must be back on its previous state-store provider (or unset), so
    sibling streams in the same session/bench run keep the default."""
    from big_data_analytics_spark.queries.streaming_queries import (
        sm14_stream_user_totals_rocksdb,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    try:
        before = spark.conf.get(key)
    except Exception:
        before = None
    sm14_stream_user_totals_rocksdb(spark, SF_SMOKE).count()
    try:
        after = spark.conf.get(key)
    except Exception:
        after = None
    assert after == before


def test_stream_source_schema_follows_a_regenerated_fixture(spark, tmp_path):
    """The file-source schema is memoized per session on the fixture
    path and the source signature in its ``_DONE``: the same signature
    reuses it, a rebuilt fixture (new signature) is read afresh."""
    from big_data_analytics_spark.caching import derived_fixture
    from big_data_analytics_spark.queries.streaming_queries import (
        _stream_source,
    )

    root = tmp_path / "fx"
    data = str(root / "data")

    def build(cols):
        return lambda: spark.range(3).selectExpr(*cols).write.parquet(data)

    derived_fixture(root, "v1", build(["id", "id * 2 AS a"]))
    assert _stream_source(spark, root).columns == ["id", "a"]
    # same signature: the memoized schema stands (files are not re-read)
    shutil.rmtree(data)
    spark.range(3).selectExpr("id", "'x' AS b").write.parquet(data)
    assert _stream_source(spark, root).columns == ["id", "a"]
    derived_fixture(root, "v2", build(["id", "id * 2 AS a", "'y' AS c"]))
    assert _stream_source(spark, root).columns == ["id", "a", "c"]


def test_streaming_queries_leave_no_memory_sink_views(spark):
    """Each memory-sink stream registers a temp view; the queries drop
    it once their result is resolved, and the results stay readable
    and equal across calls."""
    from big_data_analytics_spark.queries.streaming_queries import (
        sm1_stream_daily_metrics,
        sm3_stream_dedup_ingest,
    )

    def views():
        return sorted(t.name for t in spark.catalog.listTables()
                      if "_mem_" in t.name)

    before = views()
    sm1 = [sm1_stream_daily_metrics(spark, SF_SMOKE) for _ in range(3)]
    sm3 = sm3_stream_dedup_ingest(spark, SF_SMOKE)
    assert views() == before == []
    first = sorted(sm1[0].collect())
    assert first and all(sorted(df.collect()) == first for df in sm1[1:])
    assert sm3.count() > 0
