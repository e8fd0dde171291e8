"""E14: batch/stream parity. The streaming execution of the event-time
windows must produce exactly the batch results when replaying the same
files (availableNow trigger, no late data)."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from udacity_data_engineering_spark.plans.registry import all_queries
from udacity_data_engineering_spark.streaming import (
    run_available_now,
    sessionized_counts,
    stream_events,
    windowed_counts,
)

MANIFEST = all_queries()


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    """Stage the events table as a 4-file directory so the stream sees
    multiple input splits."""
    out = str(tmp_path_factory.mktemp("events_stream_in"))
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    raw.repartition(4).write.mode("overwrite").parquet(out)
    yield out
    shutil.rmtree(out, ignore_errors=True)


def _norm(rows):
    return sorted(tuple(r) for r in rows)


def test_tumbling_stream_matches_batch(spark, sf_dir, events_dir, tmp_path):
    stream = windowed_counts(stream_events(spark, events_dir))
    assert stream.isStreaming
    run_available_now(stream, "tumbling_sink", str(tmp_path / "ckpt1"))
    got = spark.sql("SELECT * FROM tumbling_sink").collect()
    want = MANIFEST["q_tumbling_agg"].fn(spark, sf_dir).collect()
    assert _norm(got) == _norm(want)


def test_sliding_stream_matches_batch(spark, sf_dir, events_dir, tmp_path):
    stream = windowed_counts(
        stream_events(spark, events_dir), window="1 hour", slide="15 minutes"
    )
    run_available_now(stream, "sliding_sink", str(tmp_path / "ckpt_slide"))
    got = spark.sql("SELECT * FROM sliding_sink").collect()
    want = MANIFEST["q_sliding_window"].fn(spark, sf_dir).collect()
    assert _norm(got) == _norm(want)


def test_session_stream_matches_batch(spark, sf_dir, events_dir, tmp_path):
    stream = sessionized_counts(stream_events(spark, events_dir))
    run_available_now(stream, "session_sink", str(tmp_path / "ckpt2"))
    got = spark.sql("SELECT * FROM session_sink").collect()
    want = MANIFEST["q_session_window"].fn(spark, sf_dir).collect()
    assert _norm(got) == _norm(want)


def test_watermark_present_in_plan(spark, events_dir):
    stream = windowed_counts(stream_events(spark, events_dir), watermark="45 minutes")
    assert "45 minutes" in stream._jdf.queryExecution().analyzed().toString()


def test_stream_dedup_within_watermark(spark, sf_dir, tmp_path):
    """Redelivered events (same event_id, same micro-batch window) are
    dropped exactly once; survivors match batch distinct-by-key."""
    from udacity_data_engineering_spark.streaming import deduped_events

    src = str(tmp_path / "dup_in")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    raw.write.mode("overwrite").parquet(src)
    # simulate at-least-once redelivery: a second file with 20% of rows
    raw.sample(0.2, seed=1).write.mode("append").parquet(src)

    stream = deduped_events(stream_events(spark, src))
    assert stream.isStreaming
    run_available_now(
        stream, "dedup_sink", str(tmp_path / "ckpt"), output_mode="append"
    )
    got = spark.table("dedup_sink")
    assert got.count() == raw.count()
    assert got.select("event_id").distinct().count() == raw.count()


def test_max_files_per_trigger_bounds_microbatches(spark, sf_dir, events_dir, tmp_path):
    """Ingestion rate control: a 4-file backlog replayed with
    maxFilesPerTrigger=1 must arrive as 4 bounded micro-batches (the
    100 TB backfill posture — state pressure stays shuffle-sized), and
    the aggregated result must be identical to the unbounded replay."""
    stream = windowed_counts(stream_events(spark, events_dir, max_files_per_trigger=1))
    q = (
        stream.writeStream.format("memory")
        .queryName("rate_limited_sink")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_rate"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_batches = q.lastProgress["batchId"] + 1
    assert n_batches >= 4, f"expected >=4 bounded micro-batches, got {n_batches}"
    got = spark.sql("SELECT * FROM rate_limited_sink").collect()
    want = MANIFEST["q_tumbling_agg"].fn(spark, sf_dir).collect()
    assert _norm(got) == _norm(want)


# ---------------------------------------------------------------------------
# Multi-batch watermark semantics (round-6): everything above replays in a
# single availableNow batch, where the watermark never advances past epoch
# and the two behaviors the 100 TB claims rest on — late-row dropping and
# state eviction — are never exercised. These tests drive the stream ONE
# FILE PER MICRO-BATCH (maxFilesPerTrigger=1, strictly increasing file
# mtimes so FileStreamSource's oldest-first ordering is deterministic) so
# the watermark genuinely advances between batches, then observe both
# behaviors through the progress metrics and the sink.
# ---------------------------------------------------------------------------

import glob
import os
import time

_EVENT_COLS = "event_id long, ts string, user_id long, event_type string, value double, props string"


def _events(spark, rows):
    """rows: (event_id, 'YYYY-MM-DD HH:MM:SS', user_id, event_type, value)."""
    return (
        spark.createDataFrame(
            [(i, ts, u, et, v, "{}") for i, ts, u, et, v in rows], _EVENT_COLS
        )
        .withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    )


def _add_file(df, feed_dir, name, mtime):
    """Stage one parquet file into the stream source dir with a pinned
    mtime — the knob that fixes FileStreamSource's batch order."""
    stage = os.path.join(feed_dir, f"_stage_{name}")
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
    dst = os.path.join(feed_dir, f"{name}.parquet")
    os.replace(part, dst)
    shutil.rmtree(stage, ignore_errors=True)
    os.utime(dst, (mtime, mtime))
    return dst


def _run_one_file_per_batch(stream_df, sink, ckpt, output_mode):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(sink)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q.recentProgress


def _state_metric(progresses, key):
    return [
        p["stateOperators"][0][key]
        for p in progresses
        if p.get("stateOperators")
    ]


def test_watermark_drops_late_rows_and_evicts_window_state(spark, tmp_path):
    """The E14 contract, observed across micro-batches: (a) an event
    older than the advanced watermark is dropped, (b) finalized-window
    state is evicted (numRowsTotal falls), (c) the appended (finalized)
    windows match the batch aggregate over the on-time rows only.

    Batch staging encodes the two-watermark semantics Spark has used
    since 3.4 (SPARK-42376): within batch N, LATE-ROW FILTERING uses the
    previous batch's watermark (eventTimeWatermarkForLateEvents) while
    STATE EVICTION uses the current one — so a row only reads as late
    one batch after the data that advanced the watermark past it, and
    the late file here arrives two batches after the hour-10 file."""
    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    base = int(time.time()) - 1000
    # batch 0: hours 0-1 of Jan 1 — two windows' worth of state
    _add_file(
        _events(
            spark,
            [
                (1, "2025-01-01 00:10:00", 1, "click", 1.0),
                (2, "2025-01-01 00:20:00", 2, "click", 2.0),
                (3, "2025-01-01 01:10:00", 1, "view", 3.0),
                (4, "2025-01-01 01:40:00", 3, "click", 4.0),
            ],
        ),
        feed, "f1", base,
    )
    # batch 1: hour 10 — after this batch the 2h watermark is 08:30; the
    # hour-0/1 windows finalize and evict during batch 2
    _add_file(
        _events(
            spark,
            [
                (5, "2025-01-01 10:00:00", 1, "click", 5.0),
                (6, "2025-01-01 10:30:00", 2, "view", 6.0),
            ],
        ),
        feed, "f2", base + 60,
    )
    # batch 2: on-time spacer — its completion promotes 08:30 from the
    # eviction watermark to the late-row-filter watermark
    _add_file(
        _events(spark, [(8, "2025-01-01 10:40:00", 1, "click", 7.0)]),
        feed, "f3", base + 120,
    )
    # batch 3: the late row — 00:30 is now below the LATE-EVENTS
    # watermark (08:30), so it is dropped, not aggregated
    _add_file(
        _events(spark, [(7, "2025-01-01 00:30:00", 9, "click", 100.0)]),
        feed, "f4", base + 180,
    )

    stream = windowed_counts(
        stream_events(spark, feed, max_files_per_trigger=1), watermark="2 hours"
    )
    progresses = _run_one_file_per_batch(
        stream, "wm_window_sink", str(tmp_path / "ckpt"), "append"
    )

    # (a) exactly the one late row was dropped at the watermark
    dropped = _state_metric(progresses, "numRowsDroppedByWatermark")
    assert sum(dropped) == 1, f"late-row drop not observed: {dropped}"

    # (b) state eviction: the finalized hour-0/1 windows left the store
    totals = _state_metric(progresses, "numRowsTotal")
    assert max(totals) > totals[-1], f"no state eviction observed: {totals}"

    # (c) the appended rows are the finalized windows, aggregated from
    # on-time rows only — late event 7 is absent, hour-10 windows are
    # still open (watermark 08:40 < their end) and so not yet emitted
    got = _norm(spark.table("wm_window_sink").collect())
    want = [
        ("2025-01-01 00:00:00", "click", 2, 3.0),
        ("2025-01-01 01:00:00", "click", 1, 4.0),
        ("2025-01-01 01:00:00", "view", 1, 3.0),
    ]
    assert [
        (str(w), et, c, s) for w, et, c, s in got
    ] == want, f"finalized windows diverge: {got}"


def test_watermark_emission_matches_batch_on_time_subset(spark, tmp_path):
    """Stream/batch parity under late data: the union of everything the
    append-mode stream emits (finalized windows) plus the still-open
    state equals the BATCH aggregate over on-time rows only — i.e. late
    drops are the stream's ONLY divergence from batch, and it is exactly
    the documented one."""
    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    base = int(time.time()) - 1000
    on_time = [
        (1, "2025-01-01 00:10:00", 1, "click", 1.0),
        (2, "2025-01-01 00:20:00", 2, "click", 2.0),
        (5, "2025-01-01 10:00:00", 1, "click", 5.0),
        (8, "2025-01-01 10:40:00", 1, "view", 7.0),
    ]
    _add_file(_events(spark, on_time[:2]), feed, "f1", base)
    _add_file(_events(spark, [on_time[2]]), feed, "f2", base + 60)
    _add_file(_events(spark, [on_time[3]]), feed, "f3", base + 120)
    _add_file(
        _events(spark, [(9, "2025-01-01 00:45:00", 9, "click", 99.0)]),
        feed, "f4", base + 180,
    )

    stream = windowed_counts(
        stream_events(spark, feed, max_files_per_trigger=1), watermark="2 hours"
    )
    progresses = _run_one_file_per_batch(
        stream, "wm_parity_sink", str(tmp_path / "ckpt"), "append"
    )
    assert sum(_state_metric(progresses, "numRowsDroppedByWatermark")) == 1

    emitted = {
        (str(r.window_start), r.event_type): (r.cnt, r.sum_value)
        for r in spark.table("wm_parity_sink").collect()
    }
    batch_on_time = {
        (str(r.window_start), r.event_type): (r.cnt, r.sum_value)
        for r in (
            _events(spark, on_time)
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.round(F.sum("value"), 2).alias("sum_value"),
            )
            .select(
                F.col("w.start").cast("timestamp_ntz").alias("window_start"),
                "event_type", "cnt", "sum_value",
            )
            .collect()
        )
    }
    # every emitted (finalized) window agrees exactly with the batch
    # aggregate of the on-time rows; the rest is still open state
    for k, v in emitted.items():
        assert batch_on_time[k] == v, (k, v, batch_on_time.get(k))
    assert ("2025-01-01 00:00:00", "click") in emitted


def test_watermark_evicts_dedup_state_and_drops_late_redelivery(spark, tmp_path):
    """dropDuplicatesWithinWatermark across micro-batches: key state is
    evicted once the watermark passes it (numRowsTotal falls), and a
    redelivery arriving AFTER eviction — older than the watermark — is
    dropped by the watermark filter rather than re-emitted, so the sink
    still holds each event exactly once."""
    from udacity_data_engineering_spark.streaming import deduped_events

    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    base = int(time.time()) - 1000
    hour0 = [
        (i, f"2025-01-01 00:0{i}:00", i, "click", float(i)) for i in range(1, 6)
    ]
    _add_file(_events(spark, hour0), feed, "f1", base)
    # in-watermark redelivery of event 2 (state still live): deduped
    # against state; e7 at 10:00 pushes the eviction watermark to 08:00
    _add_file(
        _events(
            spark,
            [
                hour0[1],
                (6, "2025-01-01 00:50:00", 6, "view", 6.0),
                (7, "2025-01-01 10:00:00", 7, "click", 7.0),
            ],
        ),
        feed, "f2", base + 60,
    )
    # batch 2 (spacer): hour-0 key state is evicted here with the 08:00
    # eviction watermark, whose completion also promotes 08:00 to the
    # late-row-filter watermark (SPARK-42376 two-watermark semantics)
    _add_file(
        _events(spark, [(8, "2025-01-01 10:10:00", 8, "click", 8.0)]),
        feed, "f3", base + 120,
    )
    # batch 3: post-eviction redelivery of event 2 — older than the
    # late-events watermark -> dropped pre-state (NOT emitted again)
    _add_file(_events(spark, [hour0[1]]), feed, "f4", base + 180)

    stream = deduped_events(stream_events(spark, feed, max_files_per_trigger=1))
    progresses = _run_one_file_per_batch(
        stream, "wm_dedup_sink", str(tmp_path / "ckpt"), "append"
    )

    dropped = _state_metric(progresses, "numRowsDroppedByWatermark")
    assert sum(dropped) == 1, f"late redelivery not dropped: {dropped}"
    totals = _state_metric(progresses, "numRowsTotal")
    assert max(totals) >= 7  # hour-0 keys + e6 + e7 held at peak
    assert totals[-1] < max(totals), f"no dedup-state eviction: {totals}"

    got = spark.table("wm_dedup_sink")
    assert got.count() == 8  # events 1..8, each exactly once
    assert got.select("event_id").distinct().count() == 8
    assert got.filter(F.col("event_id") == 2).count() == 1


def test_watermark_finalizes_and_evicts_session_state(spark, tmp_path):
    """Session windows are MERGING state (intervals extend as events
    arrive), so their eviction story differs from fixed windows: a
    session only finalizes when the watermark passes its END (last event
    + gap). Multi-batch observation: sessions finalize and evict once
    the watermark passes them, a late event older than the late-events
    watermark is dropped (NOT opened as a new session), and the emitted
    sessions match the batch session_window aggregate over on-time rows."""
    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    base = int(time.time()) - 1000
    on_time = [
        (1, "2025-01-01 00:00:00", 1, "click", 1.0),
        (2, "2025-01-01 00:10:00", 1, "click", 1.0),  # same 30m session
        (3, "2025-01-01 00:05:00", 2, "view", 1.0),
        (4, "2025-01-01 10:00:00", 3, "click", 1.0),
        (5, "2025-01-01 10:10:00", 1, "view", 1.0),
    ]
    _add_file(_events(spark, on_time[:3]), feed, "f1", base)
    _add_file(_events(spark, [on_time[3]]), feed, "f2", base + 60)  # wm -> 08:00
    _add_file(_events(spark, [on_time[4]]), feed, "f3", base + 120)  # promote
    # late: would extend user 1's hour-0 session were it on time
    _add_file(
        _events(spark, [(9, "2025-01-01 00:20:00", 1, "click", 9.0)]),
        feed, "f4", base + 180,
    )

    stream = sessionized_counts(stream_events(spark, feed, max_files_per_trigger=1))
    progresses = _run_one_file_per_batch(
        stream, "wm_session_sink", str(tmp_path / "ckpt"), "append"
    )

    assert sum(_state_metric(progresses, "numRowsDroppedByWatermark")) == 1
    totals = _state_metric(progresses, "numRowsTotal")
    assert max(totals) > totals[-1], f"no session-state eviction: {totals}"

    emitted = {
        (r.user_id, str(r.session_start)): r.n_events
        for r in spark.table("wm_session_sink").collect()
    }
    batch = {
        (r.user_id, str(r.session_start)): r.n_events
        for r in (
            _events(spark, on_time)
            .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.col("w.start").cast("timestamp_ntz").alias("session_start"),
                "n_events",
            )
            .collect()
        )
    }
    # the finalized hour-0 sessions: exactly the batch result over
    # on-time rows — the late event neither extended user 1's session
    # nor appeared as a new one
    assert emitted[(1, "2025-01-01 00:00:00")] == 2 == batch[(1, "2025-01-01 00:00:00")]
    assert emitted[(2, "2025-01-01 00:05:00")] == 1
    for key, n in emitted.items():
        assert batch[key] == n, (key, n)


def test_checkpoint_recovery_is_exactly_once_across_restarts(spark, tmp_path):
    """Durability across restarts — the other half of the exactly-once
    story: a SECOND availableNow run over the same checkpoint must
    process only files added since the first run (no reprocessing, no
    gaps), and the watermark must survive the restart (a late row in the
    second run is dropped against the FIRST run's advanced watermark,
    state for old keys having been evicted)."""
    from udacity_data_engineering_spark.streaming import deduped_events

    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    ckpt = str(tmp_path / "ckpt")
    base = int(time.time()) - 1000
    hour0 = [
        (i, f"2025-01-01 00:0{i}:00", i, "click", float(i)) for i in range(1, 6)
    ]
    _add_file(_events(spark, hour0), feed, "f1", base)
    # advancing batch, then a spacer so 08:00 becomes the late-filter
    # watermark BEFORE the restart (SPARK-42376 two-watermark promotion)
    _add_file(
        _events(spark, [(7, "2025-01-01 10:00:00", 7, "click", 7.0)]),
        feed, "f2", base + 60,
    )
    _add_file(
        _events(spark, [(8, "2025-01-01 10:10:00", 8, "click", 8.0)]),
        feed, "f3", base + 120,
    )

    out = str(tmp_path / "out")

    def _run(stream_df):
        # a REAL fault-tolerant sink: the memory sink refuses checkpoint
        # recovery by design, so the restart path must be proven against
        # the parquet sink's commit log (exactly-once files, like prod)
        q = (
            stream_df.writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q.recentProgress

    first = _run(
        deduped_events(stream_events(spark, feed, max_files_per_trigger=1))
    )
    n_batches_run1 = max(p["batchId"] for p in first) + 1
    assert spark.read.parquet(out).count() == 7  # events 1..8 minus 6

    # "restart": new query, SAME checkpoint + sink; two new files — one
    # on-time, one late redelivery of event 2 (whose state run 1 evicted)
    _add_file(
        _events(spark, [(9, "2025-01-01 10:20:00", 9, "view", 9.0)]),
        feed, "f4", base + 180,
    )
    _add_file(_events(spark, [hour0[1]]), feed, "f5", base + 240)
    second = _run(
        deduped_events(stream_events(spark, feed, max_files_per_trigger=1))
    )

    # only the NEW files were processed (batch ids continue, input = 2 rows)
    assert min(p["batchId"] for p in second) == n_batches_run1
    assert sum(p["numInputRows"] for p in second) == 2
    # the restarted watermark dropped the late redelivery pre-state
    assert sum(_state_metric(second, "numRowsDroppedByWatermark")) == 1
    final = spark.read.parquet(out)
    assert final.count() == 8  # ...plus event 9, exactly once each
    assert final.select("event_id").distinct().count() == 8
    assert final.filter(F.col("event_id") == 2).count() == 1  # not re-emitted


def test_dq_log_gate_idempotent_under_batch_redelivery(spark, sf_dir, tmp_path):
    """foreachBatch is at-least-once: the SAME (batch_id, data) pair can be
    replayed after a failure. The DQ log gate must emit identical corpus
    totals whether a batch is delivered once or redelivered — the exact
    failure mode behind the round-10 q_streaming_dq_monitor hash-fail."""
    from udacity_data_engineering_spark.streaming.stream_queries import (
        _dq_monitor_predicates,
        dq_log_gate,
        dq_log_totals,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    dirty = ev.withColumn(
        "user_id",
        F.when(F.col("event_id") % 13 == 0, F.lit(None)).otherwise(
            F.col("user_id")
        ),
    )
    b0 = dirty.filter(F.col("event_id") % 2 == 0)
    b1 = dirty.filter(F.col("event_id") % 2 == 1)

    clean_dir = str(tmp_path / "clean_log")
    gate = dq_log_gate(clean_dir, _dq_monitor_predicates())
    gate(b0, 0)
    gate(b1, 1)
    want = _norm(dq_log_totals(spark, clean_dir).collect())
    assert any(v > 0 for _, v, _ in want), "dirt injection produced no violations"

    # redelivery run: batch 0 delivered twice, batch 1 three times
    replay_dir = str(tmp_path / "replay_log")
    gate2 = dq_log_gate(replay_dir, _dq_monitor_predicates())
    gate2(b0, 0)
    gate2(b0, 0)  # replayed after a simulated sink failure
    gate2(b1, 1)
    gate2(b1, 1)
    gate2(b1, 1)
    got = _norm(dq_log_totals(spark, replay_dir).collect())
    assert got == want, f"redelivery changed DQ totals: {got} != {want}"


def test_dq_log_totals_survive_duplicate_log_rows(spark, tmp_path):
    """Second idempotence layer: even a log holding literal duplicate
    report rows for one (batch_id, check) must aggregate as one."""
    from udacity_data_engineering_spark.streaming.stream_queries import (
        dq_log_totals,
    )

    log_dir = str(tmp_path / "dup_log")
    report = spark.createDataFrame(
        [("user_id_complete", 5, False), ("value_complete", 0, True)],
        "check string, violations long, passed boolean",
    )
    # simulate a pre-fix append-style log: the same batch's report twice
    report.write.mode("overwrite").parquet(f"{log_dir}/batch_id=0")
    report.unionAll(report).write.mode("overwrite").parquet(
        f"{log_dir}/batch_id=1"
    )
    rows = {r["check"]: r["violations"] for r in dq_log_totals(spark, log_dir).collect()}
    assert rows == {"user_id_complete": 10, "value_complete": 0}


def test_edge_lake_gate_idempotent_under_batch_redelivery(spark, sf_dir, tmp_path):
    """A replayed micro-batch must not double its edge deltas (the
    append-vs-overwrite at-least-once class)."""
    from udacity_data_engineering_spark.operators.graph import click_edges
    from udacity_data_engineering_spark.streaming.stream_queries import (
        edge_lake_gate,
    )
    from udacity_data_engineering_spark.session import table as _table

    ev = _table(spark, sf_dir, "events")
    b0 = ev.filter(F.col("user_id") % 2 == 0)
    b1 = ev.filter(F.col("user_id") % 2 == 1)
    lake = str(tmp_path / "edges")
    gate = edge_lake_gate(lake)
    gate(b0, 0)
    gate(b0, 0)  # replay
    gate(b1, 1)
    gate(b1, 1)  # replay
    got = sorted(
        tuple(r)
        for r in spark.read.schema(
            "src long, dst long, n_transitions long, batch_id int"
        )
        .parquet(lake)
        .groupBy("src", "dst")
        .agg(F.sum("n_transitions").alias("n"))
        .collect()
    )
    want = sorted(tuple(r) for r in click_edges(ev).collect())
    assert got == want


def test_edge_lake_stream_restart_does_not_double_count(spark, tmp_path):
    """Checkpoint-resume across two runs of the edge-lake ingest stream:
    run 1 consumes the initial user-bucketed feed; run 2 (same
    checkpoint) sees one NEW file and must process ONLY it — the merged
    lake equals whole-table extraction over all files, nothing counted
    twice."""
    import os as _os
    import time as _time

    from udacity_data_engineering_spark.operators.graph import click_edges
    from udacity_data_engineering_spark.streaming.event_stream import (
        stream_events,
    )
    from udacity_data_engineering_spark.streaming.stream_queries import (
        edge_lake_gate,
    )

    feed = str(tmp_path / "feed")
    _os.makedirs(feed)
    lake = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")
    base = _time.time() - 3600
    # whole user streams per file (the batch contract): users 1 and 2
    rows_u1 = [(i, f"2025-01-01 10:{i:02d}:00", 1, "view", 1.0) for i in range(5)]
    rows_u2 = [(10 + i, f"2025-01-01 11:{i:02d}:00", 2, "view", 1.0) for i in range(4)]
    f1 = _events(spark, rows_u1).withColumn(
        "props", F.format_string('{"k": %d}', F.col("event_id") % 3)
    )
    f2 = _events(spark, rows_u2).withColumn(
        "props", F.format_string('{"k": %d}', F.col("event_id") % 3)
    )
    _add_file(f1, feed, "u1", base)
    _add_file(f2, feed, "u2", base + 60)

    def run():
        q = (
            stream_events(spark, feed, max_files_per_trigger=1)
            .writeStream.foreachBatch(edge_lake_gate(lake))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q.recentProgress

    first = run()
    n1 = max(p["batchId"] for p in first) + 1
    # "restart": same checkpoint, one new whole-user file
    rows_u3 = [(20 + i, f"2025-01-01 12:{i:02d}:00", 3, "view", 1.0) for i in range(3)]
    f3 = _events(spark, rows_u3).withColumn(
        "props", F.format_string('{"k": %d}', F.col("event_id") % 3)
    )
    _add_file(f3, feed, "u3", base + 120)
    second = run()
    assert min(p["batchId"] for p in second) == n1  # batch ids continue
    assert sum(p["numInputRows"] for p in second) == 3  # only the new file

    got = sorted(
        tuple(r)
        for r in spark.read.schema(
            "src long, dst long, n_transitions long, batch_id int"
        )
        .parquet(lake)
        .groupBy("src", "dst")
        .agg(F.sum("n_transitions").alias("n"))
        .collect()
    )
    all_events = f1.unionByName(f2).unionByName(f3)
    want = sorted(tuple(r) for r in click_edges(all_events).collect())
    assert got == want


def test_feed_state_partitions_sizes_from_visible_feed_bytes(spark, tmp_path, monkeypatch):
    """One state partition per STATE_PARTITION_BYTES of staged feed,
    floored at 1, capped at the session's shuffle partitions; `_`/`.`
    files (commit markers, checksums) are not feed; a remote URI keeps
    the session setting."""
    from udacity_data_engineering_spark.streaming import event_stream

    session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    feed = tmp_path / "feed"
    (feed / "day=1").mkdir(parents=True)
    (feed / "day=1" / "part-0.parquet").write_bytes(b"x" * 100)
    assert event_stream.feed_state_partitions(spark, str(feed)) == 1

    monkeypatch.setattr(event_stream, "STATE_PARTITION_BYTES", 40)
    assert event_stream.feed_state_partitions(spark, str(feed)) == 3
    (feed / "_SUCCESS").write_bytes(b"x" * 1000)
    (feed / "day=1" / ".part-0.parquet.crc").write_bytes(b"x" * 1000)
    assert event_stream.feed_state_partitions(spark, str(feed)) == 3

    monkeypatch.setattr(event_stream, "STATE_PARTITION_BYTES", 1)
    assert session_parts < 100
    assert event_stream.feed_state_partitions(spark, str(feed)) == session_parts
    assert event_stream.feed_state_partitions(spark, "s3a://bucket/feed") == session_parts
