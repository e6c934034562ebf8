"""Streaming operators must converge to their batch twins (bounded replay).

Methodology mirrors the reference's differential testing: the same query run
two ways must produce identical sorted results (test-mr.sh:66-98) — here the
two ways are Structured Streaming (availableNow over a file source) and the
batch DataFrame operator. The streams come from the registry's own bounded
sources and drain through its one drain path (``streaming.drain``); tests
whose result needs the trailing no-data micro-batch (event-time timeouts,
append windows the final watermark closes) drive the drain's sink step,
``streaming._sink_view``, with that batch left on.
"""

from __future__ import annotations

import os
import uuid
from contextlib import contextmanager
from unittest.mock import patch

import pytest
from pyspark.sql import functions as F

from mapreduce_simple_go_spark.operators.events import events_hourly
from mapreduce_simple_go_spark.operators.kv import (
    _ops_projection,
    kv_final_state,
    kv_ops,
)
from mapreduce_simple_go_spark.sources import load_events
from mapreduce_simple_go_spark.streaming import (
    _NODATA_KEY,
    _sink_view,
    drain,
    events_source,
    hourly_counts,
    kv_append_state,
    ordered_drops_source,
    staged_source,
)

from .conftest import SF_DIR

# update mode appends one row per (key, micro-batch): the max-version row
# per key is the final state
LAST_EMISSION = (
    "SELECT key, state FROM (SELECT key, state, row_number() OVER "
    "(PARTITION BY key ORDER BY version DESC) r FROM {name}) WHERE r = 1"
)


def sorted_rows(df_or_rows):
    rows = df_or_rows.collect() if hasattr(df_or_rows, "collect") else df_or_rows
    return sorted(tuple(r) for r in rows)


def drained(stream, input_bytes, mode, select="SELECT * FROM {name}"):
    """The registry's drain, with no confs of its own."""
    return drain(stream, mode, select, input_bytes=input_bytes, confs={})


def drained_with_nodata(stream, input_bytes, mode, confs=None):
    """All rows of a drain that keeps the trailing no-data micro-batch
    (unless ``confs`` turns it off): the drain's own sink step."""
    spark = stream.sparkSession
    name = "nodata_" + uuid.uuid4().hex[:8]
    try:
        with _sink_view(stream, name, mode, input_bytes, confs or {}):
            return spark.table(name).collect()
    finally:
        spark.catalog.dropTempView(name)


@contextmanager
def recorded_progress():
    """Yields a list that gets each drained query's progress reports (one
    per micro-batch) when its drain finishes."""
    from pyspark.sql.streaming import StreamingQuery

    seen = []
    orig = StreamingQuery.awaitTermination

    def spy(self, *a, **kw):
        out = orig(self, *a, **kw)
        seen.append([p for p in self.recentProgress if p is not None])
        return out

    with patch.object(StreamingQuery, "awaitTermination", spy):
        yield seen


def test_streaming_hourly_matches_batch(spark):
    with events_source(spark, SF_DIR) as (ev, nbytes):
        got = sorted_rows(drained(hourly_counts(ev), nbytes, "complete"))
    assert got == sorted_rows(events_hourly(spark, SF_DIR))


def test_streaming_kv_state_matches_batch(spark):
    with events_source(spark, SF_DIR) as (ev, nbytes):
        ops = _ops_projection(ev).filter(F.col("op") != "get")
        got = sorted_rows(
            drained(kv_append_state(ops), nbytes, "update", LAST_EMISSION)
        )
    assert got == sorted_rows(kv_final_state(spark, SF_DIR))


def test_kv_stream_ops_match_batch_ops(spark):
    """The streaming op-derivation must equal the batch kv_ops derivation."""
    with events_source(spark, SF_DIR) as (ev, nbytes):
        got = sorted_rows(drained(_ops_projection(ev), nbytes, "append"))
    assert got == sorted_rows(kv_ops(spark, SF_DIR))


def test_streaming_sliding_matches_batch(spark):
    from mapreduce_simple_go_spark.operators.events import events_sliding
    from mapreduce_simple_go_spark.streaming import sliding_counts

    with events_source(spark, SF_DIR) as (ev, nbytes):
        got = sorted_rows(drained(sliding_counts(ev), nbytes, "complete"))
    assert got == sorted_rows(events_sliding(spark, SF_DIR))


def test_session_window_matches_gaps_and_islands(spark):
    """Native session_window (streaming) vs the batch gaps-and-islands fold:
    same sessions (user, start, count, value)."""
    from mapreduce_simple_go_spark.operators.events import sessionization
    from mapreduce_simple_go_spark.streaming import session_windows

    cols = "user_id, session_start, n_events, total_value"
    with events_source(spark, SF_DIR) as (ev, nbytes):
        got = sorted_rows(
            drained(session_windows(ev), nbytes, "complete", f"SELECT {cols} FROM {{name}}")
        )
    want = sorted_rows(sessionization(spark, SF_DIR).selectExpr(*cols.split(", ")))
    assert got == want


def test_stream_static_enrichment(spark):
    """Stream-static join: streaming events enriched with a static dimension
    (the standard streaming fact ⋈ broadcast dim shape)."""
    dim = spark.createDataFrame(
        [(t, i) for i, t in enumerate(["click", "view", "purchase", "signup", "error"])],
        "event_type string, type_code int",
    )
    with events_source(spark, SF_DIR) as (ev, nbytes):
        enriched = ev.join(dim, "event_type").groupBy("type_code").count()
        got = sorted_rows(drained(enriched, nbytes, "complete"))
    want = sorted_rows(
        load_events(spark, SF_DIR).join(dim, "event_type").groupBy("type_code").count()
    )
    assert got == want


def test_stream_stream_interval_join_matches_batch(spark):
    from mapreduce_simple_go_spark.operators.events import (
        purchase_within_hour_of_click,
    )
    from mapreduce_simple_go_spark.streaming import purchases_after_clicks

    with events_source(spark, SF_DIR) as (ev, nbytes):
        got = sorted_rows(drained(purchases_after_clicks(ev), nbytes, "append"))
    want = sorted_rows(purchase_within_hour_of_click(spark, SF_DIR))
    assert got == want and len(got) > 0


def test_kv_state_survives_multiple_microbatches(spark):
    """Cross-batch state continuity: the same op log split into 3 file drops
    processed as 3 micro-batches must fold to the same final state as one
    batch — put/append state carries across micro-batch boundaries exactly
    like the reference's server map persists across RPCs."""
    ops = kv_ops(spark, SF_DIR).filter(F.col("op") != "get")
    # contiguous seq ranges: arrival order (drop order) must equal seq order
    # per the stateful operator's contract — an interleaved split would be
    # out-of-order arrival, which the batch oracle doesn't model
    hi = ops.agg(F.max("seq")).first()[0] + 1
    drops = F.expr(f"seq * 3 div {hi}")
    with ordered_drops_source(spark, ops, drops, 3) as (stream, nbytes):
        rows = drained(kv_append_state(stream), nbytes, "update").collect()
    final = {}
    for r in sorted(rows, key=lambda r: r.version):
        final[r.key] = r.state
    assert sorted(final.items()) == sorted_rows(kv_final_state(spark, SF_DIR))
    # prove it actually ran as multiple micro-batches: update-mode re-emits
    # keys per batch, so total emissions exceed distinct keys
    assert len(rows) > len(final), (
        f"expected multi-batch emissions, got {len(rows)} rows for {len(final)} keys"
    )


def test_streaming_dedup_first_delivery_wins(spark):
    """At-least-once delivery: re-delivered event_ids must count once —
    dropDuplicatesWithinWatermark bounds the state by event time."""
    from mapreduce_simple_go_spark.streaming import dedup_events_stream

    ev = load_events(spark, SF_DIR)
    log = ev.unionByName(ev.filter(F.col("event_id") % 5 == 0))  # every 5th twice
    with staged_source(spark, log) as (stream, nbytes):
        got = drained(
            dedup_events_stream(stream).select("event_id"),
            nbytes,
            "append",
            "SELECT count(*) c, count(DISTINCT event_id) d FROM {name}",
        ).first()
    want = ev.select("event_id").distinct().count()
    assert got.c == got.d == want


def test_watermark_drops_data_later_than_allowance(spark):
    """Late-data contract (pinned empirically): a window keeps accepting
    late rows until the watermark EVICTS it; after eviction, late arrivals
    for that window are dropped (numRowsDroppedByWatermark) and the emitted
    result never changes. Three file drops processed as three micro-batches:
    b0 raises max event time to 06:00 (watermark 04:00 from the next batch
    on); b1's processing evicts + emits hour 00:00; b2 delivers a too-late
    row for hour 00:00 — it must be dropped, not spawn a duplicate window."""
    rows = [
        (0, 1, "2024-01-01 00:30:00"),
        (0, 2, "2024-01-01 06:00:00"),
        (1, 5, "2024-01-01 06:10:00"),
        (2, 3, "2024-01-01 00:45:00"),  # too late
        (2, 4, "2024-01-01 05:30:00"),  # in allowance
    ]
    df = spark.createDataFrame(
        [(b, eid, ts, 1, "click", 1.0, "{}") for b, eid, ts in rows],
        "b int, event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    with ordered_drops_source(spark, df, F.col("b"), 3) as (stream, nbytes):
        with recorded_progress() as progress:
            got = drained_with_nodata(hourly_counts(stream), nbytes, "append")
    dropped = sum(
        p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
        for p in progress[0]
    )
    assert dropped == 1, "the too-late row must be dropped by the watermark"
    # exactly one emission for hour 00:00, with only the on-time event
    assert [(r.hour.isoformat(), r.n_events) for r in got] == [
        ("2024-01-01T00:00:00", 1)
    ]


def test_session_fold_bucketed_equivalence(spark):
    """The bucket-keyed sessionizer must emit, per
    micro-batch, EXACTLY the per-user fold's rows — including 'timeout'
    closures — on a 3-batch drain engineered to exercise every path:

    - batch 2 extends one of u3's sessions across the batch boundary
      (carried-state merge) and opens an in-batch second island (gap);
    - u1 shares a bucket with batch-2 data but has none itself and its
      deadline expired -> the DATA-path sweep must emit its 'timeout'
      (its per-user twin times out in that same micro-batch);
    - u2/u4's bucket receives NO batch-2 data at all -> the TIMEOUT-path
      sweep must emit both.
    """
    from datetime import datetime as DT

    from mapreduce_simple_go_spark.streaming import (
        session_fold,
        session_fold_bucketed,
    )

    def ev(b, u, hh, mm, eid, val):
        return (b, u, DT(2024, 1, 1, hh, mm), eid, val)

    rows = [
        # batch 0: u1/u2/u4 early (their 30-min deadlines all precede the
        # watermark once u3's late activity sets max_ts=05:05 -> wm 03:05)
        ev(0, 1, 0, 0, 1, 1.0),
        ev(0, 1, 0, 10, 2, 2.0),
        ev(0, 2, 0, 0, 3, 3.0),
        ev(0, 4, 0, 20, 4, 4.0),
        ev(0, 3, 5, 0, 5, 5.0),
        ev(0, 3, 5, 5, 6, 6.0),
        # batch 1: only odd users (bucket 1 under pmod 2) have data
        ev(1, 3, 5, 20, 7, 7.0),   # within gap of 05:05 -> merges
        ev(1, 3, 6, 30, 8, 8.0),   # > 30 min after 05:20 -> closes as gap
        ev(1, 5, 6, 0, 9, 9.0),
        # batch 2: advance the watermark far enough to expire everyone
        ev(2, 5, 12, 0, 10, 10.0),
    ]
    df = spark.createDataFrame(
        rows, "b int, user_id long, ts timestamp, event_id long, value double"
    )

    def sessions(build):
        with ordered_drops_source(spark, df, F.col("b"), 3) as (stream, nbytes):
            return sorted_rows(drained_with_nodata(build(stream), nbytes, "append"))

    per_user = sessions(session_fold)
    bucketed = sessions(lambda ev_df: session_fold_bucketed(ev_df, n_buckets=2))
    assert per_user == bucketed
    whys = {r[-1] for r in per_user}
    # the fixture must actually exercise both closure paths
    assert whys == {"gap", "timeout"}, whys
    # and the specific engineered closures must be present
    by_user_why = {(r[0], r[-1]) for r in per_user}
    assert (1, "timeout") in by_user_why  # data-path sweep bucket
    assert (2, "timeout") in by_user_why  # timeout-path sweep bucket
    assert (3, "gap") in by_user_why


def test_session_fold_event_time_timeout_matches_batch(spark):
    """The custom applyInPandasWithState sessionizer (event-time timeout)
    must agree with batch gaps-and-islands sessionization:

    - every emitted session IS a batch session (same start/end/count/value);
    - sessions closed by a GAP (a later event arrived) are exactly the
      batch sessions minus each user's final session (which only a timeout
      or end-of-stream can close).
    """
    from mapreduce_simple_go_spark.operators.events import sessionization
    from mapreduce_simple_go_spark.streaming import session_fold

    with events_source(spark, SF_DIR) as (ev, nbytes):
        got = drained_with_nodata(session_fold(ev), nbytes, "append")
    batch = {
        (r.user_id, r.s_us, r.e_us, r.n_events, r.cents)
        for r in sessionization(spark, SF_DIR)
        .select(
            "user_id",
            F.unix_micros("session_start").alias("s_us"),
            F.unix_micros("session_end").alias("e_us"),
            "n_events",
            F.round(F.col("total_value") * 100).cast("long").alias("cents"),
        )
        .collect()
    }
    emitted = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events, r.total_cents)
        for r in got
    }
    assert emitted, "no sessions emitted"
    assert emitted <= batch, f"phantom sessions: {list(emitted - batch)[:3]}"
    # last session per user (by start) can only close via timeout/stream end
    last_per_user = {}
    for u, s, e, n, c in batch:
        if u not in last_per_user or s > last_per_user[u][1]:
            last_per_user[u] = (u, s, e, n, c)
    expected_gap_closed = batch - {
        (u, s, e, n, c) for (u, s, e, n, c) in last_per_user.values()
    }
    gap_closed = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events, r.total_cents)
        for r in got
        if r.closed_by == "gap"
    }
    assert gap_closed == expected_gap_closed


def test_foreachbatch_topk_matches_batch(spark, tmp_path):
    """Rank-in-streaming via foreachBatch: window row_number is unsupported
    inside a streaming query, so the standard pattern computes the running
    aggregate in the stream and applies the rank in foreachBatch over each
    batch's complete-mode snapshot. The LAST snapshot's top-3 hours by
    event count per type must equal the batch ranking."""
    from pyspark.sql import Window

    out = str(tmp_path / "topk_out")
    w = Window.partitionBy("event_type").orderBy(F.desc("n_events"), F.asc("hour"))

    def rank_and_write(batch_df, batch_id):
        top = (
            batch_df.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 3)
        )
        top.write.mode("overwrite").parquet(out)

    with events_source(spark, SF_DIR) as (ev, _):
        q = (
            hourly_counts(ev)
            .writeStream.foreachBatch(rank_and_write)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    got = sorted_rows(
        spark.read.parquet(out).select("event_type", "hour", "n_events", "rank")
    )
    want = sorted_rows(
        events_hourly(spark, SF_DIR)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("event_type", "hour", "n_events", "rank")
    )
    assert got == want and len(got) > 0


def test_kv_stream_final_state_multifile_drain_same_hash(spark):
    """The kv_stream_final_state REGISTRY path itself, drained as 3
    micro-batches (3 contiguous-seq file drops + maxFilesPerTrigger=1),
    must produce exactly the single-file drain's result — the versioned
    fold's "correct for any micro-batch split" claim, tested on the very
    code the driver's correctness gate hashes. Mirrors the reference's
    duplicate-delivery discipline (src/models/kv.go:40-54: re-applied ops
    must not change visible state)."""
    from mapreduce_simple_go_spark.operators.kv import kv_stream_final_state

    one = sorted_rows(kv_stream_final_state(spark, SF_DIR, n_files=1))
    three = sorted_rows(kv_stream_final_state(spark, SF_DIR, n_files=3))
    assert len(one) > 0
    assert one == three
    # and both equal the batch fold (the shared DuckDB oracle's semantics)
    assert one == sorted_rows(kv_final_state(spark, SF_DIR))


def test_tws_totals_converge_to_batch(spark):
    """Spark 4 StatefulProcessor (transformWithStateInPandas): the
    versioned per-user fold across a multi-file drain (_TWS_DROPS
    micro-batches) must equal the batch GROUP BY exactly (all-integer
    state)."""
    from mapreduce_simple_go_spark.operators.events import stream_user_totals_tws

    got = {
        (r.user_id): (r.n_events, r.sum_event_ids)
        for r in stream_user_totals_tws(spark, SF_DIR).collect()
    }
    want = {
        r.user_id: (r.n, r.s)
        for r in load_events(spark, SF_DIR)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("event_id").alias("s"))
        .collect()
    }
    assert got == want


def test_stream_stream_join_matches_across_microbatches(spark):
    """Cross-batch stream-stream join state: ALL clicks arrive in batch 1,
    all purchases in batch 2 (two file drops, one per micro-batch). Every
    qualifying pair still has to come out — the buffered click state must
    survive the micro-batch boundary until the watermark clears it."""
    from mapreduce_simple_go_spark.operators.events import (
        purchase_within_hour_of_click,
    )
    from mapreduce_simple_go_spark.streaming import purchases_after_clicks

    ev = load_events(spark, SF_DIR)
    purchases_last = (F.col("event_type") == "purchase").cast("int")
    with ordered_drops_source(spark, ev, purchases_last, 2) as (stream, nbytes):
        got = sorted_rows(drained(purchases_after_clicks(stream), nbytes, "append"))
    want = sorted_rows(purchase_within_hour_of_click(spark, SF_DIR))
    assert got == want and len(got) > 0


def test_session_window_native_boundary_semantics(spark):
    """Pin the merge-on-touch boundary: an event arriving EXACTLY gap after
    its predecessor MERGES into the same native session_window session
    (Spark merges sessions whose intervals touch), and only a strictly
    larger gap splits — i.e. the split rule is `gap > threshold`, matching
    the lag-based sessionization oracle. Empirically verified; the oracle
    SQL in SESSION_WINDOW_NATIVE_SQL uses the same strict inequality."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    gap = dt.timedelta(minutes=30)
    rows = [
        (1, t0),
        (1, t0 + gap),  # exactly the gap -> sessions touch -> MERGE
        (2, t0),
        (2, t0 + gap + dt.timedelta(microseconds=1)),  # past the gap -> split
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = (
        df.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .count()
        .groupBy("user_id")
        .agg(F.count("*").alias("n_sessions"))
    )
    got = {r.user_id: r.n_sessions for r in out.collect()}
    assert got == {1: 1, 2: 2}


def test_native_session_window_append_withholds_open_sessions(spark):
    """Streaming session_window semantics, pinned: complete mode emits
    every session (= the batch result); append mode withholds exactly the
    sessions still open at the final watermark (each user's last session
    whose end is within the 2 h allowance of max event time)."""
    import datetime as dt

    from mapreduce_simple_go_spark.operators.events import (
        SESSION_GAP_MIN,
        session_window_native,
    )
    from mapreduce_simple_go_spark.streaming import session_windows

    def sessions(ev):
        return session_windows(ev, f"{SESSION_GAP_MIN} minutes").drop("total_value")

    with events_source(spark, SF_DIR) as (ev, nbytes):
        complete = drained(sessions(ev), nbytes, "complete").collect()
    with events_source(spark, SF_DIR) as (ev, nbytes):
        # the final watermark advance closes the append windows
        append = drained_with_nodata(sessions(ev), nbytes, "append")
    batch = session_window_native(spark, SF_DIR).select(
        "user_id", "session_start", "session_end", "n_events"
    ).collect()
    key = lambda r: (r.user_id, r.session_start, r.session_end, r.n_events)
    assert sorted(map(key, complete)) == sorted(map(key, batch))
    withheld = set(map(key, complete)) - set(map(key, append))
    assert set(map(key, append)) <= set(map(key, complete))
    max_ts = max(r.session_end for r in complete) - dt.timedelta(
        minutes=SESSION_GAP_MIN
    )
    watermark = max_ts - dt.timedelta(hours=2)
    # exactly the watermark-open sessions are withheld
    assert withheld == {k for k in map(key, complete) if k[2] > watermark}
    assert len(withheld) > 0


def _sink_gate_runs(spark, drain_hourly):
    """Rows of ``drain_hourly(stream, input_bytes)`` at input_bytes=0
    (memory sink) and None (parquet sink), and whether each run went
    through foreachBatch (a spy on DataStreamWriter.foreachBatch)."""
    from pyspark.sql.streaming import DataStreamWriter

    results, ran_foreachbatch = {}, {}
    orig = DataStreamWriter.foreachBatch
    for label, input_bytes in [("memory", 0), ("parquet", None)]:
        called = []

        def spy(self, func, _called=called):
            _called.append(True)
            return orig(self, func)

        with events_source(spark, SF_DIR) as (ev, _):
            with patch.object(DataStreamWriter, "foreachBatch", spy):
                results[label] = sorted_rows(drain_hourly(hourly_counts(ev), input_bytes))
        ran_foreachbatch[label] = bool(called)
    assert not ran_foreachbatch["memory"], "small input must use the memory sink"
    assert ran_foreachbatch["parquet"], "unknown input size must use parquet"
    return results


def test_complete_mode_sink_gate_parity(spark):
    """The complete-mode size gate picks the memory sink for small inputs
    and the foreachBatch-parquet sink for large/unknown ones — and BOTH
    sinks must produce identical rows for the same drain (the gate is a
    cost choice, never a semantics choice)."""
    results = _sink_gate_runs(
        spark, lambda stream, nbytes: drained(stream, nbytes, "complete")
    )
    assert results["memory"] == results["parquet"]
    assert results["memory"] == sorted_rows(events_hourly(spark, SF_DIR))


def test_append_mode_sink_gate_parity(spark):
    """APPEND mode goes through the same size gate — the sf100
    spot-check OOM'd a 32 GB driver heap on the sessionizer's input-sized
    append drain through the memory sink. Each batch's append emissions
    are final and disjoint, so the parquet sink appends per batch and the
    union of files must equal the memory sink's table exactly. The windows
    close at the final watermark advance, so the no-data batch stays on."""
    results = _sink_gate_runs(
        spark, lambda stream, nbytes: drained_with_nodata(stream, nbytes, "append")
    )
    assert results["memory"] == results["parquet"]
    assert len(results["memory"]) > 0


def test_skip_final_nodata_batch_parity_and_fewer_batches(spark):
    """Registry drains skip the trailing no-data
    micro-batch. For a drain whose emissions are all data-batch emissions
    (dropDuplicatesWithinWatermark passes rows through the batch they
    arrive; the no-data batch only evicts state) the skip must be (a)
    result-identical and (b) actually run fewer micro-batches — the
    skipped batch is a full state-store open/commit roundtrip, which is
    what the optimization removes. (Probe record, sf0.01: batchIds
    [0, 1] -> [0] on this exact drain; complete-mode aggregations never
    ran a no-data batch in the first place, so the flag is a no-op
    there.)"""
    from mapreduce_simple_go_spark.streaming import dedup_events_stream

    batches, results = {}, {}
    for skip in (False, True):
        confs = {_NODATA_KEY: "false"} if skip else {}
        with events_source(spark, SF_DIR) as (ev, _):
            stream = dedup_events_stream(ev).select("event_type", "event_id")
            with recorded_progress() as progress:
                results[skip] = sorted_rows(
                    drained_with_nodata(stream, 0, "append", confs)
                )
        batches[skip] = len(progress[0])

    assert results[True] == results[False]
    assert len(results[True]) > 0
    assert batches[True] < batches[False], batches


# The registry's streaming entries: each is a source, a build and one
# streaming.drain call.
STREAM_ENTRIES = [
    "kv_stream_final_state",
    "stream_sessions_gap_closed",
    "stream_hourly_counts",
    "stream_dedup_counts",
    "stream_enriched_counts",
    "stream_user_totals_tws",
    "stream_sliding_counts",
    "stream_click_purchase_join",
    "stream_session_window_native",
]


@pytest.mark.parametrize("name", STREAM_ENTRIES)
def test_failed_drain_leaves_the_session_as_found(spark, tmp_path, monkeypatch, name):
    """A sink step that raises mid-drain (the query has started) must leave
    no trace: every conf a drain scopes is back at its prior value, no temp
    view or active query remains, and the scratch root is empty again."""
    from pyspark.sql.streaming import StreamingQuery

    from mapreduce_simple_go_spark.operators import all_queries

    width = "spark.sql.shuffle.partitions"
    keys = [
        width,
        "spark.sql.streaming.stateStore.providerClass",
        "spark.sql.streaming.noDataMicroBatches.enabled",
    ]

    def state():
        confs = {k: spark.conf.get(k, None) for k in keys}
        views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
        return confs, views

    def sink_fails(self, *a, **kw):
        raise RuntimeError("sink failed mid-drain")

    query = all_queries()[name]
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_DIR", str(tmp_path))
    prev_width = spark.conf.get(width)
    spark.conf.set(width, "7")  # a width no entry sets
    try:
        before = state()
        with monkeypatch.context() as m:
            m.setattr(StreamingQuery, "awaitTermination", sink_fails)
            with pytest.raises(RuntimeError, match="mid-drain"):
                query(spark, SF_DIR)
        assert state() == before
        assert spark.streams.active == []
        assert os.listdir(tmp_path) == []
    finally:
        spark.conf.set(width, prev_width)


def test_stream_hourly_counts_warm_build_jobs(spark):
    """A warm stream_hourly_counts build starts two jobs: the one
    micro-batch and the result's localCheckpoint. The in-place source takes
    the events schema from sources.table's cache (no inference job), and
    the drain materializes its result once."""
    from mapreduce_simple_go_spark.operators.events import stream_hourly_counts

    from .conftest import jobs_started

    stream_hourly_counts(spark, SF_DIR)  # warm: the schema cache fills
    _, cost = jobs_started(spark, lambda: stream_hourly_counts(spark, SF_DIR))
    assert cost.jobs == 2, cost
