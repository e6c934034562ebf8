"""Streaming operators must converge to their batch twins (bounded replay).

Methodology mirrors the reference's differential testing: the same query run
two ways must produce identical sorted results (test-mr.sh:66-98) — here the
two ways are Structured Streaming (availableNow over a file source) and the
batch DataFrame operator.
"""

from __future__ import annotations

import os
import shutil

import pytest

from mapreduce_simple_go_spark.operators.events import events_hourly
from mapreduce_simple_go_spark.operators.kv import kv_final_state, kv_ops
from mapreduce_simple_go_spark.streaming import (
    hourly_counts,
    kv_append_state,
    run_available_now,
    stream_events,
)

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def events_src(tmp_path_factory):
    """Copy the events parquet into a directory usable as a file-source."""
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(os.path.join(SF_DIR, "events.parquet"), d / "part-000.parquet")
    return str(d)


def sorted_rows(df_or_rows):
    rows = df_or_rows.collect() if hasattr(df_or_rows, "collect") else df_or_rows
    return sorted(tuple(r) for r in rows)


def test_streaming_hourly_matches_batch(spark, events_src):
    stream = hourly_counts(stream_events(spark, events_src))
    run_available_now(stream, "hourly_mem", "complete")
    got = sorted_rows(spark.sql("SELECT * FROM hourly_mem"))
    want = sorted_rows(events_hourly(spark, SF_DIR))
    assert got == want


def test_streaming_kv_state_matches_batch(spark, events_src):
    ev = stream_events(spark, events_src)
    from pyspark.sql import functions as F

    ops = ev.select(
        F.col("event_id").alias("seq"),
        (F.col("user_id") % 50).cast("string").alias("key"),
        F.expr(
            "CASE event_type WHEN 'click' THEN 'append' WHEN 'error' THEN 'append' "
            "WHEN 'purchase' THEN 'put' WHEN 'signup' THEN 'put' ELSE 'get' END"
        ).alias("op"),
        F.concat(F.lit("v"), (F.col("event_id") % 1000).cast("string"), F.lit(";")).alias("value"),
    ).filter(F.col("op") != "get")
    run_available_now(kv_append_state(ops), "kv_mem", "update")
    # update mode re-emits a key per batch; the last emission per key wins
    got = sorted_rows(
        spark.sql(
            "SELECT key, state FROM (SELECT key, state, row_number() OVER "
            "(PARTITION BY key ORDER BY version DESC) r FROM kv_mem) WHERE r = 1"
        )
    )
    want = sorted_rows(kv_final_state(spark, SF_DIR))
    assert got == want


def test_kv_stream_ops_match_batch_ops(spark, events_src):
    """The streaming op-derivation must equal the batch kv_ops derivation."""
    ev = stream_events(spark, events_src)
    run_available_now(ev, "raw_events_mem", "append")
    n_stream = spark.sql("SELECT count(*) c FROM raw_events_mem").first().c
    assert n_stream == kv_ops(spark, SF_DIR).count()


def test_streaming_sliding_matches_batch(spark, events_src):
    from mapreduce_simple_go_spark.operators.events import events_sliding
    from mapreduce_simple_go_spark.streaming import sliding_counts

    stream = sliding_counts(stream_events(spark, events_src))
    run_available_now(stream, "sliding_mem", "complete")
    got = sorted_rows(spark.sql("SELECT * FROM sliding_mem"))
    want = sorted_rows(events_sliding(spark, SF_DIR))
    assert got == want


def test_session_window_matches_gaps_and_islands(spark, events_src):
    """Native session_window (streaming) vs the batch gaps-and-islands fold:
    same sessions (user, start, count, value)."""
    from mapreduce_simple_go_spark.operators.events import sessionization
    from mapreduce_simple_go_spark.streaming import session_windows

    stream = session_windows(stream_events(spark, events_src))
    run_available_now(stream, "sessions_mem", "complete")
    got = sorted_rows(
        spark.sql("SELECT user_id, session_start, n_events, total_value FROM sessions_mem")
    )
    want = sorted_rows(
        sessionization(spark, SF_DIR).select(
            "user_id", "session_start", "n_events", "total_value"
        )
    )
    assert got == want


def test_stream_static_enrichment(spark, events_src):
    """Stream-static join: streaming events enriched with a static dimension
    (the standard streaming fact ⋈ broadcast dim shape)."""
    from pyspark.sql import functions as F

    dim = spark.createDataFrame(
        [(t, i) for i, t in enumerate(["click", "view", "purchase", "signup", "error"])],
        "event_type string, type_code int",
    )
    ev = stream_events(spark, events_src)
    enriched = ev.join(dim, "event_type").groupBy("type_code").count()
    run_available_now(enriched, "enriched_mem", "complete")
    got = {r.type_code: r["count"] for r in spark.sql("SELECT * FROM enriched_mem").collect()}
    from mapreduce_simple_go_spark.sources import load_events

    want = {
        r.type_code: r["count"]
        for r in load_events(spark, SF_DIR).join(dim, "event_type").groupBy("type_code").count().collect()
    }
    assert got == want


def test_stream_stream_interval_join_matches_batch(spark, events_src):
    from mapreduce_simple_go_spark.operators.events import (
        purchase_within_hour_of_click,
    )
    from mapreduce_simple_go_spark.streaming import purchases_after_clicks

    stream = purchases_after_clicks(stream_events(spark, events_src))
    run_available_now(stream, "ssj_mem", "append")
    got = sorted_rows(spark.sql("SELECT * FROM ssj_mem"))
    want = sorted_rows(purchase_within_hour_of_click(spark, SF_DIR))
    assert got == want and len(got) > 0


def test_kv_state_survives_multiple_microbatches(spark, tmp_path):
    """Cross-batch state continuity: the same op log split into 3 file drops
    processed as 3 micro-batches (maxFilesPerTrigger=1) must fold to the
    same final state as one batch — put/append state carries across
    micro-batch boundaries exactly like the reference's server map persists
    across RPCs."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from mapreduce_simple_go_spark.operators.kv import kv_final_state

    # split events into 3 time-ordered files
    ev = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    src = tmp_path / "multi"
    src.mkdir()
    # contiguous seq ranges: arrival order (drop order) must equal seq order
    # per the stateful operator's contract — an interleaved split would be
    # out-of-order arrival, which the batch oracle doesn't model
    n = ev.count()
    for i in range(3):
        part = ev.filter(
            (F.col("event_id") >= i * n / 3) & (F.col("event_id") < (i + 1) * n / 3)
        )
        tmp = tmp_path / f"stage{i}"
        part.coalesce(1).write.mode("overwrite").parquet(str(tmp))
        pfile = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        shutil.copy(tmp / pfile, src / f"drop{i}.parquet")

    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    from mapreduce_simple_go_spark.sources import _normalize_ts

    stream = _normalize_ts(stream)
    ops = stream.select(
        F.col("event_id").alias("seq"),
        (F.col("user_id") % 50).cast("string").alias("key"),
        F.expr(
            "CASE event_type WHEN 'click' THEN 'append' WHEN 'error' THEN 'append' "
            "WHEN 'purchase' THEN 'put' WHEN 'signup' THEN 'put' ELSE 'get' END"
        ).alias("op"),
        F.concat(F.lit("v"), (F.col("event_id") % 1000).cast("string"), F.lit(";")).alias("value"),
    ).filter(F.col("op") != "get")
    run_available_now(kv_append_state(ops), "kv_multi_mem", "update")
    # last emission per key wins (update mode re-emits per batch)
    got = sorted_rows(
        spark.sql(
            "SELECT key, state FROM (SELECT key, state, row_number() OVER "
            "(PARTITION BY key ORDER BY version DESC) r FROM kv_multi_mem) WHERE r = 1"
        )
    )
    want = sorted_rows(kv_final_state(spark, SF_DIR))
    assert got == want
    # prove it actually ran as multiple micro-batches: update-mode re-emits
    # keys per batch, so total emissions exceed distinct keys
    total = spark.sql("SELECT count(*) FROM kv_multi_mem").first()[0]
    n_keys = spark.sql("SELECT count(DISTINCT key) FROM kv_multi_mem").first()[0]
    assert total > n_keys, f"expected multi-batch emissions, got {total} rows for {n_keys} keys"


def test_streaming_dedup_first_delivery_wins(spark, tmp_path):
    """At-least-once delivery: re-delivered event_ids must count once —
    dropDuplicatesWithinWatermark bounds the state by event time."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from mapreduce_simple_go_spark.sources import load_events
    from mapreduce_simple_go_spark.streaming import dedup_events_stream

    ev = load_events(spark, SF_DIR)
    dup = ev.filter(F.col("event_id") % 5 == 0)  # re-deliver every 5th
    log = ev.unionByName(dup)
    src = tmp_path / "src"
    src.mkdir()
    stage = tmp_path / "stage"
    log.coalesce(1).write.mode("overwrite").parquet(str(stage))
    pfile = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
    shutil.copy(stage / pfile, src / "drop0.parquet")

    schema = spark.read.parquet(str(src)).schema
    stream = spark.readStream.schema(schema).parquet(str(src))
    run_available_now(
        dedup_events_stream(stream).select("event_id"), "dedup_mem", "append"
    )
    got = spark.sql("SELECT count(*) c, count(DISTINCT event_id) d FROM dedup_mem").first()
    want = ev.select("event_id").distinct().count()
    assert got.c == got.d == want


def test_watermark_drops_data_later_than_allowance(spark, tmp_path):
    """Late-data contract (pinned empirically): a window keeps accepting
    late rows until the watermark EVICTS it; after eviction, late arrivals
    for that window are dropped (numRowsDroppedByWatermark) and the emitted
    result never changes. Three file drops processed as three micro-batches:
    b0 raises max event time to 06:00 (watermark 04:00 from the next batch
    on); b1's processing evicts + emits hour 00:00; b2 delivers a too-late
    row for hour 00:00 — it must be dropped, not spawn a duplicate window."""
    import os
    import shutil

    import pandas as pd
    from pyspark.sql import functions as F

    from mapreduce_simple_go_spark.streaming import hourly_counts

    src = tmp_path / "late_src"
    src.mkdir()

    def drop(name, rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        stage = tmp_path / f"stage_{name}"
        spark.createDataFrame(pdf).withColumn(
            "ts", F.col("ts").cast("timestamp")
        ).coalesce(1).write.mode("overwrite").parquet(str(stage))
        pfile = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        shutil.copy(stage / pfile, src / f"{name}.parquet")

    drop(
        "b0",
        [
            (1, "2024-01-01 00:30:00", 1, "click", 1.0, "{}"),
            (2, "2024-01-01 06:00:00", 1, "click", 1.0, "{}"),
        ],
    )
    drop("b1", [(5, "2024-01-01 06:10:00", 1, "click", 1.0, "{}")])
    drop(
        "b2",
        [
            (3, "2024-01-01 00:45:00", 1, "click", 1.0, "{}"),  # too late
            (4, "2024-01-01 05:30:00", 1, "click", 1.0, "{}"),  # in allowance
        ],
    )
    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        hourly_counts(stream)
        .writeStream.format("memory")
        .queryName("late_mem")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = sum(
        p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
    )
    assert dropped == 1, "the too-late row must be dropped by the watermark"
    got = [
        (r.hour.isoformat(), r.n_events)
        for r in spark.sql("SELECT * FROM late_mem").collect()
    ]
    # exactly one emission for hour 00:00, with only the on-time event
    assert got == [("2024-01-01T00:00:00", 1)]


def test_session_fold_bucketed_equivalence(spark, tmp_path):
    """r11: the bucket-keyed sessionizer must emit, per
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

    from pyspark.sql import functions as F

    from mapreduce_simple_go_spark.streaming import (
        session_fold,
        session_fold_bucketed,
    )

    def ev(u, hh, mm, eid, val):
        return (u, DT(2024, 1, 1, hh, mm), eid, val)

    batches = [
        # batch 1: u1/u2/u4 early (their 30-min deadlines all precede the
        # watermark once u3's late activity sets max_ts=05:05 -> wm 03:05)
        [
            ev(1, 0, 0, 1, 1.0),
            ev(1, 0, 10, 2, 2.0),
            ev(2, 0, 0, 3, 3.0),
            ev(4, 0, 20, 4, 4.0),
            ev(3, 5, 0, 5, 5.0),
            ev(3, 5, 5, 6, 6.0),
        ],
        # batch 2: only odd users (bucket 1 under pmod 2) have data
        [
            ev(3, 5, 20, 7, 7.0),   # within gap of 05:05 -> merges
            ev(3, 6, 30, 8, 8.0),   # > 30 min after 05:20 -> closes as gap
            ev(5, 6, 0, 9, 9.0),
        ],
        # batch 3: advance the watermark far enough to expire everyone
        [ev(5, 12, 0, 10, 10.0)],
    ]
    src = tmp_path / "sess_eq_src"
    src.mkdir()
    schema = "user_id long, ts timestamp, event_id long, value double"
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"b{i}"))
        pq = [
            f
            for f in os.listdir(tmp_path / f"b{i}")
            if f.endswith(".parquet")
        ][0]
        shutil.copy(tmp_path / f"b{i}" / pq, src / f"drop{i}.parquet")

    def drain(build, name):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        run_available_now(build(stream), name, "append")
        rows = spark.sql(
            "SELECT user_id, session_start_us, session_end_us, n_events, "
            f"total_cents, closed_by FROM {name}"
        ).collect()
        spark.catalog.dropTempView(name)
        return sorted(tuple(r) for r in rows)

    per_user = drain(session_fold, "sess_eq_user")
    bucketed = drain(
        lambda ev_df: session_fold_bucketed(ev_df, n_buckets=2),
        "sess_eq_bucket",
    )
    assert per_user == bucketed
    whys = {r[-1] for r in per_user}
    # the fixture must actually exercise both closure paths
    assert whys == {"gap", "timeout"}, whys
    # and the specific engineered closures must be present
    by_user_why = {(r[0], r[-1]) for r in per_user}
    assert (1, "timeout") in by_user_why  # data-path sweep bucket
    assert (2, "timeout") in by_user_why  # timeout-path sweep bucket
    assert (3, "gap") in by_user_why


def test_session_fold_event_time_timeout_matches_batch(spark, events_src):
    """The custom applyInPandasWithState sessionizer (event-time timeout)
    must agree with batch gaps-and-islands sessionization:

    - every emitted session IS a batch session (same start/end/count/value);
    - sessions closed by a GAP (a later event arrived) are exactly the
      batch sessions minus each user's final session (which only a timeout
      or end-of-stream can close).
    """
    from pyspark.sql import functions as F

    from mapreduce_simple_go_spark.operators.events import sessionization
    from mapreduce_simple_go_spark.streaming import session_fold

    run_available_now(
        session_fold(stream_events(spark, events_src)), "sess_fold_mem", "append"
    )
    got = spark.sql(
        "SELECT user_id, session_start_us, session_end_us, n_events, "
        "total_cents, closed_by FROM sess_fold_mem"
    ).collect()
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


def test_foreachbatch_upsert_converges_to_batch(spark, tmp_path):
    """foreachBatch upsert sink: a multi-batch drain of the stateful KV fold
    must leave the parquet table equal to the batch fold — max-version-wins
    merge makes per-batch redeliveries idempotent."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from mapreduce_simple_go_spark.operators.kv import kv_final_state, kv_ops
    from mapreduce_simple_go_spark.streaming import (
        kv_append_state,
        run_foreachbatch_upsert,
    )

    ops = kv_ops(spark, SF_DIR).filter(F.col("op") != "get").orderBy("seq")
    # seq values are sparse (event_ids), so split on VALUE percentiles —
    # row-count ranges would silently drop every op past the count
    b1, b2 = ops.selectExpr(
        "percentile(seq, 0.34) p1", "percentile(seq, 0.67) p2"
    ).first()
    bounds = [(None, b1), (b1, b2), (b2, None)]
    src = tmp_path / "src"
    src.mkdir()
    # three time-ordered drops -> three micro-batches with maxFilesPerTrigger
    for i, (lo, hi) in enumerate(bounds):
        part = ops
        if lo is not None:
            part = part.filter(F.col("seq") >= lo)
        if hi is not None:
            part = part.filter(F.col("seq") < hi)
        stage = tmp_path / f"stage{i}"
        part.coalesce(1).write.mode("overwrite").parquet(str(stage))
        pfile = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        shutil.copy(stage / pfile, src / f"drop{i}.parquet")
    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    run_foreachbatch_upsert(kv_append_state(stream), out, ckpt)
    got = sorted_rows(spark.read.parquet(out).select("key", "state"))
    want = sorted_rows(kv_final_state(spark, SF_DIR))
    assert got == want and len(got) > 0


def test_foreachbatch_upsert_restart_exactly_once(spark, tmp_path):
    """Stop the upsert drain after the first file, drop two more, restart
    with the SAME checkpoint: the restarted query must not re-apply file 1
    (the append fold would double-concatenate) and the final table must
    equal the batch fold — streaming E13 (exactly-once visible output)."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from mapreduce_simple_go_spark.operators.kv import kv_final_state, kv_ops
    from mapreduce_simple_go_spark.streaming import (
        kv_append_state,
        run_foreachbatch_upsert,
    )

    ops = kv_ops(spark, SF_DIR).filter(F.col("op") != "get").orderBy("seq")
    b1, b2 = ops.selectExpr(
        "percentile(seq, 0.34) p1", "percentile(seq, 0.67) p2"
    ).first()
    bounds = [(None, b1), (b1, b2), (b2, None)]
    src = tmp_path / "src"
    src.mkdir()
    staged = []
    for i, (lo, hi) in enumerate(bounds):
        part = ops
        if lo is not None:
            part = part.filter(F.col("seq") >= lo)
        if hi is not None:
            part = part.filter(F.col("seq") < hi)
        stage = tmp_path / f"stage{i}"
        part.coalesce(1).write.mode("overwrite").parquet(str(stage))
        pfile = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        staged.append((stage / pfile, src / f"drop{i}.parquet"))
    schema = spark.read.parquet(str(staged[0][0])).schema
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def drain():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        run_foreachbatch_upsert(kv_append_state(stream), out, ckpt)

    shutil.copy(*staged[0])
    drain()                      # run 1: file 0 only, then the query stops
    shutil.copy(*staged[1])
    shutil.copy(*staged[2])
    drain()                      # run 2: same checkpoint, files 1-2 only
    got = sorted_rows(spark.read.parquet(out).select("key", "state"))
    want = sorted_rows(kv_final_state(spark, SF_DIR))
    assert got == want and len(got) > 0


def test_foreachbatch_topk_matches_batch(spark, events_src, tmp_path):
    """Rank-in-streaming via foreachBatch: window row_number is unsupported
    inside a streaming query, so the standard pattern computes the running
    aggregate in the stream and applies the rank in foreachBatch over each
    batch's complete-mode snapshot. The LAST snapshot's top-3 hours by
    event count per type must equal the batch ranking."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mapreduce_simple_go_spark.operators.events import events_hourly
    from mapreduce_simple_go_spark.streaming import hourly_counts, stream_events

    out = str(tmp_path / "topk_out")
    agg = hourly_counts(stream_events(spark, events_src))
    w = Window.partitionBy("event_type").orderBy(F.desc("n_events"), F.asc("hour"))

    def rank_and_write(batch_df, batch_id):
        top = (
            batch_df.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 3)
        )
        top.write.mode("overwrite").parquet(out)

    q = (
        agg.writeStream.foreachBatch(rank_and_write)
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
    micro-batches — 2 since the r10 shave) must equal the batch GROUP BY
    exactly (all-integer state)."""
    from mapreduce_simple_go_spark.operators.events import stream_user_totals_tws
    from mapreduce_simple_go_spark.sources import load_events

    from .conftest import SF_DIR

    got = {
        (r.user_id): (r.n_events, r.sum_event_ids)
        for r in stream_user_totals_tws(spark, SF_DIR).collect()
    }
    from pyspark.sql import functions as F

    want = {
        r.user_id: (r.n, r.s)
        for r in load_events(spark, SF_DIR)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("event_id").alias("s"))
        .collect()
    }
    assert got == want


def test_stream_stream_join_matches_across_microbatches(spark, tmp_path):
    """Cross-batch stream-stream join state: ALL clicks arrive in batch 1,
    all purchases in batch 2 (two file drops, maxFilesPerTrigger=1). Every
    qualifying pair still has to come out — the buffered click state must
    survive the micro-batch boundary until the watermark clears it."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from mapreduce_simple_go_spark.operators.events import (
        purchase_within_hour_of_click,
    )
    from mapreduce_simple_go_spark.sources import _normalize_ts, load_events
    from mapreduce_simple_go_spark.streaming import (
        purchases_after_clicks,
        run_available_now,
    )

    ev = load_events(spark, SF_DIR)
    src = tmp_path / "split_src"
    src.mkdir()
    for i, pred in enumerate(
        [F.col("event_type") != "purchase", F.col("event_type") == "purchase"]
    ):
        tmp = tmp_path / f"stage{i}"
        ev.filter(pred).coalesce(1).write.mode("overwrite").parquet(str(tmp))
        pfile = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        shutil.copy(tmp / pfile, src / f"drop{i}.parquet")

    schema = spark.read.parquet(str(src)).schema
    stream = _normalize_ts(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    run_available_now(purchases_after_clicks(stream), "ssj_split_mem", "append")
    got = sorted_rows(spark.sql("SELECT * FROM ssj_split_mem"))
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

    from pyspark.sql import functions as F

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


def test_native_session_window_append_withholds_open_sessions(spark, events_src):
    """Streaming session_window semantics, pinned: complete mode emits
    every session (= the batch result); append mode withholds exactly the
    sessions still open at the final watermark (each user's last session
    whose end is within the 2 h allowance of max event time)."""
    import datetime as dt

    from mapreduce_simple_go_spark.operators.events import (
        SESSION_GAP_MIN,
        session_window_native,
    )
    from mapreduce_simple_go_spark.streaming import (
        run_available_now,
        session_windows,
        stream_events,
    )

    def drained(mode):
        agg = session_windows(
            stream_events(spark, events_src), f"{SESSION_GAP_MIN} minutes"
        ).drop("total_value")
        run_available_now(agg, f"snat_t_{mode}", mode)
        return spark.sql(f"SELECT * FROM snat_t_{mode}").collect()

    batch = session_window_native(spark, SF_DIR).select(
        "user_id", "session_start", "session_end", "n_events"
    ).collect()
    key = lambda r: (r.user_id, r.session_start, r.session_end, r.n_events)
    complete, append = drained("complete"), drained("append")
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


def test_complete_mode_sink_gate_parity(spark, events_src):
    """The complete-mode size gate picks the memory sink for small inputs
    and the foreachBatch-parquet sink for large/unknown ones — and BOTH
    sinks must produce identical rows for the same drain (the gate is a
    cost choice, never a semantics choice). input_bytes=0 forces memory,
    input_bytes=None forces parquet; a spy on DataStreamWriter.foreachBatch
    pins which path actually ran."""
    from unittest.mock import patch

    from pyspark.sql.streaming import DataStreamWriter

    results = {}
    ran_foreachbatch = {}
    orig = DataStreamWriter.foreachBatch

    for label, input_bytes in [("memory", 0), ("parquet", None)]:
        called = []

        def spy(self, func, _called=called):
            _called.append(True)
            return orig(self, func)

        stream = hourly_counts(stream_events(spark, events_src))
        with patch.object(DataStreamWriter, "foreachBatch", spy):
            run_available_now(stream, f"gate_{label}", "complete", input_bytes)
        results[label] = sorted_rows(spark.sql(f"SELECT * FROM gate_{label}"))
        ran_foreachbatch[label] = bool(called)
        spark.catalog.dropTempView(f"gate_{label}")

    assert not ran_foreachbatch["memory"], "small input must use the memory sink"
    assert ran_foreachbatch["parquet"], "unknown input size must use parquet"
    assert results["memory"] == results["parquet"]
    assert results["memory"] == sorted_rows(events_hourly(spark, SF_DIR))


def test_append_mode_sink_gate_parity(spark, events_src):
    """r12: APPEND mode goes through the same size gate — the sf100
    spot-check OOM'd a 32 GB driver heap on the sessionizer's input-sized
    append drain through the memory sink. Each batch's append emissions
    are final and disjoint, so the parquet sink appends per batch and the
    union of files must equal the memory sink's table exactly."""
    from unittest.mock import patch

    from pyspark.sql.streaming import DataStreamWriter

    results = {}
    ran_foreachbatch = {}
    orig = DataStreamWriter.foreachBatch

    for label, input_bytes in [("memory", 0), ("parquet", None)]:
        called = []

        def spy(self, func, _called=called):
            _called.append(True)
            return orig(self, func)

        stream = hourly_counts(stream_events(spark, events_src))
        with patch.object(DataStreamWriter, "foreachBatch", spy):
            run_available_now(stream, f"agate_{label}", "append", input_bytes)
        results[label] = sorted_rows(spark.sql(f"SELECT * FROM agate_{label}"))
        ran_foreachbatch[label] = bool(called)
        spark.catalog.dropTempView(f"agate_{label}")

    assert not ran_foreachbatch["memory"], "small input must use the memory sink"
    assert ran_foreachbatch["parquet"], "unknown input size must use parquet"
    assert results["memory"] == results["parquet"]
    assert len(results["memory"]) > 0


def test_skip_final_nodata_batch_parity_and_fewer_batches(spark, events_src):
    """r13: registry drains opt in to skipping the trailing no-data
    micro-batch. For a drain whose emissions are all data-batch emissions
    (dropDuplicatesWithinWatermark passes rows through the batch they
    arrive; the no-data batch only evicts state) the skip must be (a)
    result-identical and (b) actually run fewer micro-batches — the
    skipped batch is a full state-store open/commit roundtrip, which is
    what the optimization removes. (Probe record, sf0.01: batchIds
    [0, 1] -> [0] on this exact drain; complete-mode aggregations never
    ran a no-data batch in the first place, so the flag is a no-op
    there.)"""
    import uuid
    from unittest.mock import patch

    from pyspark.sql.streaming import StreamingQuery

    from mapreduce_simple_go_spark.streaming import dedup_events_stream

    progress: dict[bool, int] = {}
    results = {}
    orig_await = StreamingQuery.awaitTermination

    for skip in (False, True):
        name = f"nodata_{skip}_{uuid.uuid4().hex[:6]}"
        seen = {}

        def spy(self, *a, _seen=seen, **kw):
            out = orig_await(self, *a, **kw)
            _seen["batches"] = len(
                [p for p in self.recentProgress if p is not None]
            )
            return out

        stream = dedup_events_stream(
            stream_events(spark, events_src)
        ).select("event_type", "event_id")
        with patch.object(StreamingQuery, "awaitTermination", spy):
            run_available_now(
                stream, name, "append", input_bytes=0,
                skip_final_nodata_batch=skip,
            )
        results[skip] = sorted_rows(spark.sql(f"SELECT * FROM {name}"))
        progress[skip] = seen["batches"]
        spark.catalog.dropTempView(name)

    assert results[True] == results[False]
    assert len(results[True]) > 0
    assert progress[True] < progress[False], progress


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


def test_foreachbatch_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    """The bucketed upsert sink must leave bucket partitions whose keys a
    micro-batch does NOT touch byte-identical on disk (dynamic partition
    overwrite = partial rewrite, the bound that kills r7's O(table)
    per-batch merge), while still converging to the batch fold."""
    import hashlib
    import os

    from pyspark.sql import functions as F

    from mapreduce_simple_go_spark import streaming as streaming_mod
    from mapreduce_simple_go_spark.streaming import (
        _bucket_of,
        kv_append_state,
        run_foreachbatch_upsert,
    )

    # two keys in provably different buckets
    ka, kb = "a", "b"
    buckets = {
        r.k: r.b
        for r in spark.createDataFrame([(ka,), (kb,)], "k string")
        .select("k", _bucket_of(F.col("k"), streaming_mod.UPSERT_BUCKETS).alias("b"))
        .collect()
    }
    assert buckets[ka] != buckets[kb], "pick keys in distinct buckets"

    def ops_df(rows):
        return spark.createDataFrame(rows, "seq long, key string, op string, value string")

    src = tmp_path / "src"
    src.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def drain():
        stream = (
            spark.readStream.schema("seq long, key string, op string, value string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        run_foreachbatch_upsert(kv_append_state(stream), out, ckpt)

    def snapshot(bucket):
        d = os.path.join(out, f"bucket={bucket}")
        return {
            f: hashlib.md5(open(os.path.join(d, f), "rb").read()).hexdigest()
            for f in sorted(os.listdir(d))
            if f.endswith(".parquet")
        }

    # batch 1 touches BOTH keys; batch 2 touches only kb
    stage = tmp_path / "stage0"
    ops_df([(1, ka, "put", "A1"), (2, kb, "put", "B1")]).coalesce(1).write.parquet(str(stage))
    pfile = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
    os.link(stage / pfile, src / "drop0.parquet")
    drain()
    before_a, before_b = snapshot(buckets[ka]), snapshot(buckets[kb])

    stage2 = tmp_path / "stage1"
    ops_df([(3, kb, "append", "B2")]).coalesce(1).write.parquet(str(stage2))
    pfile2 = next(f for f in os.listdir(stage2) if f.endswith(".parquet"))
    os.link(stage2 / pfile2, src / "drop1.parquet")
    drain()

    assert snapshot(buckets[ka]) == before_a, "untouched bucket was rewritten"
    assert snapshot(buckets[kb]) != before_b, "touched bucket must change"
    got = sorted_rows(spark.read.parquet(out).select("key", "state"))
    assert got == [(ka, "A1"), (kb, "B1B2")]


def _mini_upsert_drain(spark, tmp_path, rows, out, ckpt, tag="0"):
    """One-batch upsert drain of literal KV ops (helper for the layout/knob
    guard tests below)."""
    import os

    from mapreduce_simple_go_spark.streaming import (
        kv_append_state,
        run_foreachbatch_upsert,
    )

    src = tmp_path / f"src{tag}"
    src.mkdir()
    stage = tmp_path / f"stage_{tag}"
    spark.createDataFrame(
        rows, "seq long, key string, op string, value string"
    ).coalesce(1).write.parquet(str(stage))
    pfile = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
    os.link(stage / pfile, src / "drop0.parquet")
    stream = (
        spark.readStream.schema("seq long, key string, op string, value string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    run_foreachbatch_upsert(kv_append_state(stream), out, ckpt)


def test_foreachbatch_upsert_bucket_count_env_knob(spark, tmp_path, monkeypatch):
    """UPSERT_BUCKETS is a knob (r9): a different bucket
    count must still converge to max-version-wins state, and the sink layout
    must actually use that count (bucket ids bounded by it, stamp recorded)."""
    import os

    from mapreduce_simple_go_spark import streaming as streaming_mod

    monkeypatch.setattr(streaming_mod, "UPSERT_BUCKETS", 5)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _mini_upsert_drain(
        spark,
        tmp_path,
        [(1, "a", "put", "A1"), (2, "b", "put", "B1"), (3, "a", "append", "A2")],
        out,
        ckpt,
    )
    got = sorted_rows(spark.read.parquet(out).select("key", "state"))
    assert got == [("a", "A1A2"), ("b", "B1")]
    bucket_ids = [
        int(d.split("=", 1)[1])
        for d in os.listdir(out)
        if d.startswith("bucket=")
    ]
    assert bucket_ids and all(0 <= b < 5 for b in bucket_ids)
    assert open(os.path.join(out, "_upsert_buckets")).read().strip() == "5"


def test_foreachbatch_upsert_refuses_bucket_count_mismatch(spark, tmp_path, monkeypatch):
    """Resuming an existing sink with a CHANGED bucket count must fail
    loudly: rows bucketed under the previous pmod would be invisible to the
    touched-bucket read (silent row loss), so the stamp guard refuses."""
    import pytest as _pytest

    from mapreduce_simple_go_spark import streaming as streaming_mod

    out = str(tmp_path / "out")
    _mini_upsert_drain(
        spark, tmp_path, [(1, "a", "put", "A1")], out, str(tmp_path / "ckpt1"), tag="1"
    )
    monkeypatch.setattr(streaming_mod, "UPSERT_BUCKETS", 7)
    with _pytest.raises(Exception, match="buckets"):
        _mini_upsert_drain(
            spark,
            tmp_path,
            [(2, "a", "append", "A2")],
            out,
            str(tmp_path / "ckpt2"),
            tag="2",
        )


def test_foreachbatch_upsert_refuses_flat_parquet_layout(spark, tmp_path):
    """A sink dir holding flat (non-bucketed) parquet files — e.g. a pre-r8
    unbucketed sink — must fail loudly instead of being treated as empty
    (a check that treats it as empty silently drops those rows from the
    merge and leaves a mixed layout)."""
    import pytest as _pytest

    out = str(tmp_path / "out")
    spark.createDataFrame(
        [("a", "OLD", 1)], "key string, state string, version long"
    ).coalesce(1).write.parquet(out)
    with _pytest.raises(Exception, match="non-bucketed parquet"):
        _mini_upsert_drain(
            spark, tmp_path, [(2, "a", "append", "A2")], out, str(tmp_path / "ckpt")
        )


def test_foreachbatch_upsert_uri_sink_merges_prior_rows(spark, tmp_path, monkeypatch):
    """URI out_dir end-to-end (r9): with the pre-r10
    driver-local probes, a ``file:``-URI sink made _check_layout_and_stamp
    silently no-op and skipped the existing-bucket read, so dynamic
    partition overwrite DROPPED prior rows in touched buckets and the
    stamp write died late on OSError. With UPSERT_BUCKETS=1 every key
    shares bucket 0, so ANY prior-row loss in a touched bucket is visible:
    two sequential drains (fresh checkpoints — a redeploy, not a resume)
    must leave all three keys, and the stamp must live in the sink."""
    from mapreduce_simple_go_spark import fsutil
    from mapreduce_simple_go_spark import streaming as streaming_mod

    monkeypatch.setattr(streaming_mod, "UPSERT_BUCKETS", 1)
    out = "file:" + str(tmp_path / "out")
    _mini_upsert_drain(
        spark,
        tmp_path,
        [(1, "a", "put", "A1"), (2, "b", "put", "B1")],
        out,
        str(tmp_path / "ckpt1"),
        tag="1",
    )
    _mini_upsert_drain(
        spark,
        tmp_path,
        [(3, "c", "put", "C1")],
        out,
        str(tmp_path / "ckpt2"),
        tag="2",
    )
    got = sorted_rows(spark.read.parquet(out).select("key", "state"))
    assert got == [("a", "A1"), ("b", "B1"), ("c", "C1")]
    assert fsutil.read_text(spark, out + "/_upsert_buckets").strip() == "1"
