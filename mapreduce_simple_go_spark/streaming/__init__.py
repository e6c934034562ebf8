"""Structured Streaming operators.

The reference has no streaming surface; its only stateful semantics are the
declared KV get/put/append ops (/root/reference/src/models/kv.go:40-54). This
module provides the streaming forms: watermarked tumbling, sliding and
session windows, a stream-stream interval join, a stream-static join,
watermark-bounded dedup, and three custom stateful folds (the KV
put/append fold :func:`kv_append_state`, the event-time-timeout
sessionizer :func:`session_fold` with its bucketed scale form, and the
``transformWithStateInPandas`` per-user totals). Each converges to a batch
twin in ``operators`` (asserted in tests/test_streaming.py).

The registry's streaming entries (operators.events, operators.kv) each pick
a bounded source (:func:`events_source`, :func:`staged_source`,
:func:`ordered_drops_source`), build one of these operators over it and
hand the result to :func:`drain`, the one path that scopes their confs,
drains an ``availableNow`` query into a sink, runs the final SELECT,
materializes it and cleans up. The tests stream through the same sources
and drain; only the ones that need the trailing no-data micro-batch
(event-time timeouts, watermark-closed append windows) use the sink step
:func:`_sink_view` that :func:`drain` wraps.

Scale notes: watermarks bound window state; the KV operator's state is one
string per key (exactly the reference server's in-memory map).
"""

from __future__ import annotations

import os
import sys
import uuid
from contextlib import contextmanager, nullcontext
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions import money
from ..session import scoped_confs


def _parquet_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    glob: str | None = None,
    per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over the parquet files in ``path`` (file sources
    require an explicit schema). ``glob`` is a ``pathGlobFilter``;
    ``per_trigger`` a ``maxFilesPerTrigger``."""
    reader = spark.readStream.schema(schema)
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    if per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", per_trigger)
    return reader.parquet(path)


# --- Bounded sources of the registry entries ---------------------------------
#
# Each is a context manager yielding ``(stream_df, input_bytes)``: the stream
# and the bytes of its data files (never _SUCCESS/.crc siblings, so the sink
# and width gates mean the same on every source). Staged sources write under
# an fsutil.scratch dir, deleted on exit; all probes, writes and copies go
# through the Hadoop FS API, so ``sf_dir`` and SPARK_GRAFT_SCRATCH_DIR may be
# URIs on any scheme the deployment resolves.


@contextmanager
def events_source(spark: SparkSession, sf_dir: str):
    """The fixture's events table streamed IN PLACE: no staging copy.

    A single-file fixture streams from ``sf_dir`` through a filename glob,
    so sibling tables are invisible to the source; a Spark-written
    directory (the scaled fixtures) streams directly. The schema comes
    from ``sources.table``'s per-file-version cache, so a warm build runs
    no schema-inference job.
    """
    from ..fsutil import du_suffix_bytes, is_dir
    from ..sources import _events_reader_confs, _normalize_ts, table

    _events_reader_confs(spark)
    src = os.path.join(sf_dir, "events.parquet")
    schema = table(spark, sf_dir, "events").schema
    if is_dir(spark, src):
        stream = _parquet_stream(spark, src, schema)
    else:
        stream = _parquet_stream(spark, sf_dir, schema, glob="events.parquet")
    yield _normalize_ts(stream), du_suffix_bytes(spark, src, ".parquet")


@contextmanager
def staged_source(spark: SparkSession, df: DataFrame, single_file: bool = True):
    """``df`` written to scratch and streamed back as ONE micro-batch.

    ``single_file`` writes one file (coalesce(1)), so arrival order is
    ``df``'s row order; a caller whose result depends on that order (the
    sessionizer sorts by ts first) must keep it, since a hash repartition
    would lose the order. ``single_file=False`` keeps the write parallel
    for arrival-order-free callers: the coalesce(1) write is a one-task
    funnel of the whole staged table (~3.5 s of stream_dedup_counts' 7 s
    at the 10x fixture). The stream takes the schema of the frame just
    written.
    """
    from ..fsutil import du_suffix_bytes, scratch

    with scratch(spark, "stage_") as root:
        stage = root.rstrip("/") + "/stage"
        (df.coalesce(1) if single_file else df).write.mode("overwrite").parquet(stage)
        stream = _parquet_stream(spark, stage, df.schema, glob="*.parquet")
        yield stream, du_suffix_bytes(spark, stage, ".parquet")


@contextmanager
def ordered_drops_source(
    spark: SparkSession, df: DataFrame, drop: Column, n_drops: int
):
    """``df`` split by the integer column ``drop`` (values 0..n_drops-1)
    into one file per drop, drained ONE FILE PER MICRO-BATCH in drop order.

    One staging job: repartition(n_drops, drop) puts each drop's rows in
    one task, so partitionBy(drop) writes exactly one file per drop (where
    a filter + coalesce(1) per drop would scan ``df`` once per drop).
    Sequential copies then stamp ascending mtimes, the file source's
    micro-batch order, and maxFilesPerTrigger=1 makes each file its own
    micro-batch. A drop with no rows writes no directory and is skipped:
    fewer files just means fewer micro-batches.
    """
    from ..fsutil import copy, du_suffix_bytes, exists, list_files, mkdirs, scratch

    with scratch(spark, "drops_") as root:
        stage = root.rstrip("/") + "/stage"
        src = root.rstrip("/") + "/src"
        (
            df.withColumn("drop", drop)
            .repartition(n_drops, "drop")
            .write.mode("overwrite")
            .partitionBy("drop")
            .parquet(stage)
        )
        mkdirs(spark, src)
        for i in range(n_drops):
            part = f"{stage}/drop={i}"
            if exists(spark, part):
                first = list_files(spark, part, suffix=".parquet")[0]
                copy(spark, first, f"{src}/drop{i}.parquet")
        stream = _parquet_stream(spark, src, df.schema, per_trigger=1)
        yield stream, du_suffix_bytes(spark, src, ".parquet")


def hourly_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling 1-hour aggregation (streaming events_hourly).

    The watermark bounds state: windows older than max(event time) -
    watermark are finalized and evicted. Late rows inside the allowance
    still update their window.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(F.col("win.start").alias("hour"), "event_type", "n_events", "total_value")
    )


# State/output schema v2: both carry ``version`` — the max seq applied to
# the key so far. Downstream consumers pick the row with max version per key
# instead of trusting memory-sink row order (read-time partition order is not
# a documented guarantee of batch append order once a drain spans multiple
# micro-batches). NOTE: adding the field changed the state schema —
# applyInPandasWithState does not migrate state, so checkpoints written by
# the single-field v1 schema need a fresh checkpoint dir.
_KV_STATE_SCHEMA = StructType(
    [StructField("state", StringType()), StructField("version", LongType())]
)
_KV_OUT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("state", StringType()),
        StructField("version", LongType()),
    ]
)


def _kv_fold(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold put/append ops for one key across a micro-batch.

    Reference semantics (models/kv.go:47-53): put overwrites, append
    concatenates with no delimiter. Ops inside the batch are applied in seq
    order; state persists across batches. ``version`` = max seq applied —
    monotone across micro-batches, so "max version per key" identifies the
    final emission without relying on sink row order.
    """
    current, version = state.get if state.exists else ("", -1)
    # A key's ops within one micro-batch may span several Arrow record
    # batches; materialize them all and sort ONCE so the fold follows
    # global seq order, not per-chunk arrival order. Memory stays bounded
    # by this key's ops in this micro-batch (the same bound the per-chunk
    # loop already implied).
    frames = [pdf for pdf in pdfs if len(pdf)]
    if frames:
        allops = pd.concat(frames, ignore_index=True).sort_values("seq")
        for op, value in zip(allops["op"], allops["value"]):
            if op == "put":
                current = value
            elif op == "append":
                current = current + value
        version = max(version, int(allops["seq"].max()))
    state.update((current, version))
    yield pd.DataFrame({"key": [key[0]], "state": [current], "version": [version]})


def kv_append_state(ops: DataFrame) -> DataFrame:
    """Stateful streaming KV fold: per-key current value, updated each batch.

    ``ops`` needs columns (seq, key, op, value). Within a micro-batch a
    key's ops apply in seq order; across batches arrival order is the
    stream order — the same "linearization order = arrival order" contract
    the reference's Raft log would provide. Output rows carry ``version``
    (max seq applied); the final state per key is the max-version row.
    """
    return ops.groupBy("key").applyInPandasWithState(
        _kv_fold,
        outputStructType=_KV_OUT_SCHEMA,
        stateStructType=_KV_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_events_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup: first delivery per event_id survives.

    The streaming twin of the batch first-win dedup (operators.kv.
    dedup_first_win): an at-least-once ingest pipeline re-delivers events,
    and downstream counts must not double. dropDuplicatesWithinWatermark
    bounds the dedup state by event time — an event_id older than the
    watermark can no longer be re-delivered, so its key is evicted; plain
    dropDuplicates would hold every id forever (unbounded state at 100 TB).
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


# Complete/append sink gate: at or below this many INPUT bytes the memory
# sink is safe and ~0.5-1 s cheaper per drain than the parquet round-trip
# (a 50-row result paid the whole round-trip); above it the parquet path
# removes the driver-size term entirely. Calibration: the driver OOM'd at
# the 100x fixture (~187 MB of staged events -> a 9.5 M-row complete
# result on an 8 GB driver); 32 MB keeps a >5x margin below that while
# still letting every driver-SF (sf0.001-0.1, <=2 MB) and 10x (17 MB)
# drain stay on the memory sink. Same shape as the brute/IVF gate in
# operators.similarity.
_COMPLETE_MEMORY_MAX_BYTES = 32 << 20

_NODATA_KEY = "spark.sql.streaming.noDataMicroBatches.enabled"


@contextmanager
def _sink_view(
    stream_df: DataFrame,
    name: str,
    output_mode: str,
    input_bytes: int | None,
    confs: dict[str, str],
):
    """Drain ``stream_df`` (availableNow, under ``confs``) into temp view
    ``name``. Yields the parquet sink dir, or None for the memory sink, and
    deletes the sink dir on exit; the caller drops the view.

    Update drains use the memory sink (their per-batch output is
    incremental and small). COMPLETE mode keeps the ENTIRE result table in
    DRIVER memory and rewrites it every micro-batch (a driver-side collect
    in disguise: at the 100x fixture the native-session-window drain's
    full result OOM'd an 8 GB driver heap). APPEND mode accumulates every
    emitted row in driver memory the same way, which is fine for
    rollup-sized outputs but fatal for INPUT-SIZED ones (an sf100
    spot-check OOM'd a 32 GB heap on the sessionizer's ~10^8-row append
    drain). So complete and append drains whose ``input_bytes`` exceed
    ``_COMPLETE_MEMORY_MAX_BYTES``, or is None, go through foreachBatch ->
    parquet (an executor-side write), and the view reads the files back.
    Both sinks are hash-identical by construction (tests pin it).

    The parquet sink root comes from ``fsutil.scratch``: driver-local
    ``tempfile`` by default (right for local[*]); on a multi-node cluster
    set ``SPARK_GRAFT_SCRATCH_DIR`` to a shared root (any URI the Hadoop
    conf resolves).
    """
    from ..fsutil import list_files, scratch

    spark = stream_df.sparkSession
    to_parquet = output_mode != "update" and (
        input_bytes is None or input_bytes > _COMPLETE_MEMORY_MAX_BYTES
    )
    with (scratch(spark, f"{name}_sink_") if to_parquet else nullcontext()) as sink:
        writer = stream_df.writeStream.outputMode(output_mode).trigger(
            availableNow=True
        )
        if sink is None:
            writer = writer.format("memory").queryName(name)
        else:
            # complete: every batch REWRITES the full table (overwrite
            # keeps only the final batch). append: each batch's emissions
            # are final and disjoint, so batches APPEND and the union of
            # files IS the drained stream.
            batch_mode = "overwrite" if output_mode == "complete" else "append"
            writer = writer.foreachBatch(
                lambda df, _bid: df.write.mode(batch_mode).parquet(sink)
            )
        with scoped_confs(spark, confs):
            q = writer.start()
            try:
                q.awaitTermination()
            finally:
                q.stop()  # a no-op after a finished drain; ends an interrupted one
        if sink is not None:
            if list_files(spark, sink, suffix=".parquet"):
                out = spark.read.parquet(sink)
            else:  # zero batches ran (empty bounded source)
                out = spark.createDataFrame([], stream_df.schema)
            out.createOrReplaceTempView(name)
        yield sink


def drain(
    stream_df: DataFrame,
    output_mode: str,
    select_sql: str,
    *,
    input_bytes: int | None,
    confs: dict[str, str],
) -> DataFrame:
    """The one drain path of the streaming registry entries: drain
    ``stream_df`` with ``confs`` set, run ``select_sql`` (``{name}`` names
    the drained table) and return its result, materialized once.

    The caller picks the policy: ``confs`` (e.g. the stateful shuffle
    width, the state-store provider) and ``input_bytes``, the sink gate's
    size (None forces the parquet sink). On every exit path the confs are
    restored, the query is stopped, the view is dropped and the sink
    scratch is deleted. The eager localCheckpoint severs the result from
    both, and is the only materialization at every input size.

    The trailing no-data micro-batch is always skipped. An availableNow
    drain otherwise appends one FINAL no-data micro-batch after the data
    batches: a full state-store open/commit roundtrip across every
    stateful partition, whose only observable effects are rewriting
    complete-mode output that is already final and emitting the rows the
    final watermark advance closes. Every registry entry's SELECT reads
    only data-batch emissions. Complete and update snapshots are final after
    the last data batch; the append entries emit from
    dropDuplicatesWithinWatermark, a stream-stream inner join, the tws
    fold (no watermark, no timers) or filter to ``closed_by = 'gap'``
    rows. The stateful tws drain runs the same batches either way (batchIds
    [0, 1] with the skip on and off at sf0.01 and sf0.1). An entry whose
    result NEEDS the final watermark advance (event-time timeout sweeps,
    watermark-closed append windows) cannot use this path; the tests that
    pin those semantics drain through :func:`_sink_view` directly.
    """
    spark = stream_df.sparkSession
    name = "drain_" + uuid.uuid4().hex[:8]
    try:
        with _sink_view(
            stream_df, name, output_mode, input_bytes, {**confs, _NODATA_KEY: "false"}
        ):
            return spark.sql(select_sql.format(name=name)).localCheckpoint(eager=True)
    finally:
        spark.catalog.dropTempView(name)


def sliding_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked sliding windows (1 h / 30 min) — streaming events_sliding."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_windows(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Native session windows (gap-merged) per user: Spark's built-in
    session_window as the group key of a watermarked aggregation. Start,
    count and value equal the batch gaps-and-islands fold in
    operators.events.sessionization; ``session_end`` is last event + gap
    (the interval end), as in the batch twin
    operators.events.session_window_native."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(money(F.col("value"))).cast("double").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def purchases_after_clicks(events: DataFrame) -> DataFrame:
    """Stream-stream interval join: purchases within 1 h after a click.

    Both sides are watermarked and the join condition carries explicit
    event-time bounds — that is what lets Spark evict buffered click state
    once no qualifying purchase can still arrive (state is bounded by
    watermark + interval, not by stream length).
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("cu"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("pu"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    gap_us = F.unix_micros(F.col("purchase_ts")) - F.unix_micros(F.col("click_ts"))
    return (
        clicks.join(
            purchases,
            (F.col("cu") == F.col("pu"))
            & (F.col("purchase_ts") > F.col("click_ts"))
            & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .select(
            F.col("cu").alias("user_id"),
            "click_id",
            "purchase_id",
            gap_us.alias("gap_us"),
        )
    )


# --- Custom stateful sessionizer with event-time timeout ---------------------

_SESSION_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n_events", LongType()),
        StructField("total_cents", LongType()),
    ]
)
_SESSION_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start_us", LongType()),
        StructField("session_end_us", LongType()),
        StructField("n_events", LongType()),
        StructField("total_cents", LongType()),
        StructField("closed_by", StringType()),
    ]
)

SESSION_GAP_US = 30 * 60 * 1_000_000


def _session_fold(key, pdfs, state: GroupState):
    """Gap-sessionizer for one user: emit a session when a gap closes it,
    or when the EVENT-TIME TIMEOUT fires (watermark passed last_ts + gap —
    no further event can extend the session, so it is final).

    This is the hand-rolled twin of Spark's built-in session_window: the
    point is exercising GroupStateTimeout.EventTimeTimeout — state that
    evicts itself when event time moves on, the mechanism that bounds
    custom-operator state on an unbounded stream.
    """
    import pandas as pd

    out = []
    if state.hasTimedOut:
        start_us, last_us, n, cents = state.get
        out.append((key[0], start_us, last_us, n, cents, "timeout"))
        state.remove()
        yield pd.DataFrame(
            out, columns=[f.name for f in _SESSION_OUT_SCHEMA.fields]
        )
        return
    frames = [p for p in pdfs if len(p)]
    if frames:
        # hot path: one group is a handful of rows, so per-group pandas
        # machinery dominates — skip concat for the single-frame case and
        # sort via numpy lexsort on the two key arrays instead of
        # DataFrame.sort_values (measured ~25% off the whole drain).
        import numpy as np

        allev = frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)
        ts_arr = allev["ts_us"].to_numpy()
        cents_arr = allev["cents"].to_numpy()
        order = np.lexsort((allev["event_id"].to_numpy(), ts_arr))
        ts_arr = ts_arr[order]
        cents_arr = cents_arr[order]
        if state.exists:
            start_us, last_us, n, cents = state.get
        else:
            start_us, last_us, n, cents = None, None, 0, 0
        for ts_us, cents_i in zip(ts_arr, cents_arr):
            ts_us = int(ts_us)
            if last_us is not None and ts_us - last_us > SESSION_GAP_US:
                out.append((key[0], start_us, last_us, n, cents, "gap"))
                start_us, last_us, n, cents = None, None, 0, 0
            if start_us is None:
                start_us = ts_us
            last_us = ts_us
            n += 1
            cents += int(cents_i)
        state.update((start_us, last_us, n, cents))
        # the session is final once event time passes last event + gap
        state.setTimeoutTimestamp(last_us // 1000 + SESSION_GAP_US // 1000)
    yield pd.DataFrame(out, columns=[f.name for f in _SESSION_OUT_SCHEMA.fields])


def session_fold(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Custom gap-sessionization via applyInPandasWithState + event-time
    timeout. ``events`` needs (user_id, ts, event_id, value). Sessions are
    emitted when a gap closes them ("gap") or when the watermark passes
    last_event + gap ("timeout") — the state table holds only OPEN sessions,
    bounded by active users, and timeouts are what guarantee eviction."""
    prepped = (
        events.withWatermark("ts", watermark)
        .select(
            "user_id",
            "ts",
            "event_id",
            F.unix_micros(F.col("ts")).alias("ts_us"),
            F.round(F.col("value").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
    )
    return prepped.groupBy("user_id").applyInPandasWithState(
        _session_fold,
        outputStructType=_SESSION_OUT_SCHEMA,
        stateStructType=_SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


# Bucket count for the COARSE-KEYED sessionizer below. Sized so the state
# shuffle still parallelizes (>= executor-thread count is the useful
# ceiling locally) while the per-group Python overhead amortizes over
# thousands of users per call.
SESSION_FOLD_BUCKETS = 32

# Per-bucket state: the open session of every live user in the bucket, as
# parallel arrays (kept sorted by user so the fold's carried-state lookup
# is a vectorized searchsorted).
_BUCKET_SESSION_STATE_SCHEMA = StructType(
    [
        StructField("users", ArrayType(LongType())),
        StructField("starts", ArrayType(LongType())),
        StructField("lasts", ArrayType(LongType())),
        StructField("ns", ArrayType(LongType())),
        StructField("cents", ArrayType(LongType())),
    ]
)


def _session_fold_bucketed(key, pdfs, state: GroupState):
    """Gap-sessionizer for ONE BUCKET of users — batch-equivalent to
    running :func:`_session_fold` per user, with the per-group Python
    overhead amortized ~|bucket| times.

    Why this exists (r11): applyInPandasWithState hands
    ONE group per Python call, and each call costs ~1 ms (function call +
    per-group pandas frames) regardless of group size. Keyed by user,
    1M events / 15k users at the 10x fixture spent ~15 s in that per-call
    overhead alone — and at 100M users the same plan would spend ~28 CPU
    HOURS on it. Coarsening the state key to ``pmod(user_id, B)`` buckets
    makes the per-call overhead O(B) while the per-user session logic
    runs VECTORIZED inside each call (numpy gaps-and-islands:
    lexsort -> break flags -> reduceat).

    Per-batch emission equivalence with the per-user fold (pinned by
    tests/test_streaming.py::test_session_fold_bucketed_equivalence):
    - data path: batch islands merge/spill against carried state exactly
      like the per-user loop ('gap' rows identical);
    - carried users with NO data this batch whose deadline the watermark
      passed emit 'timeout' HERE, because their per-user twin would have
      fired its own timeout invocation this same micro-batch (a key with
      data never times out in that batch);
    - timeout path (no data for the whole bucket): sweep every expired
      user, keep the rest, re-arm at the minimum surviving deadline.
    """
    import numpy as np

    cols = [f.name for f in _SESSION_OUT_SCHEMA.fields]
    gap = SESSION_GAP_US
    wm_ms = state.getCurrentWatermarkMs()

    if state.exists:
        su, ss, sl, sn, sc = (
            np.asarray(a, dtype=np.int64) for a in state.get
        )
    else:
        su = ss = sl = sn = sc = np.empty(0, dtype=np.int64)

    def rows(u, s, e, n, c, why):
        return pd.DataFrame(
            {
                "user_id": u,
                "session_start_us": s,
                "session_end_us": e,
                "n_events": n,
                "total_cents": c,
                "closed_by": why,
            },
            columns=cols,
        )

    def arm_or_clear(u, s, e, n, c):
        if len(u):
            state.update(
                (u.tolist(), s.tolist(), e.tolist(), n.tolist(), c.tolist())
            )
            # same deadline formula as the per-user fold, armed at the
            # bucket's EARLIEST open deadline; clamped one ms past the
            # watermark because Spark rejects a timeout at/below it (a
            # kept user's deadline may equal the watermark exactly — the
            # strict-< sweep leaves it for the next invocation)
            state.setTimeoutTimestamp(
                max(int(e.min()) // 1000 + gap // 1000, wm_ms + 1)
            )
        else:
            state.remove()

    deadline_ms = sl // 1000 + gap // 1000

    if state.hasTimedOut:
        fire = deadline_ms < wm_ms
        keep = ~fire
        out = rows(su[fire], ss[fire], sl[fire], sn[fire], sc[fire], "timeout")
        arm_or_clear(su[keep], ss[keep], sl[keep], sn[keep], sc[keep])
        yield out
        return

    frames = [p for p in pdfs if len(p)]
    out_frames = []
    if frames:
        allev = frames[0] if len(frames) == 1 else pd.concat(
            frames, ignore_index=True
        )
        u = allev["user_id"].to_numpy(np.int64)
        ts = allev["ts_us"].to_numpy(np.int64)
        eid = allev["event_id"].to_numpy(np.int64)
        cents = allev["cents"].to_numpy(np.int64)
        order = np.lexsort((eid, ts, u))
        u, ts, cents = u[order], ts[order], cents[order]
        # batch-local islands: a row starts a new island on user change or
        # gap > threshold — identical split rule to the per-user loop
        brk = np.empty(len(u), dtype=bool)
        brk[0] = True
        brk[1:] = (u[1:] != u[:-1]) | ((ts[1:] - ts[:-1]) > gap)
        s_idx = np.flatnonzero(brk)
        e_idx = np.r_[s_idx[1:], len(u)] - 1
        iu = u[s_idx]
        ist = ts[s_idx].copy()
        ila = ts[e_idx]
        inn = (e_idx - s_idx + 1).astype(np.int64)
        ic = np.add.reduceat(cents, s_idx).astype(np.int64)
        first = np.empty(len(iu), dtype=bool)
        first[0] = True
        first[1:] = iu[1:] != iu[:-1]
        last = np.empty(len(iu), dtype=bool)
        last[-1] = True
        last[:-1] = iu[1:] != iu[:-1]
        f_idx = np.flatnonzero(first)
        fu = iu[f_idx]  # ascending (iu is user-sorted)
        # carried-state lookup for each user's FIRST island
        if len(su):
            ci = np.searchsorted(su, fu)
            cic = np.minimum(ci, len(su) - 1)
            ci_valid = su[cic] == fu
            within = ci_valid & ((ist[f_idx] - sl[cic]) <= gap)
            m, cm = f_idx[within], cic[within]
            ist[m] = ss[cm]
            inn[m] += sn[cm]
            ic[m] += sc[cm]
            # carried session too old to extend -> it closes as 'gap',
            # exactly like the per-user loop's first iteration
            sp = cic[ci_valid & ~within]
            if len(sp):
                out_frames.append(
                    rows(su[sp], ss[sp], sl[sp], sn[sp], sc[sp], "gap")
                )
        # every non-final island of a user closed because a later event
        # of the SAME user arrived -> 'gap'
        g = ~last
        if g.any():
            out_frames.append(
                rows(iu[g], ist[g], ila[g], inn[g], ic[g], "gap")
            )
        # new open sessions: each batch user's final island ...
        nu, ns_, nl, nn_, nc = (
            iu[last],
            ist[last],
            ila[last],
            inn[last],
            ic[last],
        )
        # ... plus carried users untouched this batch — minus those whose
        # deadline the watermark passed (their per-user twin would have
        # timed out in this same micro-batch)
        if len(su):
            untouched = ~np.isin(su, fu)
            expired = untouched & (deadline_ms < wm_ms)
            if expired.any():
                out_frames.append(
                    rows(
                        su[expired],
                        ss[expired],
                        sl[expired],
                        sn[expired],
                        sc[expired],
                        "timeout",
                    )
                )
            keep = untouched & ~expired
            if keep.any():
                nu = np.concatenate([nu, su[keep]])
                ns_ = np.concatenate([ns_, ss[keep]])
                nl = np.concatenate([nl, sl[keep]])
                nn_ = np.concatenate([nn_, sn[keep]])
                nc = np.concatenate([nc, sc[keep]])
                o = np.argsort(nu, kind="stable")
                nu, ns_, nl, nn_, nc = nu[o], ns_[o], nl[o], nn_[o], nc[o]
        arm_or_clear(nu, ns_, nl, nn_, nc)
    yield (
        pd.concat(out_frames, ignore_index=True)
        if out_frames
        else pd.DataFrame(columns=cols)
    )


def session_fold_bucketed(
    events: DataFrame,
    watermark: str = "2 hours",
    n_buckets: int = SESSION_FOLD_BUCKETS,
) -> DataFrame:
    """Bucket-keyed twin of :func:`session_fold` — identical per-batch
    emissions, per-group Python overhead amortized over ~|users|/B users
    per call (see :func:`_session_fold_bucketed`). The scale path for
    high-cardinality key spaces whose per-key state is tiny."""
    prepped = (
        events.withWatermark("ts", watermark)
        .select(
            "user_id",
            "ts",
            "event_id",
            F.unix_micros(F.col("ts")).alias("ts_us"),
            F.round(F.col("value").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
        .withColumn(
            "bucket", F.pmod(F.col("user_id"), F.lit(n_buckets)).cast("long")
        )
    )
    return prepped.groupBy("bucket").applyInPandasWithState(
        _session_fold_bucketed,
        outputStructType=_SESSION_OUT_SCHEMA,
        stateStructType=_BUCKET_SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def enriched_counts(events: DataFrame, dim: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Stream-static join + watermarked aggregation: each micro-batch of the
    event stream hash-joins the STATIC dimension (no state, no watermark
    needed on the static side — Spark re-plans it per batch), then rolls up
    per (segment, event_type).

    The canonical enrichment topology: at scale the dimension broadcasts
    into every micro-batch's join, so the stream side never shuffles for
    the join — only the final aggregation keeps (tiny, per-group) state.
    """
    return (
        events.withWatermark("ts", watermark)
        .join(dim, events["user_id"] == dim["c_custkey"])
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
    )


def user_totals_tws(events: DataFrame) -> DataFrame:
    """Running per-user totals via transformWithStateInPandas — Spark 4's
    StatefulProcessor API (the successor to applyInPandasWithState: named
    state variables on a handle, timers, TTL).

    State is one ValueState row (n_events, sum_event_ids, version) per
    user; every micro-batch folds its rows in and emits the NEW running
    totals stamped with a per-key version (count of batches that touched
    the key). All-integer arithmetic, so the fold is exact and the final
    version per key is deterministic for ANY micro-batch split — the same
    versioned-emission discipline kv.py's fold uses. Consumers (and the
    registry entry) take each key's max-version row as the final state.
    """
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    from .._protobuf import _VENDORED, _VERSION_FLAG, ensure_protobuf

    ensure_protobuf()
    # The driver resolved protobuf from the vendored zip iff it is on
    # sys.path; workers (same host) then need it too.
    vendored = _VENDORED if _VENDORED in sys.path else None

    def _rebuild_totals():
        # Self-contained (closure-pickled by value) so it runs inside BARE
        # Spark worker processes, at read_command time: before the api
        # client's lazy StateMessage_pb2 import. StreamingPythonRunner's
        # driver worker drops the PYTHONPATH entry sc.environment provides
        # (observed on Spark 4.1.2), so the zip is wired in from here. No
        # find_spec probe: it would import `google` as the spark-core jar's
        # empty namespace package, which a zip appended later cannot join.
        import os
        import sys

        if vendored is not None and vendored not in sys.path:
            sys.path.append(vendored)
        os.environ.setdefault(_VERSION_FLAG, "true")
        return Totals.__new__(Totals)

    class Totals(StatefulProcessor):
        def __reduce__(self):
            return (_rebuild_totals, ())

        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "totals", "n_events LONG, sum_event_ids LONG, version LONG"
            )

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            if self._state.exists():
                n, sid, ver = self._state.get()
            else:
                n, sid, ver = 0, 0, 0
            for pdf in rows:
                n += int(len(pdf))
                sid += int(pdf["event_id"].sum())
            ver += 1
            self._state.update((n, sid, ver))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "sum_event_ids": [sid],
                    "version": [ver],
                }
            )

        def close(self) -> None:
            pass

    return (
        events.select("user_id", "event_id")
        .groupBy("user_id")
        .transformWithStateInPandas(
            Totals(),
            outputStructType=(
                "user_id LONG, n_events LONG, sum_event_ids LONG, version LONG"
            ),
            outputMode="Append",
            timeMode="None",
        )
    )
