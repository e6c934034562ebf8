"""Event-stream analytics (batch form) over the events table.

The reference has zero streaming surface (SURVEY.md §2.4); these queries
define the *semantics* for the Structured Streaming implementations in
``mapreduce_simple_go_spark.streaming`` — each streaming job must converge to
the same result as its batch query here, which is what the streaming tests
assert. Keeping a batch twin also makes the semantics DuckDB-checkable.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import money
from ..sources import load_events, table

SESSION_GAP_MIN = 30


def _events_stream(spark: SparkSession, sf_dir: str):
    """Stream the events table IN PLACE from the fixture + its staged size.

    Returns ``(stream_df, input_bytes)``. Zero staging (r9): the fixture's
    events.parquet is a single FILE at driver SFs (streamed from ``sf_dir``
    with a filename ``pathGlobFilter``, so sibling tables are invisible to
    the source) and a Spark-written DIRECTORY for the scaled fixtures
    (streamed directly). Replaces the r8 symlink staging, which was
    zero-copy but required a driver-local POSIX fixture path — this form
    takes any URI the cluster's Hadoop conf resolves, and
    drops the per-drain scratch dir entirely. ``input_bytes`` (gates the
    complete-mode sink) comes from the same FS API.
    """
    from ..fsutil import du_suffix_bytes, is_dir
    from ..streaming import stream_events

    src = os.path.join(sf_dir, "events.parquet")
    if is_dir(spark, src):
        stream = stream_events(spark, src)
    else:
        stream = stream_events(spark, sf_dir, glob="events.parquet")
    # data-file bytes only: ContentSummary also counts
    # _SUCCESS and local-FS .crc siblings in a Spark-written dir, which
    # drifted the complete-mode memory-vs-parquet gate ~1% vs the original
    # per-*.parquet stat sum. du_suffix_bytes restores the original
    # threshold semantics on every scheme.
    return stream, du_suffix_bytes(spark, src, ".parquet")


def _drain_staged(
    spark: SparkSession,
    prefix: str,
    build,
    mode: str,
    select_sql: str,
    *,
    sf_dir: str | None = None,
    stage_df: DataFrame | None = None,
    shuffle_partitions: int | None = None,
    single_file: bool = True,
    force_complete_parquet: bool = False,
) -> DataFrame:
    """Shared stage-and-drain ritual for the streaming registry entries.

    Builds a bounded stream source (the raw events table streamed IN PLACE
    from ``sf_dir``, or ``stage_df`` written as ONE parquet file to a
    scratch dir so arrival order is its row order), runs ``build(stream)``
    through an availableNow drain into a uuid-named memory sink, and
    returns ``select_sql`` (with ``{name}`` interpolated) over it —
    localCheckpointed so the temp view can be dropped immediately. All
    probes/staging/cleanup go through fsutil (Hadoop FS API), so both
    ``sf_dir`` and ``SPARK_GRAFT_SCRATCH_DIR`` may be URIs on any scheme
    the deployment resolves. ``shuffle_partitions`` temporarily sizes the
    stateful shuffle to key cardinality (restored after the drain); the
    try/finally around the final SELECT means a post-drain failure can't
    leak the view into the catalog.

    NOT thread-safe: the shuffle_partitions save/restore mutates SESSION
    conf non-atomically, so concurrent queries sharing the SparkSession
    would race on the global value. Registry entries run single-threaded
    (driver gate and bench both iterate sequentially) — if this helper is
    ever reused from parallel code, scope the override per-query instead
    (e.g. a dedicated session clone via ``spark.newSession()``).
    """
    import uuid

    from ..fsutil import delete as fs_delete
    from ..fsutil import du_suffix_bytes, mkscratch
    from ..streaming import run_available_now, stream_events

    scratch = None
    try:
        if stage_df is not None:
            # ONE parquet file (coalesce(1)) so arrival order is row order;
            # streamed in place from the write dir via a glob — no
            # driver-local copy step (r9, FS-agnostic staging).
            # single_file=False keeps the write PARALLEL for callers whose
            # semantics are arrival-order-free (all files land in the one
            # availableNow batch anyway) — the coalesce(1) write is a
            # single-task funnel of the whole staged table (r11: ~3.5 s of
            # stream_dedup_counts' 7 s at the 10x fixture was this write).
            scratch = mkscratch(spark, prefix)
            stage = scratch.rstrip("/") + "/stage"
            staged_write = (
                stage_df.coalesce(1) if single_file else stage_df
            )
            staged_write.write.mode("overwrite").parquet(stage)
            stream = stream_events(spark, stage, glob="*.parquet")
            # data files only, not _SUCCESS/.crc siblings — keeps the
            # gate's threshold semantics equal to a plain-file source
            input_bytes = du_suffix_bytes(spark, stage, ".parquet")
        else:
            stream, input_bytes = _events_stream(spark, sf_dir)
        name = prefix + uuid.uuid4().hex[:8]
        # staged-source size gates the complete-mode sink (memory below
        # the threshold, parquet above)
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        # The shuffle_partitions override is a SMALL-INPUT optimization
        # (fewer state stores when the flat per-partition cost dominates)
        # and is gated on input size like tws' r10 gate: above the
        # threshold the stateful fold is compute-bound and WANTS the
        # session default's parallelism — the r11 sf10 sweep measured the
        # hard-pinned 8 costing the bucketed sessionizer ~4x (and it was
        # the memory pressure behind a Python-worker crash). Threshold is
        # 32 MB here (vs tws' 8 MB): at the 17.9 MB 10x fixture the
        # narrow width still wins for these drains (session_window_native
        # isolated best-of-4: 9.3 s at 8 partitions vs 11.7 s at 32).
        if (
            shuffle_partitions is not None
            and input_bytes < _DRAIN_SMALL_INPUT_BYTES
        ):
            spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
        try:
            # defer_cleanup: the final SELECT below localCheckpoints the
            # result anyway, so the complete-parquet sink skips its own
            # checkpoint (one materialization of a large result, not two)
            # and hands us the scratch deleter to run after ours.
            # force_complete_parquet: for operators whose COMPLETE result
            # scales with the input (sessions ~= events), the input-byte
            # gate mispredicts the memory sink's driver cost — the result
            # is what must fit, not the source. input_bytes=None forces
            # the executor-side parquet sink (r11: sf1 11.2 -> 9.6 s for
            # session_window_native; no slower at driver SFs now that
            # defer_cleanup removed the roundtrip's second checkpoint).
            # skip_final_nodata_batch: every _drain_staged entry's final
            # SELECT reads only data-batch emissions (complete/update
            # snapshots; append entries are dropDuplicates / inner join /
            # closed_by='gap' filters), so the trailing no-data batch is
            # pure state-store overhead here — see run_available_now
            # (r13). An append-mode entry whose semantics NEED the final
            # watermark advance (event-time timeout sweeps, watermark-close
            # window emissions) must drain through run_available_now
            # directly instead.
            sink_cleanup = run_available_now(
                build(stream),
                name,
                mode,
                None if force_complete_parquet else input_bytes,
                defer_cleanup=True,
                skip_final_nodata_batch=True,
            )
        finally:
            if shuffle_partitions is not None:
                spark.conf.set("spark.sql.shuffle.partitions", prev)
    finally:
        if scratch is not None:
            fs_delete(spark, scratch)
    try:
        out = spark.sql(select_sql.format(name=name)).localCheckpoint(eager=True)
    finally:
        spark.catalog.dropTempView(name)
        if sink_cleanup is not None:
            sink_cleanup()
    return out


def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event_type: count + exact value sum.

    Batch twin of the streaming watermark+window aggregation. One shuffle on
    (hour, event_type); partial aggregation map-side.
    """
    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(money(F.col("value"))).cast("double").alias("total_value"),
        )
    )


EVENTS_HOURLY_SQL = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
"""


def sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions per user (30-min inactivity closes a session).

    Classic gaps-and-islands: a session boundary is an event whose gap from
    the previous event exceeds the threshold; the running sum of boundaries
    numbers the sessions. Two window passes over the same (user_id, ts)
    partitioning — Spark reuses the sort, so it costs one shuffle.
    Deterministic tie-break on event_id for equal timestamps.
    """
    ev = load_events(spark, sf_dir)
    order = [F.col("ts"), F.col("event_id")]
    w = Window.partitionBy("user_id").orderBy(*order)
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    is_new = F.when(
        gap_us.isNull() | (gap_us > SESSION_GAP_MIN * 60 * 1_000_000), 1
    ).otherwise(0)
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    return (
        ev.withColumn("is_new", is_new)
        .withColumn("session_no", F.sum("is_new").over(wrun))
        .groupBy("user_id", "session_no")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            F.sum(money(F.col("value"))).cast("double").alias("total_value"),
        )
    )


SESSIONIZATION_SQL = f"""
WITH marked AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                      > {SESSION_GAP_MIN} * 60 * 1000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
  FROM marked
)
SELECT user_id, session_no,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM numbered
GROUP BY user_id, session_no
"""


def top_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 events by value per (user, event_type) — dedup-style ranking."""
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("value"), F.asc("event_id")
    )
    return (
        ev.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("user_id", "event_type", "event_id", "value", "rank")
    )


TOP_EVENT_VALUES_SQL = """
SELECT user_id, event_type, event_id, value, rank
FROM (
  SELECT user_id, event_type, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY value DESC, event_id ASC) AS rank
  FROM events
)
WHERE rank <= 3
"""


QUERIES = {
    "events_hourly": events_hourly,
    "sessionization": sessionization,
    "top_event_values": top_event_values,
}

ORACLES = {
    "events_hourly": EVENTS_HOURLY_SQL,
    "sessionization": SESSIONIZATION_SQL,
    "top_event_values": TOP_EVENT_VALUES_SQL,
}


def events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 h length, 30 min slide) per event_type.

    Each event lands in exactly two windows; Spark's window() expands them
    map-side before the aggregation — the same plan the streaming twin uses.
    """
    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("win"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(money(F.col("value"))).cast("double").alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


EVENTS_SLIDING_SQL = """
WITH expanded AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start, event_type, value FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes', event_type, value FROM events
)
SELECT window_start, event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM expanded
GROUP BY 1, 2
"""

QUERIES["events_sliding"] = events_sliding
ORACLES["events_sliding"] = EVENTS_SLIDING_SQL


def events_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-function coverage: extract props.k from the JSON string column.

    get_json_object stays JVM-side; at scale prefer from_json with an
    explicit schema once per pipeline, but path extraction composes with
    pushdown the same way.
    """
    ev = load_events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            # coalesce+long on BOTH engines: DuckDB's SUM(BIGINT) is HUGEINT,
            # which lands in pandas as float64 ("99111.0" vs Spark's "99111")
            # and fails the driver's stringified-cell hash.
            F.coalesce(F.sum("k"), F.lit(0)).cast("long").alias("sum_k"),
            F.countDistinct("k").alias("n_distinct_k"),
        )
    )


EVENTS_PROPS_JSON_SQL = """
SELECT event_type,
       CAST(COALESCE(SUM(CAST(props->>'k' AS BIGINT)), 0) AS BIGINT) AS sum_k,
       COUNT(DISTINCT CAST(props->>'k' AS BIGINT)) AS n_distinct_k
FROM events
GROUP BY event_type
"""


def user_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT coverage: per-user event counts spread into one column per type."""
    ev = load_events(spark, sf_dir)
    types = ["click", "view", "purchase", "signup", "error"]
    piv = (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    # A user with zero events of a type gets NULL from pivot (Spark) and NULL
    # from SUM(CASE...) (DuckDB, as float64 NaN via HUGEINT) — coalesce to a
    # plain bigint 0 on both engines so the hashed cells agree.
    return piv.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t) for t in types],
    )


USER_EVENT_PIVOT_SQL = """
SELECT user_id,
       CAST(COALESCE(SUM(CASE WHEN event_type = 'click' THEN 1 END), 0) AS BIGINT) AS click,
       CAST(COALESCE(SUM(CASE WHEN event_type = 'view' THEN 1 END), 0) AS BIGINT) AS view,
       CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 END), 0) AS BIGINT) AS purchase,
       CAST(COALESCE(SUM(CASE WHEN event_type = 'signup' THEN 1 END), 0) AS BIGINT) AS signup,
       CAST(COALESCE(SUM(CASE WHEN event_type = 'error' THEN 1 END), 0) AS BIGINT) AS error
FROM events
GROUP BY user_id
"""

QUERIES["events_props_json"] = events_props_json
QUERIES["user_event_pivot"] = user_event_pivot
ORACLES["events_props_json"] = EVENTS_PROPS_JSON_SQL
ORACLES["user_event_pivot"] = USER_EVENT_PIVOT_SQL


def purchase_within_hour_of_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: purchases within one hour after a click, per user.

    The batch twin of the stream-stream interval join in streaming/ — the
    time-bound condition is what makes the streaming form's state finite,
    and here it bounds the per-user pair fan-out.
    """
    ev = load_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
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


PURCHASE_AFTER_CLICK_SQL = """
SELECT c.user_id AS user_id, c.event_id AS click_id, p.event_id AS purchase_id,
       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
"""

QUERIES["purchase_within_hour_of_click"] = purchase_within_hour_of_click
ORACLES["purchase_within_hour_of_click"] = PURCHASE_AFTER_CLICK_SQL


def funnel_signup_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: signup -> first click after -> first
    purchase after that click, counted in users per stage.

    Event-order analytics in ONE pass over events: the per-user conditional
    mins (min signup ts; min click ts after it; min purchase ts after that)
    are computed with min(when(...)) aggregates over a single groupBy —
    Spark evaluates the three stages via two chained conditional
    aggregations rather than three self-joins, so the events table shuffles
    once on user_id. Stage rows come from a tiny post-aggregation unpivot.
    """
    ev = load_events(spark, sf_dir)
    t1 = F.min(F.when(F.col("event_type") == "signup", F.col("ts")))
    per_user = ev.groupBy("user_id").agg(t1.alias("t1"))
    with_t1 = ev.join(per_user, "user_id")
    t2 = F.min(
        F.when(
            (F.col("event_type") == "click") & (F.col("ts") > F.col("t1")), F.col("ts")
        )
    )
    per_user2 = with_t1.groupBy("user_id").agg(F.first("t1").alias("t1"), t2.alias("t2"))
    with_t2 = ev.join(per_user2, "user_id")
    t3 = F.min(
        F.when(
            (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")),
            F.col("ts"),
        )
    )
    final = with_t2.groupBy("user_id").agg(
        F.first("t1").alias("t1"), F.first("t2").alias("t2"), t3.alias("t3")
    )
    counts = final.agg(
        F.count(F.col("t1")).alias("signup"),
        F.count(F.col("t2")).alias("click_after_signup"),
        F.count(F.col("t3")).alias("purchase_after_click"),
    )
    return counts.selectExpr(
        "stack(3, 'signup', signup, 'click_after_signup', click_after_signup, "
        "'purchase_after_click', purchase_after_click) AS (stage, n_users)"
    )


FUNNEL_SQL = """
WITH u1 AS (
  SELECT user_id, MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t1
  FROM events GROUP BY user_id
),
u2 AS (
  SELECT e.user_id, u1.t1,
         MIN(CASE WHEN e.event_type = 'click' AND e.ts > u1.t1 THEN e.ts END) AS t2
  FROM events e JOIN u1 ON e.user_id = u1.user_id
  GROUP BY e.user_id, u1.t1
),
u3 AS (
  SELECT e.user_id, u2.t1, u2.t2,
         MIN(CASE WHEN e.event_type = 'purchase' AND e.ts > u2.t2 THEN e.ts END) AS t3
  FROM events e JOIN u2 ON e.user_id = u2.user_id
  GROUP BY e.user_id, u2.t1, u2.t2
),
c AS (
  SELECT COUNT(t1) AS signup, COUNT(t2) AS click_after_signup,
         COUNT(t3) AS purchase_after_click
  FROM u3
)
SELECT 'signup' AS stage, signup AS n_users FROM c
UNION ALL
SELECT 'click_after_signup', click_after_signup FROM c
UNION ALL
SELECT 'purchase_after_click', purchase_after_click FROM c
"""

QUERIES["funnel_signup_click_purchase"] = funnel_signup_click_purchase
ORACLES["funnel_signup_click_purchase"] = FUNNEL_SQL


def retention_cohorts(spark: SparkSession, sf_dir: str, max_weeks: int = 3) -> DataFrame:
    """Weekly cohort retention: users grouped by first-activity week,
    counted as retained in each following week they act again.

    The canonical product-analytics matrix. One aggregation per user
    collects the set of weeks it was active in; the cohort is the set's
    minimum, and exploding the set gives each (user, week) once. So the
    plan has one exchange on user_id, map-side partial, and the final
    (cohort, offset) rollup. No join of first weeks back onto activity:
    AQE makes such a join a broadcast join built on whichever side's
    shuffle finishes first, and one of the two choices adds an exchange,
    so the plan would vary from run to run.
    """
    week = F.date_trunc("week", F.col("ts"))
    weeks = (
        load_events(spark, sf_dir)
        .filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.collect_set(week).alias("weeks"))
    )
    return (
        weeks.select(F.array_min("weeks").alias("cohort_week"), F.explode("weeks").alias("wk"))
        .withColumn(
            "week_offset",
            (F.datediff(F.col("wk"), F.col("cohort_week")) / 7).cast("int"),
        )
        .filter(F.col("week_offset") <= max_weeks)
        .groupBy("cohort_week", "week_offset")
        # one row per (user, week) and distinct weeks give distinct
        # offsets, so a row count is the distinct-user count
        .agg(F.count("*").alias("n_users"))
    )


RETENTION_SQL = """
WITH first AS (
  SELECT user_id, MIN(date_trunc('week', ts)) AS cohort_week
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
)
SELECT f.cohort_week,
       CAST(date_diff('day', f.cohort_week, a.wk) / 7 AS INTEGER) AS week_offset,
       COUNT(DISTINCT a.user_id) AS n_users
FROM activity a JOIN first f ON a.user_id = f.user_id
WHERE date_diff('day', f.cohort_week, a.wk) / 7 <= 3
GROUP BY 1, 2
"""

QUERIES["retention_cohorts"] = retention_cohorts
ORACLES["retention_cohorts"] = RETENTION_SQL


def stream_sessions_gap_closed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry running the REAL custom stateful sessionizer
    (streaming.session_fold: applyInPandasWithState + event-time timeout).

    The events table replays as one time-sorted file through an
    availableNow drain; sessions the operator closed by GAP (a later event
    arrived) are deterministic: exactly the batch gaps-and-islands sessions
    minus each user's final session (only a timeout or stream end can close
    that one, and a bounded single-batch drain fires neither). Second
    registry row after kv_stream_final_state where the correctness gate
    hashes actual streaming-engine output.

    r11: runs the BUCKET-keyed fold (session_fold_bucketed) — per-batch
    emissions identical to the per-user fold (equivalence pinned incl.
    timeout batches), with the ~1 ms-per-group Python overhead amortized
    over ~|users|/32 users per call: the sf1 drain was ~15k Python calls
    ≈ 15 s of pure call overhead, now ~32 calls.
    """
    from .. import fsutil
    from ..streaming import SESSION_FOLD_BUCKETS, session_fold_bucketed

    ev = load_events(spark, sf_dir).select(
        "user_id", "ts", "event_id", "value"
    ).orderBy("ts", "event_id")
    # Bucket count scales with the input so per-bucket Arrow payloads stay
    # bounded (~32 MB of source per bucket-group): 32 at driver SFs, ~192
    # at the 100x fixture — measured there, 256 buckets beat 32 by ~25%
    # and smaller per-group emissions remove the worker-memory cliff.
    src_bytes = fsutil.du_suffix_bytes(
        spark, os.path.join(sf_dir, "events.parquet"), ".parquet"
    )
    n_buckets = SESSION_FOLD_BUCKETS * max(1, src_bytes // (32 << 20))
    return _drain_staged(
        spark, "sessfold_",
        lambda st: session_fold_bucketed(st, n_buckets=n_buckets),
        "append",
        "SELECT user_id, session_start_us, session_end_us, n_events, total_cents "
        "FROM {name} WHERE closed_by = 'gap'",
        stage_df=ev, shuffle_partitions=8,
    )


STREAM_SESSIONS_SQL = f"""
WITH s AS ({SESSIONIZATION_SQL})
SELECT user_id,
       epoch_us(session_start) AS session_start_us,
       epoch_us(session_end) AS session_end_us,
       n_events,
       CAST(round(total_value * 100) AS BIGINT) AS total_cents
FROM s
WHERE session_no < (SELECT MAX(session_no) FROM s s2 WHERE s2.user_id = s.user_id)
"""

QUERIES["stream_sessions_gap_closed"] = stream_sessions_gap_closed
ORACLES["stream_sessions_gap_closed"] = STREAM_SESSIONS_SQL


def events_rollup_multigrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-granularity time rollup in ONE pass.

    The continuous-aggregate shape (TimescaleDB hypertable rollups,
    Druid/Pinot star-trees): per-event_type counts and value sums at BOTH
    the hour and day grain, via GROUPING SETS over pre-truncated time
    columns — map-side expansion x2 + one partial-aggregated shuffle
    instead of two scans unioned. ``grain`` labels the rows; at 100 TB the
    coarser grains come nearly free because the expansion happens before
    the exchange and partial aggregation collapses each grain map-side.
    """
    import uuid

    ev = load_events(spark, sf_dir)
    # uuid-suffixed view, dropped once the plan is built (same discipline as
    # stream_sessions_gap_closed) -- no catalog litter, no cross-thread
    # collisions when two sessions run registry queries concurrently.
    name = "mg_events_" + uuid.uuid4().hex[:8]
    ev.select(
        F.date_trunc("hour", "ts").alias("hour_b"),
        F.date_trunc("day", "ts").alias("day_b"),
        "event_type",
        "value",
    ).createOrReplaceTempView(name)
    try:
        return spark.sql(
            f"""
            SELECT CASE WHEN GROUPING(hour_b) = 0 THEN 'hour' ELSE 'day' END AS grain,
                   COALESCE(hour_b, day_b) AS bucket,
                   event_type,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
            FROM {name}
            GROUP BY GROUPING SETS ((hour_b, event_type), (day_b, event_type))
            """
        )
    finally:
        # spark.sql analyzes eagerly, so the returned plan holds the resolved
        # relation; dropping the view immediately is safe.
        spark.catalog.dropTempView(name)


EVENTS_ROLLUP_SQL = """
WITH base AS (
  SELECT date_trunc('hour', ts) AS hour_b, date_trunc('day', ts) AS day_b,
         event_type, value
  FROM events
)
SELECT CASE WHEN GROUPING(hour_b) = 0 THEN 'hour' ELSE 'day' END AS grain,
       COALESCE(hour_b, day_b) AS bucket,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM base
GROUP BY GROUPING SETS ((hour_b, event_type), (day_b, event_type))
"""

QUERIES["events_rollup_multigrain"] = events_rollup_multigrain
ORACLES["events_rollup_multigrain"] = EVENTS_ROLLUP_SQL


def stream_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry that runs the REAL watermarked streaming aggregation.

    events replayed through ``streaming.hourly_counts`` (withWatermark +
    window groupBy — the unbounded-deployment operator) with an availableNow
    drain in complete mode; the final sink table must equal the batch
    events_hourly result, so this row SHARES its DuckDB oracle. Together
    with kv_stream_final_state (stateful fold) and stream_sessions_gap_closed
    (session windows), all three streaming operator families have a
    correctness row hashing actual streaming-engine output.
    """
    from ..streaming import hourly_counts

    # State is ~#(hour, event_type) groups — thousands of rows however big
    # the input. Streaming disables AQE, so without this the stateful
    # shuffle runs the session-default 32 partitions and pays 32 state-
    # store open/commit roundtrips per batch for a state that fits in one
    # (r12 bisect: width 32 -> 8 cut the warm drain 1.84 -> 1.31 s at
    # sf0.1). The _drain_staged gate applies it only below 32 MB of input.
    return _drain_staged(
        spark, "evh_", hourly_counts, "complete",
        "SELECT hour, event_type, n_events, total_value FROM {name}",
        sf_dir=sf_dir, shuffle_partitions=8,
    )


QUERIES["stream_hourly_counts"] = stream_hourly_counts
ORACLES["stream_hourly_counts"] = EVENTS_HOURLY_SQL


def stream_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry running the REAL watermark-bounded streaming dedup.

    An at-least-once delivery log (every 5th event deterministically
    re-delivered, appended after the originals) replays through
    ``streaming.dedup_events_stream`` (dropDuplicatesWithinWatermark —
    state bounded by event time, unlike plain dropDuplicates) with an
    availableNow drain; the surviving rows aggregate per event_type. The
    oracle is the plain batch count over the ORIGINAL events: equality
    proves every duplicate died in the stream (without dedup the counts
    run 20% hot). Fourth streaming family under the driver's hash gate,
    after the stateful fold, session windows and watermarked window agg.
    """
    from ..streaming import dedup_events_stream

    ev = load_events(spark, sf_dir)
    log = ev.unionByName(ev.filter(F.col("event_id") % 5 == 0))
    return _drain_staged(
        spark, "evdd_",
        lambda st: dedup_events_stream(st).select("event_type", "event_id"),
        "append",
        "SELECT event_type, COUNT(*) AS n_events, "
        "COUNT(DISTINCT event_id) AS n_distinct FROM {name} GROUP BY event_type",
        # dedup + the final aggregate are arrival-order-free (one
        # availableNow batch sees every row regardless of file layout), so
        # the staging write stays parallel
        stage_df=log, single_file=False,
    )


STREAM_DEDUP_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT event_id) AS n_distinct
FROM events
GROUP BY event_type
"""

QUERIES["stream_dedup_counts"] = stream_dedup_counts
ORACLES["stream_dedup_counts"] = STREAM_DEDUP_SQL


# Slowly-changing-dimension (type 2) build ------------------------------------

def scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension build: turn each user's event stream into
    versioned validity intervals (valid_from, valid_to, is_current).

    The warehouse-ETL shape for "what was this user's state at time T":
    every event opens a new version whose validity closes at the next
    event's timestamp (LEAD over the per-user timeline); the last version
    stays open (valid_to NULL, is_current TRUE). Intervals are half-open: [valid_from, valid_to).

    Scale shape: one shuffle on user_id; both window passes (lead +
    row_number) share the same (user_id, ts, event_id) sort, so Spark
    plans a single Exchange + single Sort. No joins, no collects; output
    is one row per input event, written partition-parallel.
    """
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        F.row_number().over(w).alias("version"),
        "event_type",
        "value",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


SCD2_SQL = """
SELECT user_id,
       ROW_NUMBER() OVER w AS version,
       event_type,
       value,
       ts AS valid_from,
       LEAD(ts) OVER w AS valid_to,
       LEAD(ts) OVER w IS NULL AS is_current
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""

QUERIES["scd2_user_state"] = scd2_user_state
ORACLES["scd2_user_state"] = SCD2_SQL


def stream_enriched_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry running the REAL stream-static join topology.

    events replayed through ``streaming.enriched_counts`` — per micro-batch
    the stream hash-joins the static customer dimension (broadcast at
    scale; zero join state) before the watermarked rollup per
    (mktsegment, event_type). Fifth streaming family under the driver's
    hash gate: stateful fold, session windows, watermarked window agg,
    watermark-bounded dedup, and now stream-static enrichment. The oracle
    is the equivalent batch join+group — streaming output must converge to
    it exactly.
    """
    from ..streaming import enriched_counts

    dim = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    # State is one row per (mktsegment, event_type) — ~25 rows; same
    # narrow-stateful-width rationale as stream_hourly_counts (gated on
    # input size in _drain_staged).
    return _drain_staged(
        spark, "eve_", lambda st: enriched_counts(st, dim), "complete",
        "SELECT c_mktsegment, event_type, n_events, total_value FROM {name}",
        sf_dir=sf_dir, shuffle_partitions=8,
    )


STREAM_ENRICHED_SQL = """
SELECT c.c_mktsegment, e.event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment, e.event_type
"""

QUERIES["stream_enriched_counts"] = stream_enriched_counts
ORACLES["stream_enriched_counts"] = STREAM_ENRICHED_SQL


def props_variant_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT-typed semi-structured extraction (Spark 4): parse the props
    JSON once into a VARIANT column, pull a typed field with variant_get,
    and histogram it per event_type.

    The modern counterpart to events_props_json's per-path
    get_json_object: VARIANT parses each document ONCE into a binary
    semi-structured encoding that any number of typed extractions then
    read without re-parsing — at 100 TB the difference between one parse
    and one parse per path, and the representation columnar shredding
    optimizes. Aggregation shape: decile-bucketed counts, one
    partial-aggregated shuffle on (event_type, bucket).
    """
    ev = load_events(spark, sf_dir)
    v = F.parse_json("props")
    k = F.try_variant_get(v, "$.k", "long")
    return (
        ev.select("event_type", F.floor(k / 10).alias("k_decile"))
        .groupBy("event_type", "k_decile")
        .agg(F.count("*").alias("n_events"))
    )


PROPS_VARIANT_HIST_SQL = """
SELECT event_type,
       CAST(FLOOR(CAST(props->>'k' AS BIGINT) / 10) AS BIGINT) AS k_decile,
       COUNT(*) AS n_events
FROM events
GROUP BY event_type, k_decile
"""

QUERIES["props_variant_histogram"] = props_variant_histogram
ORACLES["props_variant_histogram"] = PROPS_VARIANT_HIST_SQL


def events_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly series per event_type: missing hours appear with zero
    counts — the "date spine" gap-fill every downstream time-series
    consumer (forecasting, anomaly detection) requires.

    Spine construction is sequence() over each type's [min_hour, max_hour]
    span — generated map-side from ONE aggregated row per type, so the
    spine costs O(types x hours) rows and no extra shuffle of the fact
    table; the observed aggregate left-joins onto it. At 100 TB the spine
    is dwarfed by the facts (hours-per-year x types), and the join key
    (hour, type) is the aggregation key — co-partitioned for free.
    """
    ev = load_events(spark, sf_dir)
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
    ).agg(F.count("*").alias("n_events"))
    span = hourly.groupBy("event_type").agg(
        F.min("hour").alias("lo"), F.max("hour").alias("hi")
    )
    spine = span.select(
        "event_type",
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour"),
    )
    return (
        spine.join(hourly, ["event_type", "hour"], "left")
        .select(
            "event_type",
            "hour",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.col("n_events").isNull().alias("gap_filled"),
        )
    )


EVENTS_GAPFILL_SQL = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
),
span AS (
  SELECT event_type, MIN(hour) AS lo, MAX(hour) AS hi FROM hourly GROUP BY event_type
),
spine AS (
  SELECT event_type, unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS hour
  FROM span
)
SELECT s.event_type, s.hour,
       COALESCE(h.n_events, 0) AS n_events,
       h.n_events IS NULL AS gap_filled
FROM spine s LEFT JOIN hourly h ON h.event_type = s.event_type AND h.hour = s.hour
"""

QUERIES["events_hourly_gapfill"] = events_hourly_gapfill
ORACLES["events_hourly_gapfill"] = EVENTS_GAPFILL_SQL


def events_metrics_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) coverage — the inverse of user_event_pivot: a wide
    per-type aggregate (count / exact sum / 9-dp mean) melts into long
    (event_type, metric, value) rows via stack(), the map-side row
    generator that needs no shuffle beyond the aggregation that fed it.
    """
    ev = load_events(spark, sf_dir)
    wide = ev.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n_events"),
        F.sum(money(F.col("value"))).cast("double").alias("total_value"),
        F.round(F.avg("value"), 9).alias("mean_value"),
    )
    return wide.select(
        "event_type",
        F.expr(
            "stack(3, 'n_events', n_events, 'total_value', total_value,"
            " 'mean_value', mean_value) as (metric, value)"
        ),
    )


EVENTS_UNPIVOT_SQL = """
WITH wide AS (
  SELECT event_type,
         CAST(COUNT(*) AS DOUBLE) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
         round(AVG(value), 9) AS mean_value
  FROM events GROUP BY event_type
)
SELECT event_type, metric, value FROM (
  SELECT event_type, 'n_events' AS metric, n_events AS value FROM wide
  UNION ALL
  SELECT event_type, 'total_value', total_value FROM wide
  UNION ALL
  SELECT event_type, 'mean_value', mean_value FROM wide
)
"""

QUERIES["events_metrics_unpivot"] = events_metrics_unpivot
ORACLES["events_metrics_unpivot"] = EVENTS_UNPIVOT_SQL


def stream_user_totals_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry running transformWithStateInPandas (Spark 4's
    StatefulProcessor) across a REAL multi-micro-batch drain.

    The event log is staged as _TWS_DROPS files drained one per trigger
    (maxFilesPerTrigger=1), so the ValueState provably accumulates across
    batches; each key's final row is its max-version emission (versions
    count the batches that touched the key — the kv.py versioned-fold
    discipline). All-integer totals make the fold exact, so the oracle is
    the plain batch GROUP BY; version itself is NOT emitted downstream
    because the file split is a staging choice, not a semantic one —
    r10 trimmed it 3 -> 2 (each TWS micro-batch costs
    ~2.5 s flat in store opens + state-server handshakes at driver SF,
    so the third batch bought nothing the second doesn't already prove)
    and sized the stateful shuffle to 8 partitions like the other
    streaming entries (32 partitions x RocksDB column families priced
    ~1.5 s/batch in store management alone; hash-identical output,
    pinned by test_tws_totals_converge_to_batch).
    First operator on the post-applyInPandasWithState API; its workers
    import google.protobuf, which _protobuf.ensure_protobuf provides (a
    real install, else the vendored runtime) when this query builds.
    """
    import uuid

    from .. import fsutil
    from .._protobuf import ensure_protobuf
    from ..streaming import run_available_now, user_totals_tws

    ensure_protobuf()  # raise before any staging job if no runtime serves
    # transformWithState keeps each named state variable in its own column
    # family — supported by the RocksDB provider only (the HDFS-backed
    # default raises multipleColumnFamiliesNotSupported). Scope the
    # provider switch to this query and restore the session's previous
    # setting after the drain.
    _PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
    _ROCKSDB = (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    try:
        prev_provider = spark.conf.get(_PROVIDER_KEY)
    except Exception:
        prev_provider = None
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    # Everything from the first conf.set onward sits inside ONE
    # try/finally: the size probe, load_events, and
    # mkscratch can all raise (e.g. a missing events path surfaces as a
    # py4j FileNotFound from the probe), and the session confs must be
    # restored on every such path — a leaked provider/partitions setting
    # would silently reshape every later query in a suite run.
    root = None
    try:
        spark.conf.set(_PROVIDER_KEY, _ROCKSDB)
        # Stateful-shuffle sizing, size-gated (r10): at driver SF the flat
        # per-partition cost dominates (32 RocksDB column-family stores per
        # batch priced ~1.5 s/batch -> 8 partitions), but at 10x+ the fold is
        # compute-bound and WANTS the parallelism (8 partitions measured 14.4 s
        # vs 32's 12.3 s at sf1) — so only shrink below _TWS_SMALL_INPUT_BYTES
        # and leave the session default above it. Same probe family as the
        # complete-mode sink gate (fsutil, data files only).
        ev_src = os.path.join(sf_dir, "events.parquet")
        ev_bytes = fsutil.du_suffix_bytes(spark, ev_src, ".parquet")
        if ev_bytes < _TWS_SMALL_INPUT_BYTES:
            spark.conf.set("spark.sql.shuffle.partitions", "8")
        ev = load_events(spark, sf_dir).select("ts", "user_id", "event_id")
        # Staging through fsutil (r9): scratch may be a shared URI
        # (SPARK_GRAFT_SCRATCH_DIR) and the per-file copy is an FS-to-FS
        # Hadoop FileUtil copy, so the multi-drop layout works off the
        # driver's local disk too. Copy order stamps ascending mtimes — the
        # file source's micro-batch order.
        root = fsutil.mkscratch(spark, "ev_tws_q_")
        src = root.rstrip("/") + "/src"
        fsutil.mkdirs(spark, src)
        # ONE staging job (r10): write all drops in a single
        # partitionBy(drop) pass — repartition(_TWS_DROPS, drop) puts each
        # drop's rows in exactly one task, so every drop= dir holds exactly
        # one data file (vs _TWS_DROPS separate filter+coalesce(1) jobs,
        # each a full events scan). The sequential copies below stamp the
        # ascending mtimes that order the micro-batches.
        stage = root.rstrip("/") + "/stage"
        (
            ev.withColumn(
                "drop", (F.col("event_id") % _TWS_DROPS).cast("int")
            )
            .repartition(_TWS_DROPS, "drop")
            .write.mode("overwrite")
            .partitionBy("drop")
            .parquet(stage)
        )
        # A drop with no rows (degenerate fixture: empty events, or all
        # event_id sharing one parity) writes no drop= directory at all —
        # skip it instead of indexing into an empty listing.
        # Fewer staged files just means fewer micro-batches; the fold's
        # semantics don't depend on the batch count.
        for i in range(_TWS_DROPS):
            try:
                files = fsutil.list_files(
                    spark, stage + f"/drop={i}", suffix=".parquet"
                )
            except Exception:  # missing drop= dir (FileNotFound via py4j)
                continue
            if files:
                fsutil.copy(spark, files[0], src + f"/drop{i}.parquet")
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        name = "tws_" + uuid.uuid4().hex[:8]
        # The tws drain's output is one versioned row per user per batch
        # — ~input_rows/60 per batch (fixture users average ~60 events),
        # so it is input-PROPORTIONAL, just 60x narrower. A literal 0
        # here would pin the memory sink unconditionally and reintroduce
        # the driver-OOM class the append-mode sink gate closes:
        # at the 100 TB target, input/60 per batch is still terabytes.
        # Charge the gate the scaled estimate instead: small fixtures
        # (sf0.1 ~2 MB -> ~70 KB estimate) keep the cheap memory sink,
        # while a large staged source trips the executor-side parquet
        # path exactly as the sessionizer's input-sized drains do.
        run_available_now(
            user_totals_tws(stream),
            name,
            "append",
            input_bytes=max(1, ev_bytes * _TWS_DROPS // 60),
            # NO skip_final_nodata_batch here (r14):
            # this fold has no watermark and no timers, so the availableNow
            # drain never runs a trailing no-data batch AT ALL — probed at
            # sf0.1: batchIds [(0, 50000), (1, 50000)] identical with the
            # flag on and off, and a 5-pass interleaved A/B read the flag
            # at min 6.29 vs 6.27 s (pure noise). The r13 driver's −16%
            # on this entry coincided with the flag but was not caused by
            # it; reverting removes the confound at zero cost.
        )
        out = spark.sql(
            f"""
            SELECT user_id, n_events, sum_event_ids FROM (
              SELECT *, ROW_NUMBER() OVER (
                PARTITION BY user_id ORDER BY version DESC
              ) AS rn FROM {name}
            ) WHERE rn = 1
            """
        ).localCheckpoint(eager=True)
        spark.catalog.dropTempView(name)
        return out
    finally:
        if prev_provider is None:
            spark.conf.unset(_PROVIDER_KEY)
        else:
            spark.conf.set(_PROVIDER_KEY, prev_provider)
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        if root is not None:
            fsutil.delete(spark, root)


# Micro-batch count for the tws drain: 2 proves cross-batch ValueState
# accumulation (the operator's point) at the minimum per-batch flat cost;
# the final totals are split-invariant (all-integer fold), so the value is
# a pure staging/perf knob — see the r10 note in the docstring above.
_TWS_DROPS = 2

# Below this events-table size the stateful shuffle shrinks to 8
# partitions (store-open flat cost dominates); above it the session
# default stands (the fold is compute-bound — measured at sf1, see the
# docstring). sf0.1's events sit ~2 MB, sf1's ~18 MB.
_TWS_SMALL_INPUT_BYTES = 8 * 1024 * 1024

# Small-input gate for _drain_staged's shuffle_partitions override (r11;
# measured threshold — see the gate's comment in _drain_staged).
_DRAIN_SMALL_INPUT_BYTES = 32 * 1024 * 1024


STREAM_TWS_SQL = """
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_ids
FROM events
GROUP BY user_id
"""


def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry draining the REAL watermarked SLIDING-window
    aggregation (1 h window / 30 min slide) — each event expands into two
    windows map-side, exactly like the batch twin events_sliding, whose
    oracle this row shares. Completes the streaming window-family trio
    under the hash gate: tumbling (stream_hourly_counts), session
    (stream_sessions_gap_closed), sliding (this row).
    """
    from ..streaming import sliding_counts

    # State is ~2 windows per (hour, event_type) — thousands of rows; same
    # narrow-stateful-width rationale as stream_hourly_counts (gated on
    # input size in _drain_staged).
    return _drain_staged(
        spark, "evs_", sliding_counts, "complete",
        "SELECT window_start, event_type, n_events, total_value FROM {name}",
        sf_dir=sf_dir, shuffle_partitions=8,
    )


QUERIES["stream_sliding_counts"] = stream_sliding_counts
ORACLES["stream_sliding_counts"] = EVENTS_SLIDING_SQL


def session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions via Spark's NATIVE session_window aggregation.

    The built-in counterpart to `sessionization` (two window passes) and
    `stream_sessions_gap_closed` (applyInPandasWithState): session_window
    makes the session a first-class GROUP key, so sessionizing is one
    groupBy — Spark merges overlapping [ts, ts+gap) intervals per user
    inside the aggregation, with partial merges before the shuffle. At
    100 TB this is the cheapest formulation: one shuffle on user_id and no
    per-user sort-window pass at all.

    Boundary semantics (pinned by tests/test_streaming.py): sessions MERGE
    when they touch — an event exactly gap after its predecessor stays in
    the same session, so the split rule is `gap > threshold`, identical to
    the lag-based formulation. session_end is last-event-ts + gap (the
    interval end), not last-event-ts.
    """
    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy(
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("sw"),
            "user_id",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(money(F.col("value"))).cast("double").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


SESSION_WINDOW_NATIVE_SQL = f"""
WITH marked AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                      > {SESSION_GAP_MIN} * 60 * 1000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
  FROM marked
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL {SESSION_GAP_MIN} MINUTE AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM numbered
GROUP BY user_id, session_no
"""

QUERIES["session_window_native"] = session_window_native
ORACLES["session_window_native"] = SESSION_WINDOW_NATIVE_SQL


def stream_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry running the REAL stream-stream interval join.

    Both join inputs are unbounded (clicks and purchases split from the
    staged event stream); the event-time range condition + dual watermarks
    bound the join state (streaming.purchases_after_clicks — previously
    pytest-covered only; this entry puts it under the driver's hash gate as
    the sixth streaming family). Drained with availableNow in append mode,
    the emitted pair set must equal the batch interval join —
    purchase_within_hour_of_click's oracle, reused verbatim.
    """
    from ..streaming import purchases_after_clicks

    # shuffle_partitions=8, the kv_stream_final_state sizing: the join
    # buffers state per user_id on BOTH sides, and 32 near-empty
    # state-store partitions cost more in per-partition setup than the
    # join itself (measured 10 s -> 3 s).
    return _drain_staged(
        spark, "ssj_", purchases_after_clicks, "append",
        "SELECT user_id, click_id, purchase_id, gap_us FROM {name}",
        sf_dir=sf_dir, shuffle_partitions=8,
    )


QUERIES["stream_click_purchase_join"] = stream_click_purchase_join
ORACLES["stream_click_purchase_join"] = PURCHASE_AFTER_CLICK_SQL


# Z-score threshold for the anomaly probe: |z| > 2.5 flags ~1.2% of a
# normal population — enough fixture rows to be a meaningful oracle.
ANOMALY_Z = 2.5


def anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population z-score outliers per event_type.

    The monitoring shape: per-group mean/std from ONE partial-aggregated
    pass (exact DECIMAL sums of v and v², so the moments are
    partition-order independent), broadcast back onto the stream of rows,
    flag |z| > 2.5. The stats side is 5 rows — the join never shuffles the
    fact table. Variance via E[x²]−E[x]² is exact here because both
    moments are decimal-exact before the final double division.
    """
    ev = load_events(spark, sf_dir)
    v6 = F.col("value").cast("decimal(18,6)")
    stats = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(v6).cast("double").alias("s1"),
        F.sum(v6 * v6).cast("double").alias("s2"),
    )
    mean = F.col("s1") / F.col("n")
    # greatest(var, 0) absorbs tiny negative float error; the sigma > 0
    # filter below defines constant-valued groups as having NO outliers —
    # without it Spark's NULL-on-div-by-zero and the oracle's IEEE inf
    # would diverge on a zero-variance event_type.
    var = F.greatest(F.col("s2") / F.col("n") - mean * mean, F.lit(0.0))
    stats = stats.select("event_type", mean.alias("mu"), F.sqrt(var).alias("sigma"))
    z = F.round((F.col("value") - F.col("mu")) / F.col("sigma"), 9)
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter(F.col("sigma") > 0)
        .withColumn("z", z)
        .filter(F.abs(F.col("z")) > ANOMALY_Z)
        .select("event_id", "event_type", "value", "z")
    )


ANOMALY_ZSCORE_SQL = f"""
WITH stats AS (
  SELECT event_type,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mu,
         sqrt(greatest(
              CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)))
                   AS DOUBLE) / COUNT(*)
              - (CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*))
                * (CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)),
              0)) AS sigma
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type, e.value,
       round((e.value - s.mu) / s.sigma, 9) AS z
FROM events e JOIN stats s USING (event_type)
WHERE s.sigma > 0
  AND abs(round((e.value - s.mu) / s.sigma, 9)) > {ANOMALY_Z}
"""

QUERIES["anomaly_zscore"] = anomaly_zscore
ORACLES["anomaly_zscore"] = ANOMALY_ZSCORE_SQL


# EWMA over the trailing window: alpha = 1/2 (weights are exact powers of
# two, so the whole computation stays in exact int64 arithmetic), capped at
# the last EWMA_K events per user.
EWMA_K = 12


def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of value per user (α=1/2),
    over the trailing EWMA_K events.

    Time-series smoothing as a pure window expression: collect the frame's
    values (frame order = the window's (ts, event_id) sort, deterministic),
    weight element j by 2^j via shiftleft — α=1/2 makes every weight a
    power of two, so numerator and denominator are EXACT int64s on
    micro-scaled values and the result is bit-identical across engines and
    partitionings. One shuffle on user_id; frame capped at K, so per-row
    work is O(K) regardless of history length — the recursive EWMA
    definition (state fold) is deliberately traded for a bounded-window
    one, which is what keeps it expressible as a reusable window expr at
    100 TB instead of a stateful pass.
    """
    # NULL-valued events are dropped from the series up front: Spark's
    # collect_list silently skips NULLs while DuckDB's list() keeps them,
    # so the contract (and both engines) exclude them explicitly.
    ev = load_events(spark, sf_dir).filter(F.col("value").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(EWMA_K - 1), 0)
    )
    v_scaled = F.round(F.col("value") * 1_000_000).cast("long")
    vals = F.collect_list(v_scaled).over(w)
    n = F.size(vals)
    # Left fold with a (sum, weight) accumulator: element j gets weight 2^j
    # by doubling the running weight each step — exact int64 throughout.
    num = F.aggregate(
        vals,
        F.struct(
            F.lit(0).cast("long").alias("s"), F.lit(1).cast("long").alias("w")
        ),
        lambda acc, x: F.struct(
            (acc.s + x * acc.w).alias("s"), (acc.w * 2).alias("w")
        ),
        lambda acc: acc.s,
    )
    den = F.pow(F.lit(2.0), n).cast("long") - 1
    ewma = F.round(num.cast("double") / den.cast("double") / 1e6, 9)
    return ev.select(
        "user_id", "event_id", "value", ewma.alias("ewma")
    )


EWMA_SQL = f"""
WITH frames AS (
  SELECT user_id, event_id, value,
         list(CAST(round(value * 1000000) AS BIGINT))
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN {EWMA_K - 1} PRECEDING AND CURRENT ROW) AS vals
  FROM events WHERE value IS NOT NULL
)
SELECT user_id, event_id, value,
       round(
         CAST(list_sum(list_transform(range(1, len(vals) + 1),
                                      i -> vals[i] * (CAST(1 AS BIGINT) << (i - 1))))
              AS DOUBLE)
         / CAST((CAST(1 AS BIGINT) << len(vals)) - 1 AS DOUBLE) / 1e6,
         9) AS ewma
FROM frames
"""

QUERIES["ewma_user_value"] = ewma_user_value
ORACLES["ewma_user_value"] = EWMA_SQL


def stream_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry running NATIVE session windows on the STREAMING
    engine: session_window as the group key of a watermarked streaming
    aggregation (the built-in counterpart to stream_sessions_gap_closed's
    hand-rolled applyInPandasWithState sessionizer).

    Complete-mode availableNow drain: session state merges across
    micro-batches inside the aggregation and the final table must equal
    the batch session_window_native result EXACTLY — same oracle, reused
    verbatim (empirically: append mode withholds each user's
    watermark-open final sessions; complete emits all). Ninth streaming
    family under the hash gate. State per (user, open session) is one
    interval+aggregate row, evicted on merge; at scale the same one
    shuffle on user_id as the batch twin, sized here to key cardinality.
    """
    def build(ev):
        return (
            ev.withWatermark("ts", "2 hours")
            .groupBy(
                F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("sw"),
                "user_id",
            )
            .agg(
                F.count("*").alias("n_events"),
                F.sum(money(F.col("value"))).cast("double").alias("total_value"),
            )
            .select(
                "user_id",
                F.col("sw.start").alias("session_start"),
                F.col("sw.end").alias("session_end"),
                "n_events",
                "total_value",
            )
        )

    return _drain_staged(
        spark, "snat_", build, "complete",
        "SELECT user_id, session_start, session_end, n_events, total_value "
        "FROM {name}",
        sf_dir=sf_dir, shuffle_partitions=8,
        # complete result ~= one row per session ~= input cardinality: the
        # executor-side parquet sink beats the driver memory sink at every
        # SF (see _drain_staged)
        force_complete_parquet=True,
    )


QUERIES["stream_session_window_native"] = stream_session_window_native
ORACLES["stream_session_window_native"] = SESSION_WINDOW_NATIVE_SQL

QUERIES["stream_user_totals_tws"] = stream_user_totals_tws
ORACLES["stream_user_totals_tws"] = STREAM_TWS_SQL
