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


# Below this much stream input, most streaming entries run their stateful
# operator on 8 shuffle partitions instead of the session default (streaming
# disables AQE, so the width is fixed): state-store open/commit is a flat
# per-partition cost per micro-batch, and it dominates a small drain. Above
# it the fold is compute-bound and wants the session default's parallelism:
# at the 100x fixture a pinned 8 cost the bucketed sessionizer ~4x and was
# the memory pressure behind a Python-worker crash. At the 17.9 MB 10x
# fixture the narrow width still wins (session_window_native best-of-4:
# 9.3 s at 8 partitions vs 11.7 s at 32), hence 32 MB.
_DRAIN_SMALL_INPUT_BYTES = 32 * 1024 * 1024


def _narrow_state(
    input_bytes: int, below: int = _DRAIN_SMALL_INPUT_BYTES
) -> dict[str, str]:
    """Drain confs: 8 stateful shuffle partitions below ``below`` bytes."""
    return {"spark.sql.shuffle.partitions": "8"} if input_bytes < below else {}


def _events_bytes(spark: SparkSession, sf_dir: str) -> int:
    """Data-file bytes of the events table (fsutil: any URI scheme)."""
    from ..fsutil import du_suffix_bytes

    return du_suffix_bytes(spark, os.path.join(sf_dir, "events.parquet"), ".parquet")


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

    It runs the BUCKET-keyed fold (session_fold_bucketed): per-batch
    emissions identical to the per-user fold (equivalence pinned incl.
    timeout batches), with the ~1 ms-per-group Python overhead amortized
    over ~|users|/32 users per call: keyed per user, the sf1 drain was
    ~15k Python calls, ~15 s of pure call overhead; bucketed, ~32 calls.
    """
    from .. import streaming

    ev = load_events(spark, sf_dir).select(
        "user_id", "ts", "event_id", "value"
    ).orderBy("ts", "event_id")
    # Bucket count scales with the input so per-bucket Arrow payloads stay
    # bounded (~32 MB of source per bucket-group): 32 at driver SFs, ~192
    # at the 100x fixture — measured there, 256 buckets beat 32 by ~25%
    # and smaller per-group emissions remove the worker-memory cliff.
    n_buckets = streaming.SESSION_FOLD_BUCKETS * max(
        1, _events_bytes(spark, sf_dir) // (32 << 20)
    )
    # one time-sorted file: arrival order is ts order
    with streaming.staged_source(spark, ev) as (stream, nbytes):
        return streaming.drain(
            streaming.session_fold_bucketed(stream, n_buckets=n_buckets),
            "append",
            "SELECT user_id, session_start_us, session_end_us, n_events, total_cents "
            "FROM {name} WHERE closed_by = 'gap'",
            input_bytes=nbytes, confs=_narrow_state(nbytes),
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
    ev = load_events(spark, sf_dir).select(
        F.date_trunc("hour", "ts").alias("hour_b"),
        F.date_trunc("day", "ts").alias("day_b"),
        "event_type",
        "value",
    )
    return spark.sql(
        """
        SELECT CASE WHEN GROUPING(hour_b) = 0 THEN 'hour' ELSE 'day' END AS grain,
               COALESCE(hour_b, day_b) AS bucket,
               event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM {ev}
        GROUP BY GROUPING SETS ((hour_b, event_type), (day_b, event_type))
        """,
        ev=ev,
    )


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
    from .. import streaming

    # State is ~#(hour, event_type) groups — thousands of rows however big
    # the input, so the session-default 32 partitions pay 32 state-store
    # open/commit roundtrips per batch for a state that fits in one (width
    # 32 -> 8 cut the warm drain 1.84 -> 1.31 s at sf0.1).
    with streaming.events_source(spark, sf_dir) as (stream, nbytes):
        return streaming.drain(
            streaming.hourly_counts(stream), "complete",
            "SELECT hour, event_type, n_events, total_value FROM {name}",
            input_bytes=nbytes, confs=_narrow_state(nbytes),
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
    from .. import streaming

    ev = load_events(spark, sf_dir)
    log = ev.unionByName(ev.filter(F.col("event_id") % 5 == 0))
    # dedup + the final aggregate are arrival-order-free (one availableNow
    # batch sees every row regardless of file layout), so the staging write
    # stays parallel; the dedup state keeps the session-default width
    with streaming.staged_source(spark, log, single_file=False) as (stream, nbytes):
        return streaming.drain(
            streaming.dedup_events_stream(stream).select("event_type", "event_id"),
            "append",
            "SELECT event_type, COUNT(*) AS n_events, "
            "COUNT(DISTINCT event_id) AS n_distinct FROM {name} GROUP BY event_type",
            input_bytes=nbytes, confs={},
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
    from .. import streaming

    dim = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    # State is one row per (mktsegment, event_type) — ~25 rows; same
    # narrow-stateful-width rationale as stream_hourly_counts.
    with streaming.events_source(spark, sf_dir) as (stream, nbytes):
        return streaming.drain(
            streaming.enriched_counts(stream, dim), "complete",
            "SELECT c_mktsegment, event_type, n_events, total_value FROM {name}",
            input_bytes=nbytes, confs=_narrow_state(nbytes),
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
    because the file split is a staging choice, not a semantic one.
    First operator on the post-applyInPandasWithState API; its workers
    import google.protobuf, which _protobuf.ensure_protobuf provides (a
    real install, else the vendored runtime) when this query builds.
    """
    from .. import streaming
    from .._protobuf import ensure_protobuf

    ensure_protobuf()  # raise before any staging job if no runtime serves
    ev_bytes = _events_bytes(spark, sf_dir)
    ev = load_events(spark, sf_dir).select("ts", "user_id", "event_id")
    drops = (F.col("event_id") % _TWS_DROPS).cast("int")
    with streaming.ordered_drops_source(spark, ev, drops, _TWS_DROPS) as (stream, _):
        return streaming.drain(
            streaming.user_totals_tws(stream),
            "append",
            """
            SELECT user_id, n_events, sum_event_ids FROM (
              SELECT *, ROW_NUMBER() OVER (
                PARTITION BY user_id ORDER BY version DESC
              ) AS rn FROM {name}
            ) WHERE rn = 1
            """,
            # The drain's output is one versioned row per user per batch,
            # ~input_rows/60 per batch (fixture users average ~60 events):
            # input-PROPORTIONAL, just 60x narrower. A literal 0 would pin
            # the memory sink unconditionally and reintroduce the
            # driver-OOM class the sink gate closes (at 100 TB, input/60 per
            # batch is still terabytes), so the gate gets the scaled
            # estimate: small fixtures (sf0.1 ~2 MB -> ~70 KB) keep the
            # memory sink, a large source takes the parquet path.
            input_bytes=max(1, ev_bytes * _TWS_DROPS // 60),
            # transformWithState keeps each named state variable in its own
            # column family, which only the RocksDB provider supports (the
            # HDFS-backed default raises multipleColumnFamiliesNotSupported).
            confs={
                _PROVIDER_KEY: _ROCKSDB,
                **_narrow_state(ev_bytes, _TWS_SMALL_INPUT_BYTES),
            },
        )


# Micro-batch count for the tws drain: 2 proves cross-batch ValueState
# accumulation (the operator's point) at the minimum per-batch flat cost
# (each TWS micro-batch costs ~2.5 s flat in store opens and state-server
# handshakes at driver SF, so a third batch buys nothing the second does
# not already prove). The final totals are split-invariant (all-integer
# fold), so the value is a pure staging/perf knob.
_TWS_DROPS = 2

# Below this events-table size the tws stateful shuffle shrinks to 8
# partitions: at driver SF the flat per-partition cost dominates (32 RocksDB
# column-family stores per batch priced ~1.5 s/batch in store management;
# hash-identical output, pinned by test_tws_totals_converge_to_batch). Above
# it the fold is compute-bound and wants the session default (8 partitions
# measured 14.4 s vs 32's 12.3 s at sf1). sf0.1's events sit ~2 MB, sf1's
# ~18 MB.
_TWS_SMALL_INPUT_BYTES = 8 * 1024 * 1024

_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
_ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"


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
    from .. import streaming

    # State is ~2 windows per (hour, event_type) — thousands of rows; same
    # narrow-stateful-width rationale as stream_hourly_counts.
    with streaming.events_source(spark, sf_dir) as (stream, nbytes):
        return streaming.drain(
            streaming.sliding_counts(stream), "complete",
            "SELECT window_start, event_type, n_events, total_value FROM {name}",
            input_bytes=nbytes, confs=_narrow_state(nbytes),
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
    from .. import streaming

    # 8 stateful partitions, the kv_stream_final_state sizing: the join
    # buffers state per user_id on BOTH sides, and 32 near-empty
    # state-store partitions cost more in per-partition setup than the
    # join itself (measured 10 s -> 3 s).
    with streaming.events_source(spark, sf_dir) as (stream, nbytes):
        return streaming.drain(
            streaming.purchases_after_clicks(stream), "append",
            "SELECT user_id, click_id, purchase_id, gap_us FROM {name}",
            input_bytes=nbytes, confs=_narrow_state(nbytes),
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
    from .. import streaming

    with streaming.events_source(spark, sf_dir) as (stream, nbytes):
        return streaming.drain(
            streaming.session_windows(stream, f"{SESSION_GAP_MIN} minutes"),
            "complete",
            "SELECT user_id, session_start, session_end, n_events, total_value "
            "FROM {name}",
            # The complete result is one row per session, ~ the input's
            # cardinality, so the input-byte gate mispredicts the memory
            # sink's driver cost (the result must fit, not the source):
            # None forces the executor-side parquet sink: 11.2 -> 9.6 s at
            # sf1, and no slower at the driver SFs.
            input_bytes=None, confs=_narrow_state(nbytes),
        )


QUERIES["stream_session_window_native"] = stream_session_window_native
ORACLES["stream_session_window_native"] = SESSION_WINDOW_NATIVE_SQL

QUERIES["stream_user_totals_tws"] = stream_user_totals_tws
ORACLES["stream_user_totals_tws"] = STREAM_TWS_SQL
