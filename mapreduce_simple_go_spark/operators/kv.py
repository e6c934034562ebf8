"""KV get/put/append replay — the reference's declared stateful semantics.

The reference's lab-3/4 skeletons declare a linearizable string->string map
whose authoritative semantics are the porcupine model
(/root/reference/src/models/kv.go:40-54):

- get(k)     -> current value, "" if absent
- put(k,v)   -> overwrite
- append(k,v)-> state + v (string concatenation, no delimiter)

The server bodies are stubs (kvraft/server.go:41-47), so the *semantics* are
what we reproduce: given a totally-ordered op log, fold it per key. Batch
Spark expresses the fold with grouped ordered aggregation; the linearization
order the reference gets from Raft is here an explicit ``seq`` column.

Fixture: TESTDATA has no kv_ops table, so we derive a deterministic op log
from ``events`` (seq = event_id, key = user_id % 50, op from event_type,
value from the event payload) — identically in Spark and the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import load_events

# event_type -> op, chosen so the mix resembles the reference's GenericTest
# workload (~half appends, some puts, some gets — kvraft/test_test.go:276-295).
_OP_CASE_SPARK = (
    "CASE event_type WHEN 'click' THEN 'append' WHEN 'error' THEN 'append' "
    "WHEN 'purchase' THEN 'put' WHEN 'signup' THEN 'put' ELSE 'get' END"
)
_OP_CASE_DUCK = _OP_CASE_SPARK  # identical ANSI CASE syntax

KV_OPS_DUCK = f"""
  SELECT event_id AS seq,
         CAST(user_id % 50 AS VARCHAR) AS key,
         {_OP_CASE_DUCK} AS op,
         'v' || CAST(event_id % 1000 AS VARCHAR) || ';' AS value
  FROM events
"""


def _ops_projection(ev: DataFrame) -> DataFrame:
    """The events -> op-log projection, applicable to a batch OR stream df."""
    return ev.select(
        F.col("event_id").alias("seq"),
        (F.col("user_id") % 50).cast("string").alias("key"),
        F.expr(_OP_CASE_SPARK).alias("op"),
        F.concat(F.lit("v"), (F.col("event_id") % 1000).cast("string"), F.lit(";")).alias("value"),
    )


def kv_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive the deterministic op log from the events table."""
    return _ops_projection(load_events(spark, sf_dir))


def kv_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final value per key after replaying the whole log in seq order.

    Plan: one groupBy(key) — collect the (seq, op, value) history as an
    array, then fold it JVM-side with higher-order functions: find the last
    put, concatenate everything from it on. No Python in the loop, single
    shuffle, partial aggregation on the collect is impossible (order matters)
    but the per-key state is bounded by the key's history — the same bound
    the reference's in-memory map has.
    """
    return final_state_from_ops(kv_ops(spark, sf_dir))


def final_state_from_ops(ops: DataFrame) -> DataFrame:
    """Core fold over any (seq, key, op, value) DataFrame."""
    writes = ops.filter(F.col("op") != "get")
    # Two-pass fold: (1) cheap aggregate for each key's last put position,
    # (2) join back (tiny side, broadcast by hint: AQE alone builds on
    # whichever shuffle finishes first) and drop every write the last put
    # overwrote BEFORE collecting, so the per-key array holds only the live
    # epoch — never the full history. (A single-pass variant that collected
    # the whole history and filtered in a lambda was O(h^2): CollapseProject
    # inlines the array_max into the filter lambda.)
    last_put = writes.groupBy("key").agg(
        F.coalesce(
            F.max(F.when(F.col("op") == "put", F.col("seq"))), F.lit(-1)
        ).alias("last_put")
    )
    return (
        writes.join(F.broadcast(last_put), "key")
        .filter(F.col("seq") >= F.col("last_put"))
        .groupBy("key")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("seq", "value"))),
                    lambda x: x.value,
                ),
                "",
            ).alias("state")
        )
    )


KV_FINAL_STATE_SQL = f"""
WITH ops AS ({KV_OPS_DUCK}),
writes AS (SELECT * FROM ops WHERE op <> 'get'),
lp AS (
  SELECT key, MAX(seq) FILTER (WHERE op = 'put') AS last_put
  FROM writes GROUP BY key
)
SELECT w.key AS key, string_agg(w.value, '' ORDER BY w.seq) AS state
FROM writes w JOIN lp ON w.key = lp.key
WHERE w.seq >= COALESCE(lp.last_put, -1)
GROUP BY w.key
"""


def kv_get_visible(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every get op, the value visible at its position in the log (K1).

    Window fold: collect each key's preceding write history once per row
    (rowsBetween unboundedPreceding, -1), then compute the visible value with
    array functions. This is the reference's linearizable read replayed in
    batch. The per-key history array is the scaling bound — for unbounded
    logs the streaming stateful variant (streaming/) is the scale path.
    """
    return get_visible_from_ops(kv_ops(spark, sf_dir))


def get_visible_from_ops(ops: DataFrame) -> DataFrame:
    """Core per-get fold over any (seq, key, op, value) DataFrame."""
    # Epoch trick: each put starts a new epoch for its key (epoch id = the
    # put's seq; -1 before any put). The visible value at a get is the
    # concatenation of write values in ITS epoch with smaller seq — so the
    # window state never spans more than one epoch, instead of the whole key
    # history (which made the naive collect-everything plan O(n·h) and
    # unrunnable at sf0.1).
    w_run = (
        Window.partitionBy("key")
        .orderBy("seq")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    epoch = F.coalesce(
        F.max(F.when(F.col("op") == "put", F.col("seq"))).over(w_run), F.lit(-1)
    )
    w_epoch = (
        Window.partitionBy("key", "epoch")
        .orderBy("seq")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # collect_list skips nulls, so get rows contribute nothing; the ordered
    # window feeds rows in seq order — sort structs anyway for a guaranteed
    # deterministic result.
    prior_writes = F.collect_list(
        F.when(F.col("op") != "get", F.struct("seq", "value"))
    ).over(w_epoch)
    visible = F.array_join(
        F.transform(F.sort_array(F.col("prior_writes")), lambda x: x.value), ""
    )
    return (
        ops.withColumn("epoch", epoch)
        .withColumn("prior_writes", prior_writes)
        .filter(F.col("op") == "get")
        .select("seq", "key", visible.alias("visible"))
    )


# Same epoch trick as the Spark plan above, in ANSI window form. The
# original oracle was a correlated double-subquery per get row — O(h) work
# per row over 50 keys makes it quadratic in the log length, and DuckDB
# ground for >15 min (85 GB RSS, spilling) on the 10x fixture while the
# Spark side finished in seconds. The window form is verified
# row-identical to the correlated form at sf0.01 and sf0.1 and runs the
# sf0.1 oracle in 0.12 s vs 3.2 s.
KV_GET_VISIBLE_SQL = f"""
WITH ops AS ({KV_OPS_DUCK}),
e AS (
  SELECT *,
    COALESCE(MAX(CASE WHEN op = 'put' THEN seq END)
      OVER (PARTITION BY key ORDER BY seq
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1) AS epoch
  FROM ops
),
v AS (
  SELECT seq, key, op,
    string_agg(CASE WHEN op <> 'get' THEN value END, '')
      FILTER (WHERE op <> 'get')
      OVER (PARTITION BY key, epoch ORDER BY seq
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS visible
  FROM e
)
SELECT seq, key, COALESCE(visible, '') AS visible FROM v WHERE op = 'get'
"""


def kv_ops_at_least_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic at-least-once delivery log: every 7th op is re-sent.

    Models the reference clerk's retry loop (kvraft/client.go:59-64 — the
    client re-sends an op until it gets a reply, so the server may receive
    the same logical op twice). ``op_id`` identifies the logical op; ``seq``
    is the delivery position. The retry of op N is delivered at 2N+3 —
    strictly AFTER the first delivery of op N+1 (at 2N+2), so duplicates
    genuinely interleave with later traffic rather than arriving adjacent.
    """
    base = kv_ops(spark, sf_dir).select(
        F.col("seq").alias("op_id"),
        (F.col("seq") * 2).alias("seq"),
        "key",
        "op",
        "value",
    )
    dups = base.filter(F.col("op_id") % 7 == 0).withColumn(
        "seq", F.col("op_id") * 2 + 3
    )
    return base.unionByName(dups)


def dedup_first_win(ops: DataFrame) -> DataFrame:
    """Apply each logical op exactly once: keep the first delivery per op_id.

    The reference requires a retried Append to take effect once
    (checkClntAppends, kvraft/test_test.go:348). One shuffle on op_id;
    row_number (not dropDuplicates) so "first" is defined by delivery seq,
    deterministically.
    """
    w = Window.partitionBy("op_id").orderBy("seq")
    return ops.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn")


def kv_final_state_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final KV state after replaying an at-least-once log with op-id dedup.

    Equals kv_final_state on the clean log re-timed to seq*2 — duplicate
    appends must NOT double-apply (asserted in tests/test_kv_dedup.py).
    """
    ops = dedup_first_win(kv_ops_at_least_once(spark, sf_dir)).drop("op_id")
    return final_state_from_ops(ops)


KV_FINAL_STATE_DEDUP_SQL = f"""
WITH ops0 AS ({KV_OPS_DUCK}),
base AS (SELECT seq AS op_id, seq * 2 AS seq, key, op, value FROM ops0),
dups AS (SELECT op_id, op_id * 2 + 3 AS seq, key, op, value FROM base WHERE op_id % 7 = 0),
log AS (SELECT * FROM base UNION ALL SELECT * FROM dups),
ded AS (
  SELECT op_id, seq, key, op, value FROM (
    SELECT *, row_number() OVER (PARTITION BY op_id ORDER BY seq) AS rn FROM log
  ) WHERE rn = 1
),
writes AS (SELECT * FROM ded WHERE op <> 'get'),
lp AS (
  SELECT key, MAX(seq) FILTER (WHERE op = 'put') AS last_put
  FROM writes GROUP BY key
)
SELECT w.key AS key, string_agg(w.value, '' ORDER BY w.seq) AS state
FROM writes w JOIN lp ON w.key = lp.key
WHERE w.seq >= COALESCE(lp.last_put, -1)
GROUP BY w.key
"""


QUERIES = {
    "kv_final_state": kv_final_state,
    "kv_get_visible": kv_get_visible,
    "kv_final_state_dedup": kv_final_state_dedup,
}

ORACLES = {
    "kv_final_state": KV_FINAL_STATE_SQL,
    "kv_get_visible": KV_GET_VISIBLE_SQL,
    "kv_final_state_dedup": KV_FINAL_STATE_DEDUP_SQL,
}


def kv_shard_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5: the reference's key2shard placement, as an observable query.

    shard = int(key[0]) % NShards (first-byte hash,
    /root/reference/src/shardkv/client.go:22-29; NShards=10,
    shardctrler/common.go:21). Emits per-shard load — distinct keys and op
    count — the skew profile a shard controller balances. One
    partial-aggregated shuffle on the (10-value) shard key.
    """
    ops = kv_ops(spark, sf_dir)
    shard = F.ascii(F.substring(F.col("key"), 1, 1)) % 10
    return (
        ops.withColumn("shard", shard)
        .groupBy("shard")
        .agg(
            F.count_distinct("key").alias("n_keys"),
            F.count("*").alias("n_ops"),
        )
    )


KV_SHARD_SQL = f"""
WITH ops AS ({KV_OPS_DUCK})
SELECT ascii(substr(key, 1, 1)) % 10 AS shard,
       COUNT(DISTINCT key) AS n_keys,
       COUNT(*) AS n_ops
FROM ops
GROUP BY 1
"""

QUERIES["kv_shard_distribution"] = kv_shard_distribution
ORACLES["kv_shard_distribution"] = KV_SHARD_SQL


def kv_stream_final_state(
    spark: SparkSession, sf_dir: str, n_files: int = 1
) -> DataFrame:
    """Registry entry that runs the REAL Structured Streaming stateful fold.

    The write log replays through ``streaming.kv_append_state``
    (applyInPandasWithState, O(1) state per key) with an availableNow
    trigger — a bounded drain of the same code path an unbounded deployment
    runs — and the final per-key state must equal the batch fold, so this
    query SHARES kv_final_state's DuckDB oracle. This is the one registry
    row where the correctness gate hashes actual streaming-engine output
    instead of a batch twin. Final state
    per key = the max-``version`` row (version = max seq applied, emitted
    by the stateful fold itself) — correct for any micro-batch split of
    the drain; sink row order is never consulted.

    The default single-batch drain does NOT rewrite the op log: the
    events table streams IN PLACE from the fixture and the op-log
    projection is applied to the STREAM DataFrame (the fold sorts each
    micro-batch by seq internally, so file order and row order are both
    immaterial within one batch, and with no maxFilesPerTrigger an
    availableNow drain takes every listed file in one batch). That removes
    a sort+coalesce(1)+rewrite of the whole log (~1 s of the 2.8 s sf0.1
    cost).

    ``n_files`` > 1 stages the log as that many contiguous-seq file drops
    drained one per micro-batch, forcing a multi-micro-batch drain of THIS
    exact code path (state carried across batches, version re-emissions
    per batch; cross-batch ORDER matters there, hence contiguous seq
    ranges: drop order = seq order, the stream's arrival-order contract) —
    tests/test_streaming.py asserts n_files=3 produces the identical
    result.
    """
    from .. import streaming

    writes = F.col("op") != "get"
    if n_files <= 1:
        source = streaming.events_source(spark, sf_dir)
    else:
        ops = kv_ops(spark, sf_dir).filter(writes)
        hi = ops.agg(F.max("seq")).first()[0] + 1
        drops = F.expr(f"seq * {n_files} div {hi}")
        source = streaming.ordered_drops_source(spark, ops, drops, n_files)
    with source as (stream, nbytes):
        if n_files <= 1:
            stream = _ops_projection(stream).filter(writes)
        # update mode appends one row per (key, micro-batch); the
        # max-version emission per key is the final state
        return streaming.drain(
            streaming.kv_append_state(stream),
            "update",
            """
            SELECT key, state FROM (
              SELECT key, state, row_number() OVER (PARTITION BY key ORDER BY version DESC) AS r
              FROM {name}
            ) WHERE r = 1
            """,
            input_bytes=nbytes,
            # Size the stateful shuffle to the state's key cardinality (50
            # keys here): state-store partitions are fixed at the first
            # checkpoint of a real deployment, and 32 near-empty partitions
            # just spin 32 Python state workers for nothing (measured 3.6 ->
            # 2.2 s). Unlike the events entries, at every input size.
            confs={"spark.sql.shuffle.partitions": "8"},
        )


QUERIES["kv_stream_final_state"] = kv_stream_final_state
ORACLES["kv_stream_final_state"] = KV_FINAL_STATE_SQL
