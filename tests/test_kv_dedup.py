"""Duplicate-request suppression: a retried op is applied exactly once.

Reference semantics: the clerk re-sends an op until acknowledged
(/root/reference/src/kvraft/client.go:59-64), and checkClntAppends
(/root/reference/src/kvraft/test_test.go:348) fails a server that applies a
retried Append twice. Here the at-least-once log is deterministic (every 7th
op re-delivered, interleaved with later traffic) and the dedup fold must
match a clean-log replay.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_simple_go_spark.operators.kv import (
    dedup_first_win,
    final_state_from_ops,
    kv_final_state_dedup,
    kv_ops,
    kv_ops_at_least_once,
)

from .conftest import SF_DIR


def sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_dedup_matches_clean_log_replay(spark):
    """Folding the deduped at-least-once log == folding the clean log."""
    got = sorted_rows(kv_final_state_dedup(spark, SF_DIR))
    clean = kv_ops(spark, SF_DIR).withColumn("seq", F.col("seq") * 2)
    want = sorted_rows(final_state_from_ops(clean))
    assert got == want and len(got) > 0


def test_duplicates_corrupt_without_dedup(spark):
    """Sanity: skipping the dedup step double-applies appends — the failure
    mode checkClntAppends exists to catch."""
    raw = kv_ops_at_least_once(spark, SF_DIR).drop("op_id")
    corrupted = sorted_rows(final_state_from_ops(raw))
    clean = kv_ops(spark, SF_DIR).withColumn("seq", F.col("seq") * 2)
    want = sorted_rows(final_state_from_ops(clean))
    assert corrupted != want


def test_dedup_keeps_first_delivery(spark):
    """Exactly one row per op_id survives, and it is the earliest delivery."""
    log = kv_ops_at_least_once(spark, SF_DIR)
    ded = dedup_first_win(log)
    n_logical = log.select("op_id").distinct().count()
    assert ded.count() == n_logical
    # first-win: surviving seq == min seq per op_id
    mins = log.groupBy("op_id").agg(F.min("seq").alias("seq"))
    assert ded.select("op_id", "seq").exceptAll(mins).count() == 0
