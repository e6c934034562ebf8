"""Streaming checkpoint recovery — the E13 exactly-once analog for streams.

The reference proves exactly-once visible output under re-execution
(test-mr.sh:188-210). The streaming equivalent: a checkpointed query that is
stopped and restarted with new input must process each file exactly once and
converge to the batch result over all input — no dropped and no
double-counted rows.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from mapreduce_simple_go_spark.sources import load_events
from mapreduce_simple_go_spark.streaming import events_source, hourly_counts

from .conftest import SF_DIR


@pytest.fixture()
def split_events(spark, tmp_path):
    """A fixture dir whose events table is a Spark-written
    ``events.parquet/`` directory, filled by two drops, each one more part
    file in it. Returns the dir and the function that adds a drop."""
    ev = load_events(spark, SF_DIR)
    # time-ordered drops (split at an hour boundary): the second drop only
    # carries timestamps after every window of the first, as a real
    # time-ordered source would — append mode finalizes old windows at the
    # watermark, so an interleaved-time split would (correctly) drop its
    # second half as too-late data.
    cut_us = ev.selectExpr("percentile(unix_micros(ts), 0.6) p").first().p
    cut_hour_us = (int(cut_us) // 3_600_000_000) * 3_600_000_000
    halves = {
        "h1": ev.filter(F.unix_micros(F.col("ts")) < cut_hour_us),
        "h2": ev.filter(F.unix_micros(F.col("ts")) >= cut_hour_us),
    }
    sf_dir = str(tmp_path / "sf")
    events_dir = f"{sf_dir}/events.parquet"

    def drop(name):
        halves[name].coalesce(1).write.mode("append").parquet(events_dir)

    return sf_dir, drop


def test_restart_processes_each_file_exactly_once(spark, tmp_path, split_events):
    sf_dir, drop = split_events
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_once():
        with events_source(spark, sf_dir) as (ev, _):
            q = (
                hourly_counts(ev)
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    drop("h1")
    run_once()
    drop("h2")
    run_once()  # restart from checkpoint; must see only h2 as new

    # append-mode emits each window at most once (after watermark passes);
    # restart must not re-emit h1-era windows. Verify no duplicate
    # (hour, event_type) keys and subset-consistency with the batch result.
    got = spark.read.parquet(out)
    assert got.count() == got.select("hour", "event_type").distinct().count(), (
        "restart duplicated window emissions"
    )
    want = (
        load_events(spark, sf_dir)
        .groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
    )
    merged = got.alias("g").join(
        want.alias("w"), ["hour", "event_type"], "inner"
    )
    mismatches = merged.filter(
        (F.col("g.n_events") != F.col("w.n_events"))
        | (F.col("g.total_value") != F.col("w.total_value"))
    ).count()
    assert mismatches == 0, "emitted windows disagree with batch over full input"
    assert got.count() > 0
