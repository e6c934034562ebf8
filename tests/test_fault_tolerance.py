"""Fault-parity tests — the reference's crash/straggler methodology.

The reference proves correctness under faults by differential runs: crash.so
workers randomly exit or stall mid-UDF, and the final output must equal the
clean nocrash.so run (test-mr.sh:271-317; maybeCrash at crash.go:20-32). In
Spark the re-execution machinery is built in (lineage + task retry +
speculative execution); what we assert is the *observable contract*: a job
whose UDFs stall randomly produces byte-identical results to the clean run.

Executor-kill is not reproducible inside local mode (one JVM; see
test_executor_kill.py) and crashed tasks are covered by test_task_retry.py;
stalls are the injectable fault here. The straggler-recovery config surface
(speculation) is asserted separately.
"""

from __future__ import annotations

import random

from mapreduce_simple_go_spark.engine import Engine
from mapreduce_simple_go_spark.operators import mapreduce as mr

from .conftest import SF_DIR


def slow_wc_map(filename: str, contents: str):
    """wc map with the reference's stall distribution scaled down ~100x
    (crash.go:27-31: 1/3 of calls sleep up to 10 s; here up to 100 ms)."""
    rng = random.Random(filename)  # seeded per task input -> reproducible
    if rng.randint(0, 2) == 1:
        import time

        time.sleep(rng.random() * 0.1)
    return mr.wc_map(filename, contents)


def test_stalling_udf_output_identical(spark):
    eng = Engine(spark)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").selectExpr(
        "cast(doc_id as string) filename", "text contents"
    )
    clean = sorted(map(tuple, eng.map_reduce(docs, mr.wc_map, mr.wc_reduce).collect()))
    faulty = sorted(map(tuple, eng.map_reduce(docs, slow_wc_map, mr.wc_reduce).collect()))
    assert clean == faulty


def test_extra_conf_surface(spark):
    """Straggler re-execution maps to spark.speculation (SURVEY.md E12),
    exposed through get_spark(extra_conf=...). Within one JVM the session is
    reused, so assert the pass-through on a runtime-settable conf."""
    from mapreduce_simple_go_spark.session import get_spark

    s = get_spark(extra_conf={"spark.sql.shuffle.partitions": "17"})
    try:
        assert s.conf.get("spark.sql.shuffle.partitions") == "17"
        n = s.read.parquet(f"{SF_DIR}/documents.parquet").count()
        assert n > 0
    finally:
        s.conf.set("spark.sql.shuffle.partitions", "8")


def test_get_spark_keeps_live_session_conf(spark):
    """Engine() and a plain get_spark() hand back the live session as-is:
    only confs the caller passes explicitly are set on it."""
    from mapreduce_simple_go_spark.session import get_spark

    assert Engine().spark is spark
    assert get_spark() is spark
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"


def test_output_stability_under_partitioning(spark):
    """E13/A10 analog: the sorted result set is invariant to partitioning
    (the reference's only output contract is the sorted concat,
    test-mr.sh:90)."""
    eng = Engine(spark)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").selectExpr(
        "cast(doc_id as string) filename", "text contents"
    )
    r4 = sorted(map(tuple, eng.map_reduce(docs, mr.wc_map, mr.wc_reduce, n_reduce=4).collect()))
    r13 = sorted(map(tuple, eng.map_reduce(docs.repartition(13), mr.wc_map, mr.wc_reduce, n_reduce=13).collect()))
    r1 = sorted(map(tuple, eng.sequential(docs, mr.wc_map, mr.wc_reduce).collect()))
    assert r4 == r13 == r1
