"""Shared test infrastructure.

Differential-testing harness mirroring both the reference's methodology
(sequential golden run diffed against the distributed run — sorted full
results, never partition layout; /root/reference/src/main/test-mr.sh:66-98)
and the driver's oracle check (DuckDB runs equivalent SQL on the same parquet
tables; results compared order-insensitively with columns sorted by name).
"""

from __future__ import annotations

import math
import os
from typing import NamedTuple

import duckdb
import pytest

from mapreduce_simple_go_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def _clear_spark_cache(request):
    """Unpersist operator caches between tests — accumulated caches from 30+
    queries in one JVM cause steady slowdown and eviction churn."""
    yield
    if "spark" in request.fixturenames:
        request.getfixturevalue("spark").catalog.clearCache()


def duck_views(con, sf_dir):
    """One DuckDB view per fixture table. A driver fixture's table is a
    single file; a scaled fixture's (scripts/make_scaled_fixture.py) is a
    Spark-written directory of part files, which DuckDB reads only through
    a glob."""
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


@pytest.fixture(scope="session")
def duck():
    con = duck_views(duckdb.connect(), SF_DIR)
    yield con
    con.close()


def _norm(v):
    """Normalize a cell for comparison (the driver hashes stringified cells)."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # repr keeps the trailing ".0" on integral floats, so an int64-vs-
        # float64 dtype split between engines (e.g. DuckDB HUGEINT -> float64)
        # fails here just like it fails the driver's stringified-cell hash.
        return repr(float(v))  # float(): numpy 2.x repr wraps scalars
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return str(v)


def rows_key(columns, rows):
    """Order-insensitive canonical form: columns sorted by name, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def rows_digest(columns, rows):
    """Order-insensitive multiset digest, equality-equivalent to rows_key.

    ``rows_key(a) == rows_key(b)`` iff the two row MULTISETS are equal iff
    their (count, summed per-row hash) pairs are equal (modulo 128-bit
    collisions — negligible). Each row is normalized through the SAME
    ``_norm`` as rows_key, then hashed (blake2b-128 of the tuple repr) and
    SUMMED mod 2^128 — addition commutes, so row order is immaterial, and
    nothing is retained per row. perfbench's workloads check with it:
    sorting 10M+ normalized tuples (rows_key) costs minutes of driver CPU
    and ~1 KB/row of resident tuples per engine, while the digest is one
    pass, O(1) memory. rows_key stays the test-suite form — on
    fixture-sized results it is just as fast and its sorted rows give
    first-differing-row diagnostics.
    Equivalence is property-tested in tests/test_harness_digest.py.
    """
    import hashlib

    order = sorted(range(len(columns)), key=lambda i: columns[i])
    acc = 0
    n = 0
    for r in rows:
        t = tuple(_norm(r[i]) for i in order)
        h = hashlib.blake2b(repr(t).encode(), digest_size=16).digest()
        acc = (acc + int.from_bytes(h, "big")) & ((1 << 128) - 1)
        n += 1
    return (n, acc)


class Cost(NamedTuple):
    """What a call cost Spark, in counts rather than seconds."""

    jobs: int
    stages: int  # stage attempts that ran; a stage whose shuffle was reused is skipped
    tasks: int
    shuffle_records: int  # records written to shuffle files
    input_records: int  # records read from files and from cached or checkpointed blocks


def jobs_started(spark, fn):
    """(fn(), Cost of the Spark jobs started while fn ran).

    Jobs are counted by job id, not by job group: jobs started on other
    threads carry another group (a stream's micro-batches) or none (writes
    submitted from a thread pool), so a group would miss them. Nothing else
    may start jobs on the context meanwhile. Stages, tasks and records come from the
    status store's per-stage data (the numbers the Spark UI shows); a stage
    listed by several of the jobs is counted once.
    """
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    first_job = jsc.dagScheduler().numTotalJobs()
    out = fn()
    job_ids = range(first_job, jsc.dagScheduler().numTotalJobs())
    # the status store learns of jobs through the asynchronous listener bus
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    stage_ids = {s for j in job_ids for s in tracker.getJobInfo(j).stageIds}
    no_status, no_quantiles = sc._jvm.java.util.ArrayList(), sc._gateway.new_array(sc._jvm.double, 0)
    stages = tasks = shuffle_records = input_records = 0
    for sid in stage_ids:
        attempts = jsc.statusStore().stageData(sid, False, no_status, False, no_quantiles)
        for i in range(attempts.size()):
            a = attempts.apply(i)
            if a.status().toString() == "SKIPPED":
                continue
            stages += 1
            tasks += a.numTasks()
            shuffle_records += a.shuffleWriteRecords()
            input_records += a.inputRecords()
    return out, Cost(len(job_ids), stages, tasks, shuffle_records, input_records)


def assert_matches_oracle(spark_df, duck_con, sql, check_schema_names=True):
    sdf = spark_df.toPandas()
    odf = duck_con.execute(sql).df()
    s_cols = list(sdf.columns)
    o_cols = list(odf.columns)
    if check_schema_names:
        assert sorted(s_cols) == sorted(o_cols), f"columns differ: {s_cols} vs {o_cols}"
    s_rows = rows_key(s_cols, sdf.itertuples(index=False, name=None))
    o_rows = rows_key(o_cols, odf.itertuples(index=False, name=None))
    assert len(s_rows) == len(o_rows), f"row counts differ: {len(s_rows)} vs {len(o_rows)}"
    if s_rows != o_rows:
        for i, (a, b) in enumerate(zip(s_rows, o_rows)):
            assert a == b, f"first differing row {i}:\n spark={a}\n duck ={b}"
    assert s_rows == o_rows
