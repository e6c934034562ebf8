"""Every queries() entry with an oracle must match DuckDB on the fixture data.

This is the repo's one registry-vs-oracle check, a local replica of the
driver's correctness gate. It runs at any fixture, including the scaled
ones whose tables are directories::

    SPARK_GRAFT_TEST_SF_DIR=<fixture> python -m pytest \
        tests/test_oracle_parity.py -q [-k names] --durations=0

``-k`` picks entries, ``--lf`` re-runs the failures of the last run and
``--durations=0`` reports each entry's wall time.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from mapreduce_simple_go_spark.operators import all_oracles, all_queries

from .conftest import SF_DIR, TABLES, assert_matches_oracle, duck_views

QUERIES = all_queries()
ORACLES = all_oracles()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(name, spark, duck):
    df = QUERIES[name](spark, SF_DIR)
    assert_matches_oracle(df, duck, ORACLES[name])


def test_directory_tables_feed_the_oracle_views(spark, tmp_path):
    """A scaled fixture's tables are Spark-written directories of part
    files: the DuckDB views read them, and an entry over two such tables
    still matches its oracle."""
    for t in TABLES:
        src, dst = os.path.join(SF_DIR, f"{t}.parquet"), tmp_path / f"{t}.parquet"
        if t in ("orders", "lineitem"):
            spark.read.parquet(src).repartition(2).write.parquet(str(dst))
        else:
            dst.symlink_to(src)
    assert len(list((tmp_path / "orders.parquet").glob("*.parquet"))) == 2
    con = duck_views(duckdb.connect(), str(tmp_path))
    try:
        name = "q4_order_priority"
        assert_matches_oracle(QUERIES[name](spark, str(tmp_path)), con, ORACLES[name])
    finally:
        con.close()


def test_all_oracle_keys_have_queries():
    assert set(ORACLES) <= set(QUERIES)


def test_driver_window_structure():
    """Window policy invariants: the head the driver checks is at most 50
    names, every window name resolves to a registered query AND oracle, and
    the window occupies exactly the front of the registry iteration order."""
    from mapreduce_simple_go_spark.operators import _WINDOW_PRIORITY

    names = list(QUERIES)
    assert len(_WINDOW_PRIORITY) <= 50
    assert names[: len(_WINDOW_PRIORITY)] == list(_WINDOW_PRIORITY)
    for n in _WINDOW_PRIORITY:
        assert n in ORACLES, f"window name {n} lacks an oracle"
