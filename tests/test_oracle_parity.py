"""Every queries() entry with an oracle must match DuckDB on the fixture data.

This is a local replica of the driver's correctness gate, so failures are
caught before the round's verify runs.
"""

from __future__ import annotations

import pytest

from mapreduce_simple_go_spark.operators import all_oracles, all_queries

from .conftest import SF_DIR, assert_matches_oracle

QUERIES = all_queries()
ORACLES = all_oracles()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(name, spark, duck):
    df = QUERIES[name](spark, SF_DIR)
    assert_matches_oracle(df, duck, ORACLES[name])


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
