"""Property tests for large-star/small-star connected components.

The star route (dedup._star_components) is the deep-graph fallback behind
connected_components; the tests call it directly on the symmetric edge
set. Contract: identical output to driver-side union-find on ANY graph —
including the chain shapes min-label needs ~diameter iterations for.

Reference analog: the reference's sort-then-group reduce contract
(/root/reference/src/mr/worker.go:93) — grouping semantics must not depend
on how many passes the grouping takes.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mapreduce_simple_go_spark.operators.dedup import (
    _star_components,
    _union_find_labels,
    connected_components,
)


def _expected(pairs):
    return dict(_union_find_labels(iter(pairs)).items())


def _star_labels(spark, pairs):
    edges = spark.createDataFrame(pairs, "src long, dst long")
    sym = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return {r.node: r.label for r in _star_components(sym).collect()}


def test_star_deep_chain_exact(spark):
    """A 60-node chain (diameter 59) — the adversarial shape for one-hop
    propagation — resolves exactly in the star path's O(log^2 d) rounds."""
    pairs = [(i, i + 1) for i in range(59)]
    assert _star_labels(spark, pairs) == _expected(pairs)


def test_star_reversed_chain_and_high_center_star(spark):
    """Ids descending along the chain (worst case for min-pushing) and a
    star whose CENTER is the largest id both resolve exactly."""
    down = [(i + 1, i) for i in range(30, 45)]
    hub = [(100, leaf) for leaf in (61, 62, 63, 64)]
    pairs = down + hub
    assert _star_labels(spark, pairs) == _expected(pairs)


def test_star_matches_auto_fallback_on_deep_graph(spark):
    """connected_components with max_iter far below the diameter must
    produce the same labels as the star path (it falls back internally)."""
    pairs = [(i, i + 1) for i in range(25)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    auto = {
        r.node: r.label
        for r in connected_components(
            edges, max_iter=2, driver_threshold=0
        ).collect()
    }
    assert auto == _expected(pairs)
    assert auto == _star_labels(spark, pairs)


@pytest.mark.slow
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=40),
            st.integers(min_value=0, max_value=40),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_star_equals_union_find_on_random_graphs(spark, edges):
    """Random multigraphs (self-loops, duplicates, both orientations):
    star labels == union-find labels, with self-loop-only nodes dropped
    the same way both distributed paths drop them (a self loop creates no
    edge after canonicalization)."""
    pairs = [(a, b) for a, b in edges if a != b]
    if not pairs:
        return
    assert _star_labels(spark, pairs) == _expected(pairs)
