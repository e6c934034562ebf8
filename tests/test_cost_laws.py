"""Cost laws over the whole registry, checked on counts, not seconds.

The reference's job-count test (test-mr.sh) counts work instead of timing
it, and *MapReduce Algorithms for Big Data Analysis* (VLDB 2012) costs an
algorithm in rounds and communication. This module runs every registered
query at two fixtures whose fact tables are 100x apart (sf0.001 and
sf0.1) and counts, per query, the Spark jobs, stages, shuffle-write records
and input records it started (``conftest.jobs_started``). Input records
grow 1.8-100x per query (documents and embeddings scale less than the
fact tables), so every communication law is stated per input record, not
per scale factor. The laws:

(a) Fixed shape: a query runs the same number of jobs and stages at both
    fixtures.
(b) Linear communication: shuffle records per input record grow by at
    most ``GROWTH`` from the small fixture to the large one.
(c) Broadcast dimension joins: a fact aggregate whose joins all broadcast
    shuffles at most ``BROADCAST_FRACTION`` of its input at sf0.1; only
    its partial aggregate crosses the wire.
(d) Iterative: a loop query runs at most its fixed jobs plus its jobs per
    round times the rounds its input needs, the rounds replayed on the
    driver from the same input.

A query that breaks (a) or (b) for a known reason is named in
``EXCEPTIONS`` with its allowance and the measured reason; SCALE.md "Cost
laws" mirrors that table. An exception the counts no longer need fails
the test too, so the table cannot outlive its reason.
"""

from __future__ import annotations

import os
from collections import defaultdict

import pytest

from mapreduce_simple_go_spark.operators import all_queries
from mapreduce_simple_go_spark.operators.dedup import dedup_minhash_lsh
from mapreduce_simple_go_spark.sources import table

from .conftest import SF_DIR, TABLES, jobs_started

SMALL, LARGE = "sf0.001", "sf0.1"
TESTDATA = os.path.dirname(SF_DIR.rstrip("/"))

GROWTH = 1.2
BROADCAST_FRACTION = 0.001

# Law (c). At the fixtures every join of these queries broadcasts (orders
# too: its 150k rows at sf0.1 are under the 64 MB threshold), so the only
# exchange left is the partial aggregate's.
BROADCAST_JOINS = [
    "q5_supplier_volume",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_type_profit",
    "q14_promo_revenue",
    "q19_bracket_revenue",
]

# Law (d). dedup_clusters_distributed runs connected_components' min-label
# loop with the driver tier shut. Fixed jobs: the MinHash-LSH pair jobs,
# three eager localCheckpoints (edges, symmetric edges, initial labels), the
# initial label sum (2 jobs) and the collect. Per round: the join and
# aggregation's AQE stages (5 jobs), the round's localCheckpoint and its
# convergence sum (2 jobs). Every other loop in the registry runs the same
# jobs at both fixtures, so law (a) covers it.
ITERATIVE = "dedup_clusters_distributed"
FIXED_JOBS, JOBS_PER_ROUND = 10, 8

# (query, law) -> (allowance, measured reason). For law (a) the allowance is
# how many jobs (and stages) the two fixtures may differ by; for law (b) it
# is the growth factor allowed in place of GROWTH, None when the small
# fixture shuffles nothing and there is no ratio to grow.
EXCEPTIONS = {
    ("dedup_clusters_distributed", "a"): (
        8,
        "iterative: 2 min-label rounds at sf0.001, 3 at sf0.1; law (d) bounds it",
    ),
    ("q11_important_stock", "a"): (
        5,
        "no NATION_7 supplier at sf0.001: AQE replaces the empty broadcast join "
        "with an empty relation, so the lineitem scan, its aggregate and the "
        "per-part localCheckpoint never run (4 jobs, 9 at sf0.1)",
    ),
    ("q7_volume_shipping", "a"): (
        1,
        "no NATION_1 or NATION_2 supplier at sf0.001: AQE drops the empty "
        "join branch and the final aggregate's shuffle stage (5 jobs, 6 at sf0.1)",
    ),
    ("q22_global_sales_opportunity", "a"): (
        1,
        "every customer has an order at sf0.001: the anti-join is empty and "
        "AQE drops the final aggregate's shuffle stage (4 jobs, 5 at sf0.1)",
    ),
    ("word_triangles", "a"): (
        1,
        "varies run to run, not with the fixture: 10 or 11 jobs at sf0.1 over "
        "repeated runs; its degree joins join two concurrently shuffled sides, "
        "where AQE builds a broadcast on whichever shuffle finished first "
        "(cause not confirmed)",
    ),
    ("q7_volume_shipping", "b"): (
        None,
        "shuffles nothing at sf0.001 (empty join, see law a); law (c) bounds it",
    ),
    ("q11_important_stock", "b"): (
        None,
        "shuffles nothing at sf0.001 (empty join, see law a)",
    ),
    ("dedup_ngram_jaccard", "b"): (
        16.0,
        "quadratic by contract: pairs sharing a sub-ceiling shingle gave 24x "
        "the shuffle records for 10x the documents, while its input records, "
        "which count re-reads of checkpointed blocks, grew only 1.8x",
    ),
    ("fuzzy_name_matches", "b"): (
        4.0,
        "candidate pairs per blocking key grow with the names per key",
    ),
    ("ann_srp_topk", "b"): (
        4.0,
        "the query set is n/100 vectors, so scored pairs grow as n^2 and their "
        "shuffle per input vector as n (4x the embeddings: at most 4x)",
    ),
    ("distinct_parts_per_supplier", "b"): (
        4.0,
        "map-side distinct absorbs less: (supplier, part) keys grow as SF^2 "
        "against SF rows, so nearly every row is its own key at sf0.1 "
        "(0.32 -> 0.99 records per input, never above one)",
    ),
    ("q16_supplier_part_count", "b"): (
        3.0,
        "map-side distinct absorbs less: (brand, type, size, supplier) keys "
        "grow faster than lineitem rows (0.29 -> 0.72 records per input)",
    ),
    ("q20_part_promotion", "b"): (
        2.5,
        "the (part, supplier) quantity aggregate's keys grow faster than its "
        "lineitem rows, so partial aggregation absorbs less",
    ),
    ("q21_waiting_suppliers", "b"): (
        1.6,
        "per-order supplier sets: the (order, supplier) keys grow faster than "
        "the rows, so partial aggregation absorbs less",
    ),
    ("q2_min_cost_supplier", "b"): (
        1.5,
        "the (part, supplier) min-cost aggregate's keys grow faster than its "
        "lineitem rows, so partial aggregation absorbs less",
    ),
}


# Law (a) exceptions whose count varies between identical runs; the test
# cannot tell whether they are still needed.
VARIES_RUN_TO_RUN = {"word_triangles"}


def _allowance(name: str, law: str, default):
    return EXCEPTIONS.get((name, law), (default,))[0]


@pytest.fixture(scope="module")
def costs(spark):
    """{fixture: {query: Cost}} for every registered query at both fixtures."""
    out = {}
    for sf in (SMALL, LARGE):
        sf_dir = os.path.join(TESTDATA, sf)
        for t in TABLES:
            table(spark, sf_dir, t)  # infer each schema now, outside the counts
        out[sf] = {}
        for name, query in all_queries().items():
            _, out[sf][name] = jobs_started(spark, lambda: query(spark, sf_dir).collect())
            spark.catalog.clearCache()
    return out


def _shuffle_per_input(cost):
    return cost.shuffle_records / cost.input_records


def _growth(small, large):
    """Growth of shuffle records per input record; inf from a zero start."""
    if small.shuffle_records == 0:
        return 0.0 if large.shuffle_records == 0 else float("inf")
    return _shuffle_per_input(large) / _shuffle_per_input(small)


def _broken(violations, law):
    return f"law {law} broken by {len(violations)} queries:\n  " + "\n  ".join(violations)


def test_every_query_counted_at_both_fixtures(costs):
    names = set(all_queries())
    assert set(costs[SMALL]) == set(costs[LARGE]) == names
    assert all(c.jobs > 0 and c.input_records > 0 for sf in costs for c in costs[sf].values())


def test_fixed_shape(costs):
    """(a) The same jobs and stages at both fixtures."""
    violations = []
    for name, small in costs[SMALL].items():
        large = costs[LARGE][name]
        allowed = _allowance(name, "a", 0)
        if max(abs(large.jobs - small.jobs), abs(large.stages - small.stages)) > allowed:
            violations.append(
                f"{name}: jobs {small.jobs} -> {large.jobs}, stages "
                f"{small.stages} -> {large.stages} (allowed difference {allowed})"
            )
    assert not violations, _broken(violations, "(a) fixed shape")


def test_linear_communication(costs):
    """(b) Shuffle records per input record do not grow past GROWTH."""
    violations = []
    for name, small in costs[SMALL].items():
        large = costs[LARGE][name]
        allowed = _allowance(name, "b", GROWTH)
        if allowed is not None and _growth(small, large) > allowed:
            violations.append(
                f"{name}: {_shuffle_per_input(small):.4g} -> "
                f"{_shuffle_per_input(large):.4g} shuffle records per input record "
                f"(x{_growth(small, large):.3g}, allowed x{allowed})"
            )
    assert not violations, _broken(violations, "(b) linear communication")


def test_broadcast_dimension_joins(costs):
    """(c) Fact aggregates through broadcast joins shuffle only partials."""
    violations = [
        f"{name}: {c.shuffle_records} shuffle records for {c.input_records} input "
        f"records at {LARGE} (allowed {BROADCAST_FRACTION:.1%})"
        for name in BROADCAST_JOINS
        if (c := costs[LARGE][name]).shuffle_records > BROADCAST_FRACTION * c.input_records
    ]
    assert not violations, _broken(violations, "(c) broadcast dimension joins")


def _min_label_rounds(edges) -> int:
    """Rounds connected_components' min-label loop runs over ``edges``:
    one per round that lowers a label, plus the round that finds none."""
    neighbours = defaultdict(set)
    for a, b in edges:
        neighbours[a].add(b)
        neighbours[b].add(a)
    label = {n: n for n in neighbours}
    rounds = 0
    while True:
        rounds += 1
        lower = {n: min(label[n], *(label[m] for m in ms)) for n, ms in neighbours.items()}
        if lower == label:
            return rounds
        label = lower


def test_iterative_jobs_per_round(costs, spark):
    """(d) The loop query: fixed jobs plus jobs per round times rounds."""
    violations = []
    for sf in (SMALL, LARGE):
        pairs = dedup_minhash_lsh(spark, os.path.join(TESTDATA, sf)).filter("est_jaccard >= 0.5")
        rounds = _min_label_rounds((r.doc_a, r.doc_b) for r in pairs.collect())
        bound = FIXED_JOBS + JOBS_PER_ROUND * rounds
        if costs[sf][ITERATIVE].jobs > bound:
            violations.append(
                f"{ITERATIVE} at {sf}: {costs[sf][ITERATIVE].jobs} jobs for {rounds} "
                f"rounds (allowed {FIXED_JOBS} + {JOBS_PER_ROUND} per round = {bound})"
            )
    assert not violations, _broken(violations, "(d) iterative jobs per round")


def test_every_exception_is_still_needed(costs):
    """An exception the counts no longer need must leave the table."""
    assert {name for name, _ in EXCEPTIONS} <= set(all_queries())
    stale = []
    for (name, law), (allowed, reason) in EXCEPTIONS.items():
        small, large = costs[SMALL][name], costs[LARGE][name]
        if law == "a":
            needed = small.jobs != large.jobs or small.stages != large.stages
        else:
            needed = _growth(small, large) > GROWTH
        if not needed and name not in VARIES_RUN_TO_RUN:
            stale.append(f"{name} law ({law}): {reason}")
    assert not stale, "exceptions no longer needed:\n  " + "\n  ".join(stale)
