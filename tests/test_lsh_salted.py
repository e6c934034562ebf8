"""Property + plan tests for occupancy-capped (salted) MinHash-LSH.

The unsalted band join's hazard is a degenerate bucket — k documents
sharing one band signature emit C(k,2) pairs. The salted variant must
(a) bound every join-group to cap+1 rows EXACTLY (not just in
expectation), (b) keep a degenerate bucket CONNECTED (chain-linked chunk
heads) so cluster collapse still unifies it, and (c) emit a subset of the
unsalted pairs that is identical whenever no bucket exceeds the cap.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduce_simple_go_spark.operators.dedup import (
    LSH_BUCKET_CAP,
    _lsh_bands,
    dedup_minhash_lsh,
    dedup_minhash_lsh_salted,
    lsh_salted_keyed,
    minhash_wide,
)
from mapreduce_simple_go_spark.plans import count_operator, formatted_plan

from .conftest import SF_DIR, rows_key


def _synthetic_degenerate_docs(spark, n_dupes=50, n_distinct=5):
    """n_dupes identical documents (one degenerate bucket per band) plus a
    few distinct ones."""
    rows = [(i, "the quick brown fox jumps over the lazy dog again and again")
            for i in range(n_dupes)]
    rows += [
        (1000 + j, f"completely unrelated document number {j} with words "
                   f"alpha{j} beta{j} gamma{j} delta{j} epsilon{j}")
        for j in range(n_distinct)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_salted_join_groups_exactly_bounded(spark):
    """No (band, sig, chunk) join-group may exceed cap+1 rows — the exact
    bound that makes per-bucket pair fan-out O(k*cap) instead of O(k^2)."""
    docs = _synthetic_degenerate_docs(spark)
    keyed = lsh_salted_keyed(_lsh_bands(minhash_wide(docs)))
    sizes = keyed.groupBy("band", "sig", "chunk").count().collect()
    assert sizes
    assert max(r["count"] for r in sizes) <= LSH_BUCKET_CAP + 1
    # the degenerate bucket really did split: more than one chunk exists
    assert max(r.chunk for r in sizes) >= 1


def test_salted_degenerate_bucket_stays_connected(spark):
    """Union-find over the emitted pairs must place all duplicate docs in
    ONE component (chunk heads chain the bucket), with pair count far
    below the quadratic C(n_dupes, 2)."""
    n = 50
    docs = _synthetic_degenerate_docs(spark, n_dupes=n)
    keyed = lsh_salted_keyed(_lsh_bands(minhash_wide(docs)))
    a, b = keyed.alias("a"), keyed.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.chunk") == F.col("b.chunk")),
        )
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("x"), F.col("b.doc_id").alias("y"))
        .dropDuplicates(["x", "y"])
        .collect()
    )
    parent = {}

    def find(u):
        parent.setdefault(u, u)
        while parent[u] != u:
            parent[u] = parent[parent[u]]
            u = parent[u]
        return u

    for r in pairs:
        parent[find(r.x)] = find(r.y)
    comps = {find(d) for d in range(n)}
    assert len(comps) == 1, f"bucket split into {len(comps)} components"
    # identical docs collide in ALL bands, so per band the chain emits
    # ~n/cap chunks * C(cap+1,2) pairs; across 4 bands the distinct-pair
    # union stays linear in n — assert it is far below the O(n^2) clique.
    assert len(pairs) < n * (n - 1) / 2 / 4


def test_salted_pairs_subset_of_unsalted(spark):
    """On the real fixture: salted output ⊆ unsalted output, and every
    surviving pair carries the identical est_jaccard."""
    full = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in dedup_minhash_lsh(spark, SF_DIR).collect()
    }
    salted = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in dedup_minhash_lsh_salted(spark, SF_DIR).collect()
    }
    assert set(salted) <= set(full)
    for k, v in salted.items():
        assert v == full[k]


def test_salted_plan_joins_on_chunk_no_cartesian(spark):
    """The candidate join's HASH KEYS must include chunk (that is what
    bounds a join group to cap+1 rows — chunk as a residual filter would
    still compare O(k^2) pairs inside a degenerate bucket), with no
    nested-loop/cartesian shape anywhere."""
    df = dedup_minhash_lsh_salted(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # equi-join on exactly (band, sig, chunk): the key lists in the join
    # detail carry all three names
    import re

    keys = re.findall(r"keys(?: \[\d+\])?: \[([^\]]*)\]", plan)
    join_keys = [k for k in keys if "band" in k]
    assert join_keys and all("chunk" in k and "sig" in k for k in join_keys), keys
    # the band index feeds both join sides; the static plan duplicates the
    # subtree but the band-sig Exchange is canonically identical on both
    # sides, so AQE's stage cache materializes it ONCE at runtime (pinned
    # in test_salted_runtime_reuses_band_index); statically: two
    # doc_id-window exchanges, two band-sig exchanges, one final pair agg.
    assert count_operator(df, "Exchange") <= 5


def test_salted_runtime_reuses_band_index(spark):
    """Executing the salted query must materialize the expensive band
    index (shingle explode + 16-perm minhash aggregation) ONCE: the
    executed adaptive plan carries a ReusedExchange for the second join
    side."""
    df = dedup_minhash_lsh_salted(spark, SF_DIR)
    assert len(df.collect()) > 0
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed


@pytest.mark.slow
def test_salted_ten_thousand_dupe_bucket_linear_pairs(spark):
    """The adversarial degenerate-corpus shape at full size: ONE band
    bucket holding 10^4 identical docs. The salted join must emit pairs
    linear in k (chain of cap-sized cliques: per band ceil(k/cap) groups
    of <= cap+1 members), stay one connected component, and never build a
    join group above cap+1 — the empirical O(k*cap) bound, vs the
    C(10^4, 2) = 49 995 000 pairs/band the unsalted join would pay
    (measured at 100x corpus scale in scripts/lsh_adversarial.py; numbers
    in SCALE.md)."""
    k = 10_000
    docs = spark.createDataFrame(
        [(i, "identical boilerplate terms of service text repeated verbatim "
             "across every mirror of the site") for i in range(k)],
        "doc_id long, text string",
    )
    keyed = lsh_salted_keyed(_lsh_bands(minhash_wide(docs))).localCheckpoint(
        eager=True
    )
    grp = keyed.groupBy("band", "sig", "chunk").count()
    assert grp.agg(F.max("count")).first()[0] <= LSH_BUCKET_CAP + 1

    a = keyed.select("band", "sig", "chunk", F.col("doc_id").alias("x"))
    b = keyed.select("band", "sig", "chunk", F.col("doc_id").alias("y"))
    pairs = (
        a.join(b, ["band", "sig", "chunk"])
        .filter(F.col("x") < F.col("y"))
        .select("x", "y")
    )
    distinct = pairs.distinct()
    n_pairs = distinct.count()
    # O(k*cap) bound: per band <= ceil(k/cap) groups x C(cap+1,2) pairs;
    # identical docs collide in every band, so the distinct union over
    # bands stays below that single-band bound (same groups each band)
    import math

    per_band_bound = math.ceil(k / LSH_BUCKET_CAP) * (
        (LSH_BUCKET_CAP + 1) * LSH_BUCKET_CAP // 2
    )
    assert n_pairs <= per_band_bound, (n_pairs, per_band_bound)
    assert n_pairs < k * (k - 1) // 2 / 1000  # nowhere near quadratic

    # connectivity: union-find over the emitted pairs -> ONE component
    parent = {}

    def find(u):
        parent.setdefault(u, u)
        while parent[u] != u:
            parent[u] = parent[parent[u]]
            u = parent[u]
        return u

    for r in distinct.collect():
        parent[find(r.x)] = find(r.y)
    assert len({find(d) for d in range(k)}) == 1


def test_planted_jaccard_recall_floors(spark):
    """r10: measured recall floors for the SHIPPED band
    layout (16 perms, 4 bands x 4 rows) on planted exact-Jaccard pairs —
    the number a near-dedup user needs, now pinned instead of assumed.
    Analytic collision expectation 1-(1-J^4)^4: 0.99 @ J=0.9,
    0.88 @ 0.8, 0.67 @ 0.7; scripts/lsh_tune.py measured 1.0 / 0.92 /
    0.63 at 100 pairs/tier (table in SCALE.md). Floors sit ~2 sigma under
    the analytic values for this test's 50 pairs/tier. The salted form
    must agree EXACTLY here: every planted bucket holds just the pair
    (unique words elsewhere), so cap=2 keeps it in one chunk — any
    divergence means chunking split a within-cap bucket."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "lsh_tune",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts",
            "lsh_tune.py",
        ),
    )
    lt = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(lt)

    rows, planted = lt.planted_jaccard_docs(n_sea=800, pairs_per_tier=50)
    res = lt.measure(spark, rows, planted)

    floors = {"0.9": 0.90, "0.8": 0.70, "0.7": 0.40}
    for tier, floor in floors.items():
        r = res[tier]
        assert r["unsalted_recall"] >= floor, (tier, r)
        assert r["salted_recall"] == r["unsalted_recall"], (tier, r)
        assert r["salted_collision"] == r["unsalted_collision"], (tier, r)
    # the frontier must be monotone in true Jaccard
    assert (
        res["0.9"]["unsalted_recall"]
        >= res["0.8"]["unsalted_recall"]
        >= res["0.7"]["unsalted_recall"]
    )
