"""Curation-operator behavior: quality filter, deterministic samples,
near-dup clustering.

Oracle parity is covered by test_oracle_parity; these tests pin the
semantic properties the oracles can't express — verdict mix, rate accuracy,
rerun/partitioning stability, transitive cluster closure.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduce_simple_go_spark.operators.sampling import (
    SAMPLE_K,
    STRATA_RATES,
    quality_filter,
    sample_per_stratum,
    stratified_sample,
)

from .conftest import SF_DIR


def test_quality_filter_mixed_verdicts(spark):
    rows = quality_filter(spark, SF_DIR).collect()
    passed = [r for r in rows if r.passes]
    failed = [r for r in rows if not r.passes]
    assert passed and failed, "thresholds must split the fixture corpus"
    assert all(r.fail_reasons == "" for r in passed)
    assert all(r.fail_reasons != "" for r in failed)
    # reasons are drawn from the documented rule names
    names = {"n_tokens", "mean_word_len", "repetition", "alpha_ratio"}
    for r in failed:
        assert set(r.fail_reasons.split(",")) <= names


def test_quality_filter_keeps_tokenless_docs(spark, tmp_path):
    """A doc that tokenizes to zero tokens (all punctuation/digits) must
    still appear in the output — n_tokens=0, failing verdict — not be
    silently dropped by the term_stats join."""
    df = spark.createDataFrame(
        [
            (1, "12345 ... !!! ???", "en", "t"),
            (2, " ".join(f"word{i}" for i in range(40)), "en", "t"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    rows = {r.doc_id: r for r in quality_filter(spark, str(tmp_path)).collect()}
    assert set(rows) == {1, 2}, "every doc must surface, token-less included"
    assert rows[1].n_tokens == 0
    assert not rows[1].passes
    assert "n_tokens" in rows[1].fail_reasons.split(",")


def test_stratified_sample_hits_configured_rates(spark):
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    totals = {r.lang: r["count"] for r in d.groupBy("lang").count().collect()}
    kept = {
        r.lang: r["count"]
        for r in stratified_sample(spark, SF_DIR).groupBy("lang").count().collect()
    }
    for lang, rate in STRATA_RATES.items():
        if totals.get(lang, 0) < 20:
            continue
        got = kept.get(lang, 0) / totals[lang]
        assert abs(got - rate) < 0.15, f"{lang}: rate {got:.2f} vs configured {rate}"


def test_sample_per_stratum_fixed_k_and_rerun_stable(spark):
    s1 = sorted(map(tuple, sample_per_stratum(spark, SF_DIR).collect()))
    s2 = sorted(map(tuple, sample_per_stratum(spark, SF_DIR).collect()))
    assert s1 == s2
    per_lang: dict[str, int] = {}
    for _, lang, rk in s1:
        per_lang[lang] = per_lang.get(lang, 0) + 1
        assert 1 <= rk <= SAMPLE_K
    assert all(n == SAMPLE_K for n in per_lang.values())


def test_connected_components_transitive_closure(spark):
    """A~B and B~C must land in one cluster even without an A~C edge;
    disconnected components stay separate — on BOTH the driver union-find
    path and the distributed label-propagation path (forced via
    driver_threshold=0), which must agree exactly."""
    from mapreduce_simple_go_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "src long, dst long",
    )
    want = {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20, 23: 20}
    got_driver = {r.node: r.label for r in connected_components(edges).collect()}
    got_dist = {
        r.node: r.label
        for r in connected_components(edges, driver_threshold=0).collect()
    }
    assert got_driver == want
    assert got_dist == want


@pytest.mark.parametrize("before", [None, "7"])
def test_connected_components_probe_leaves_the_conf_as_found(spark, before):
    """The driver-tier probe overrides spark.sql.limit.initialNumPartitions
    only while it collects: afterwards the conf is unset again, or holds
    the value it held before."""
    from mapreduce_simple_go_spark.operators.dedup import connected_components

    key = "spark.sql.limit.initialNumPartitions"
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    if before is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, before)
    try:
        got = {r.node: r.label for r in connected_components(edges).collect()}
        assert got == {1: 1, 2: 1, 3: 1}
        assert spark.conf.get(key, None) == before
    finally:
        spark.conf.unset(key)


def test_training_pipeline_drops_near_dups_from_curated_set(spark):
    """training_corpus_pipeline = curation_pipeline minus near-duplicates:
    its output is a subset of the curated manifest, keeps at most one doc
    per near-dup cluster (the smallest surviving doc_id), and carries the
    same split labels for the docs it keeps."""
    from mapreduce_simple_go_spark.operators.dedup import dedup_clusters
    from mapreduce_simple_go_spark.operators.sampling import (
        curation_pipeline,
        training_corpus_pipeline,
    )

    curated = {r.doc_id: r.split for r in curation_pipeline(spark, SF_DIR).collect()}
    final = {r.doc_id: r.split for r in training_corpus_pipeline(spark, SF_DIR).collect()}
    assert set(final) <= set(curated)
    assert all(final[d] == curated[d] for d in final)
    clusters = {r.doc_id: r.cluster_id for r in dedup_clusters(spark, SF_DIR).collect()}
    kept_per_cluster: dict[int, list[int]] = {}
    for d in final:
        if d in clusters:
            kept_per_cluster.setdefault(clusters[d], []).append(d)
    for cl, docs in kept_per_cluster.items():
        assert len(docs) == 1, f"cluster {cl} kept {docs}"
        # the kept doc is the smallest SURVIVING member of its cluster
        surviving = [d for d, c in clusters.items() if c == cl and d in curated]
        assert docs[0] == min(surviving)


def test_connected_components_deep_chain_falls_back_to_star(spark):
    """A component whose diameter exceeds max_iter must never return
    half-merged labels: min-label now hands the graph to
    large-star/small-star, so the result is CORRECT even with max_iter
    far below the diameter (previously this case raised)."""
    from mapreduce_simple_go_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "src long, dst long"
    )
    got = {
        r.node: r.label
        for r in connected_components(
            chain, max_iter=2, driver_threshold=0
        ).collect()
    }
    assert got == {i: 0 for i in range(10)}
    # same graph with enough iterations resolves identically via min-label
    ok = connected_components(chain, max_iter=12, driver_threshold=0)
    assert {r.label for r in ok.collect()} == {0}


def test_fuzzy_name_blocking_matches_brute_force(spark):
    """Deletion-neighborhood blocking must find EXACTLY the pairs a brute
    n^2 edit-distance scan finds (completeness is the scheme's whole
    claim), including insert/delete shapes the fixture's equal-length
    names never exercise."""
    from mapreduce_simple_go_spark.operators.dedup import fuzzy_name_matches

    def lev(s, t):
        prev = list(range(len(t) + 1))
        for i, cs in enumerate(s, 1):
            cur = [i]
            for j, ct in enumerate(t, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (cs != ct)))
            prev = cur
        return prev[-1]

    names = [
        r.s_name
        for r in spark.read.parquet(f"{SF_DIR}/supplier.parquet").collect()
    ]
    want = {
        (a, b, lev(a, b))
        for i, a in enumerate(sorted(names))
        for b in sorted(names)[i + 1 :]
        if lev(a, b) <= 1
    }
    got = {tuple(r) for r in fuzzy_name_matches(spark, SF_DIR).collect()}
    assert got == want and want

    # synthetic insert/delete/substitute triple through the same plan
    df = spark.createDataFrame(
        [("abcd",), ("abd",), ("abxd",), ("zzzz",)], "s_name string"
    )
    import tempfile

    d = tempfile.mkdtemp(prefix="fuzzy_")
    df.write.mode("overwrite").parquet(f"{d}/supplier.parquet")
    got2 = {(r.name_a, r.name_b) for r in fuzzy_name_matches(spark, d).collect()}
    assert got2 == {("abcd", "abd"), ("abcd", "abxd"), ("abd", "abxd")}


def test_dedup_clusters_cover_all_paired_docs(spark):
    from mapreduce_simple_go_spark.operators.dedup import (
        dedup_clusters,
        dedup_minhash_lsh,
    )

    pairs = dedup_minhash_lsh(spark, SF_DIR).collect()
    clustered = {r.doc_id: r.cluster_id for r in dedup_clusters(spark, SF_DIR).collect()}
    for p in pairs:
        assert p.doc_a in clustered and p.doc_b in clustered
        assert clustered[p.doc_a] == clustered[p.doc_b], (
            "paired docs must share a cluster"
        )
        assert clustered[p.doc_a] <= min(p.doc_a, p.doc_b)
