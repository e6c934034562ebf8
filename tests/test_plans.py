"""Plan-property tests: the invariants that keep these queries fast at scale.

A correct result with a bad plan is a failure mode correctness tests can't
see — a scan that reads every column, a filter evaluated post-shuffle, a
dimension join that shuffles the fact table. These tests pin the plan
properties the 100 TB story depends on.
"""

from __future__ import annotations

import re

from mapreduce_simple_go_spark.operators.relational import (
    q1_pricing_summary,
    q3_shipping_priority,
    q6_forecast_revenue,
)
from mapreduce_simple_go_spark.operators.text import word_count
from mapreduce_simple_go_spark.plans import (
    count_operator,
    formatted_plan,
    has_partial_aggregation,
    pushed_filters,
    scan_read_schemas,
)

from .conftest import SF_DIR


def test_q6_filters_reach_parquet_scan(spark):
    df = q6_forecast_revenue(spark, SF_DIR)
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed


def test_q1_scan_prunes_columns(spark):
    df = q1_pricing_summary(spark, SF_DIR)
    schemas = scan_read_schemas(df)
    assert schemas, "no parquet scan found"
    li_schema = schemas[0]
    # 7 needed columns, and specifically none of the unused ones
    assert "l_orderkey" not in li_schema and "l_partkey" not in li_schema
    assert "l_returnflag" in li_schema and "l_extendedprice" in li_schema


def test_q1_has_map_side_partial_aggregation(spark):
    assert has_partial_aggregation(q1_pricing_summary(spark, SF_DIR))


def test_wc_has_map_side_partial_aggregation(spark):
    # the reference ships one row per word occurrence through its shuffle
    # (no combiner, worker.go:92-94); our plan must not
    assert has_partial_aggregation(word_count(spark, SF_DIR))


def test_q3_broadcasts_dimension_join(spark):
    df = q3_shipping_priority(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    # the fact-fact join may be shuffle-based; the customer join must not
    # force a third shuffle of lineitem
    assert plan.count("Exchange") <= 6


def test_word_count_single_shuffle(spark):
    df = word_count(spark, SF_DIR)
    # one Exchange: the final aggregation; tokenize+partial agg are map-side
    assert count_operator(df, "Exchange") == 1


def test_inverted_index_single_shuffle(spark):
    from mapreduce_simple_go_spark.operators.text import inverted_index

    # collect_set dedups in the partial aggregate: one Exchange total
    assert count_operator(inverted_index(spark, SF_DIR), "Exchange") == 1


def test_q7_dimensions_broadcast_one_fact_shuffle_join(spark):
    """q7's only shuffle join may be lineitem ⋈ orders; supplier, customer,
    and both nation aliases must broadcast."""
    from mapreduce_simple_go_spark.operators.relational import q7_volume_shipping

    plan = formatted_plan(q7_volume_shipping(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 4
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1


def test_q10_aggregates_before_dimension_join(spark):
    """The revenue aggregation must run BEFORE the customer/nation joins —
    only per-customer rows carry through the enrichment."""
    from mapreduce_simple_go_spark.operators.relational import q10_returned_items

    plan = formatted_plan(q10_returned_items(spark, SF_DIR))
    agg_pos = plan.find("HashAggregate")
    bhj_pos = plan.find("BroadcastHashJoin")
    assert agg_pos != -1 and bhj_pos != -1
    # formatted plans print top-down: the broadcast join consumes the
    # aggregate, so the aggregate appears BELOW (after) it in the text
    assert bhj_pos < agg_pos


def test_ngram_counts_uses_take_ordered(spark):
    from mapreduce_simple_go_spark.operators.textstats import ngram_counts

    plan = formatted_plan(ngram_counts(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_pmi_uses_take_ordered_not_global_window_sort(spark):
    from mapreduce_simple_go_spark.operators.textstats import word_cooccurrence_pmi

    plan = formatted_plan(word_cooccurrence_pmi(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_stratified_sample_is_scan_side_zero_shuffle(spark):
    from mapreduce_simple_go_spark.operators.sampling import stratified_sample

    assert count_operator(stratified_sample(spark, SF_DIR), "Exchange") == 0


def test_sessionization_single_shuffle_reuses_window_sort(spark):
    """The docstring's scale claim, pinned: gaps-and-islands sessionization
    costs ONE Exchange (the user_id hash partitioning) and ONE Sort — the
    lag window, the running-sum window, and the final (user_id, session_no)
    aggregation all ride the same partitioning."""
    from mapreduce_simple_go_spark.operators.events import sessionization

    df = sessionization(spark, SF_DIR)
    assert count_operator(df, "Exchange") == 1
    plan = formatted_plan(df)
    assert plan.count("+- Sort") + plan.count("   Sort") <= 1 or (
        count_operator(df, "Sort") == 1
    )


def test_ngram_jaccard_pair_join_input_is_df_capped(spark):
    """Candidate generation must consume the df-ceiling-capped shingle
    set: the ceiling filter appears in the inner (pre-checkpoint) plan —
    the returned frame scans the materialized byshingle lists, so the cap
    is pinned on the lazy helper (r14) — and no cartesian/NLJ shape exists
    in either plan."""
    import mapreduce_simple_go_spark.operators.dedup as D

    inner = formatted_plan(
        D._ngram_capped_byshingle(spark, SF_DIR, D.NGRAM_DF_CEILING)[0]
    )
    assert f"<= {D.NGRAM_DF_CEILING}" in inner, "df ceiling missing from plan"
    assert "BroadcastNestedLoopJoin" not in inner
    assert "CartesianProduct" not in inner
    outer = formatted_plan(D.dedup_ngram_jaccard(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in outer
    assert "CartesianProduct" not in outer
    spark.catalog.clearCache()


def test_ngram_jaccard_join_strategy_gate(spark, monkeypatch):
    """The rare-shingle join strategy follows the measured size gate: a
    small corpus (driver SFs, under the byte threshold) broadcasts the
    rare set — no SortMergeJoin in the inner plan; a large corpus
    (threshold forced to 0) pins the merge hint — SMJ present, whose
    shingle partitioning the byshingle aggregation reuses (r14: pinned on
    the lazy pre-checkpoint helper, since the registry function now
    returns a scan of the materialized lists)."""
    import mapreduce_simple_go_spark.operators.dedup as D

    small = formatted_plan(
        D._ngram_capped_byshingle(spark, SF_DIR, D.NGRAM_DF_CEILING)[0]
    )
    assert "SortMergeJoin" not in small
    assert "BroadcastHashJoin" in small

    monkeypatch.setattr(D, "NGRAM_BROADCAST_MAX_DOC_BYTES", 0)
    large = formatted_plan(
        D._ngram_capped_byshingle(spark, SF_DIR, D.NGRAM_DF_CEILING)[0]
    )
    assert "SortMergeJoin" in large
    spark.catalog.clearCache()


def test_ngram_jaccard_enumerates_pairs_from_materialized_lists(spark):
    """r14 rewrite pins: (a) the returned frame reads the ONE materialized
    byshingle relation (ExistingRDD scan — both the sizes branch and the
    pair branch hang off it, so the rare agg + capped join run once per
    query, not twice); (b) candidate pairs come from Generate
    (posexplode/explode) enumeration, not a shingle self-join; (c) the
    raw shingle cache is unpersisted before the function returns — no
    session-lifetime cache leak."""
    import mapreduce_simple_go_spark.operators.dedup as D

    spark.catalog.clearCache()
    df = D.dedup_ngram_jaccard(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "Scan ExistingRDD" in plan
    assert count_operator(df, "Generate") >= 2
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty(), "dedup_ngram_jaccard left a cached relation behind"


def test_minhash_lsh_one_agg_one_selfjoin(spark):
    """MinHash-LSH must stay shuffle-lean: the signature aggregation and
    the band self-join — no re-join of signatures onto candidates (the
    long-format formulation cost 2 extra Exchanges)."""
    from mapreduce_simple_go_spark.operators.dedup import dedup_minhash_lsh

    df = dedup_minhash_lsh(spark, SF_DIR)
    assert count_operator(df, "Exchange") <= 3


def test_q21_top20_uses_take_ordered_no_nlj(spark):
    """The exists/not-exists rewrite must stay equi-join-only (no nested
    loop from the correlated shape) and take its top-20 distributed."""
    from mapreduce_simple_go_spark.operators.relational import q21_waiting_suppliers

    plan = formatted_plan(q21_waiting_suppliers(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q19_factors_equi_join_from_disjunction(spark):
    """The OR-of-ANDs predicate must not force a nested-loop join — the
    common l_partkey condition factors into a broadcast hash join."""
    from mapreduce_simple_go_spark.operators.relational import q19_bracket_revenue

    plan = formatted_plan(q19_bracket_revenue(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q2_all_dimension_joins_broadcast(spark):
    """q2's four joins (part, supplier, nation, region) must all broadcast;
    the only shuffles are the pair aggregation and the per-part window."""
    from mapreduce_simple_go_spark.operators.relational import q2_min_cost_supplier

    plan = formatted_plan(q2_min_cost_supplier(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_q9_single_fact_shuffle(spark):
    """q9 joins four dimensions broadcast-side; at most the lineitem ⋈
    orders join shuffles, and the (nation, year) aggregation is partial."""
    from mapreduce_simple_go_spark.operators.relational import q9_product_type_profit

    df = q9_product_type_profit(spark, SF_DIR)
    plan = formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 3
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1
    assert has_partial_aggregation(df)


def test_q11_total_is_broadcast_single_row(spark):
    """q11's fraction-of-total HAVING must not recompute the per-part
    aggregate: r12 replaced the 1-row broadcast cross join (which ran the
    lineitem join+agg twice — AQE never deduped the exchanges) with a
    materialized per_part + driver-scalar total, so the returned plan
    reads the materialized intermediate and carries the threshold as a
    LITERAL — zero lineitem rescans, no join of the aggregate against
    itself. r13: the materialization moved from a
    session-lifetime .cache() (leaked one InMemoryRelation per call) to
    localCheckpoint, so the pin is now the checkpoint's RDD scan."""
    from mapreduce_simple_go_spark.operators.relational import q11_important_stock

    df = q11_important_stock(spark, SF_DIR)
    plan = formatted_plan(df)
    # per_part enters as the localCheckpoint's materialized RDD, not a
    # recomputed lineitem subtree (and not a leaked InMemoryRelation)
    assert "ExistingRDD" in plan
    assert "InMemoryTableScan" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the final job must not rescan lineitem (the checkpointed per_part is
    # its only lineitem-derived input; `part` is the one remaining file scan)
    import re

    scans = re.findall(r"Scan parquet[^\n]*", plan)
    assert scans and all("lineitem" not in s for s in scans), scans


def test_q16_not_in_is_broadcast_anti_join(spark):
    """q16's complaint-supplier NOT IN must compile to a broadcast
    anti-join on the lineitem side, not a shuffled subquery."""
    from mapreduce_simple_go_spark.operators.relational import q16_supplier_part_count

    plan = formatted_plan(q16_supplier_part_count(spark, SF_DIR))
    assert "LeftAnti, BuildRight" in plan or (
        "BroadcastHashJoin" in plan and "LeftAnti" in plan
    )
    assert "SortMergeJoin" not in plan


def test_q20_semi_join_broadcasts_qualifying_keys(spark):
    """q20's supplier semi-join must broadcast the (small) qualifying-key
    set; no sort-merge join anywhere in the plan."""
    from mapreduce_simple_go_spark.operators.relational import q20_part_promotion

    plan = formatted_plan(q20_part_promotion(spark, SF_DIR))
    assert "LeftSemi" in plan and "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_decontaminate_probe_is_broadcast_semi_join(spark):
    """The benchmark shingle set must broadcast; the training side is
    probed map-side — no shuffle of train shingles for the membership
    test, no sort-merge join anywhere."""
    from mapreduce_simple_go_spark.operators.dedup import decontaminate_overlap

    plan = formatted_plan(decontaminate_overlap(spark, SF_DIR))
    assert "LeftSemi" in plan and "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pack_sequences_windows_are_bucketed(spark):
    """The per-doc prefix-sum window must partition by (source, bucket),
    never by source alone — one giant per-source window is the
    single-partition trap at scale. The source-only window may exist only
    at the bucket level (n_docs/PACK_BUCKET rows)."""
    from mapreduce_simple_go_spark.operators.sampling import pack_sequences

    plan = formatted_plan(pack_sequences(spark, SF_DIR))
    # the doc-level cumsum: partition spec lists bucket alongside source
    assert "Window" in plan
    doc_win = [
        ln for ln in plan.splitlines() if "windowspecdefinition" in ln and "n_tokens" in ln
    ]
    assert any("bucket" in ln for ln in doc_win), doc_win


def test_kmeans_assign_broadcasts_centroids_no_cartesian(spark):
    """Each k-means iteration must broadcast the centroid side — since
    r14 as ONE row holding array<struct<cid, cq>>, with the per-vector
    argmin computed row-local via array_min — and never shuffle the base
    table for the assignment; the only shuffle left is the
    centroid-update (cid, dim) aggregation. A Window or per-vector
    Exchange appearing here means the K·n pair-row explosion came back."""
    from mapreduce_simple_go_spark.operators.similarity import kmeans_clusters

    df = kmeans_clusters(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "BroadcastExchange" in plan
    # assignment cross joins are broadcast, not shuffled cartesian products
    assert "CartesianProduct" not in plan
    # the centroid update aggregates map-side before its (cid, pos) shuffle
    assert has_partial_aggregation(df)
    # r14 pin: no per-vector argmin window — the only Window left is the
    # seed's K-row ranking; a hashpartition on vec_id means the K·n
    # pair-row explosion came back
    assert count_operator(df, "Window") == 1
    assert "hashpartitioning(vec_id" not in plan


def test_pii_scrub_is_map_only_zero_shuffle(spark):
    """Redaction must pipeline with the scan: no Exchange anywhere."""
    from mapreduce_simple_go_spark.operators.textstats import pii_scrub

    df = pii_scrub(spark, SF_DIR)
    assert count_operator(df, "Exchange") == 0
    # the whole pass runs inside one codegen stage
    assert "codegen id : 1" in formatted_plan(df)


def test_embedding_quantize_is_map_only_zero_shuffle(spark):
    """Quantization audit is per-row array math — no Exchange."""
    from mapreduce_simple_go_spark.operators.similarity import (
        embedding_quantize_error,
    )

    assert count_operator(embedding_quantize_error(spark, SF_DIR), "Exchange") == 0


def test_length_bucket_batches_single_shuffle(spark):
    """Batch construction sorts once inside the bucket partitioning: one
    Exchange (hashpartitioning on bucket) feeds both windows."""
    from mapreduce_simple_go_spark.operators.sampling import length_bucket_batches

    df = length_bucket_batches(spark, SF_DIR)
    assert count_operator(df, "Exchange") == 1


def test_pagerank_iteration_joins_have_partial_aggregation(spark):
    """Each PageRank iteration's dst-sum must partial-aggregate before its
    shuffle (contribution combine happens map-side)."""
    from mapreduce_simple_go_spark.operators.textstats import word_pagerank

    df = word_pagerank(spark, SF_DIR)
    assert has_partial_aggregation(df)
    assert "CartesianProduct" not in formatted_plan(df)


def test_pagerank_and_simhash_leave_no_cached_relation(spark):
    """r14 cache-hygiene pins: the reused intermediates
    (pagerank's ew/nodes, simhash's signature set) materialize via
    localCheckpoint / are unpersisted before return — a registry call must
    not leave a session-lifetime InMemoryRelation behind."""
    from mapreduce_simple_go_spark.operators.dedup import dedup_simhash
    from mapreduce_simple_go_spark.operators.textstats import word_pagerank

    spark.catalog.clearCache()
    word_pagerank(spark, SF_DIR).collect()
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty(), "word_pagerank left a cached relation behind"
    dedup_simhash(spark, SF_DIR).collect()
    assert cm.isEmpty(), "dedup_simhash left a cached relation behind"


def test_doc_fingerprint_zero_shuffle_single_scan(spark):
    """r14 rewrite pin: every doc_fingerprint output is a per-document
    property, so the plan must contain NO Exchange and exactly one
    documents scan (the old explode+groupBy+join form paid an Exchange
    and scanned the corpus twice)."""
    from mapreduce_simple_go_spark.operators.textstats import doc_fingerprint

    df = doc_fingerprint(spark, SF_DIR)
    assert count_operator(df, "Exchange") == 0
    # count scans in the numbered operator tree only (the formatted
    # details section repeats each scan's header once)
    tree = formatted_plan(df).split("\n\n", 1)[0]
    assert tree.count("Scan parquet") == 1


def test_inverted_index_capped_bounded_state_two_shuffles(spark):
    """The capped index's scale contract: per-group aggregation state is
    bounded by the cap (rank-conditional collect_list, not an unbounded
    collect_set), and the bound costs no third shuffle — one Exchange for
    the (word, doc) dedup, one for the word window; the final groupBy rides
    the window's partitioning."""
    from mapreduce_simple_go_spark.operators.text import inverted_index_capped

    df = inverted_index_capped(spark, SF_DIR, k=3)
    assert count_operator(df, "Exchange") == 2
    assert count_operator(df, "Window") == 1
    rows = df.collect()
    assert all(r.n_kept <= 3 for r in rows)
    # true document frequency survives the cap, and the cap actually bites
    assert any(r.truncated and r.n_docs > 3 for r in rows)
    capped = {r.word: r for r in rows}
    from mapreduce_simple_go_spark.operators.text import inverted_index

    for r in inverted_index(spark, SF_DIR).collect():
        c = capped[r.word]
        assert c.n_docs == r.n_docs
        # capped postings are a prefix of the full sorted posting list
        full = r.docs.split(",")
        assert c.docs_capped.split(",")[: c.n_kept] == full[: c.n_kept]


def test_per_file_metrics_chunked_bounded_rows_single_shuffle(spark):
    """Chunked concat: every output row holds <= chunk values (bounded
    string), chunks concatenated in order reproduce the unbounded merged
    string exactly, and the chunking adds no second shuffle — the groupBy
    (key, chunk_no) is satisfied by the window's HashPartitioning(key)."""
    from mapreduce_simple_go_spark.operators.text import (
        per_file_metrics,
        per_file_metrics_chunked,
    )

    chunk = 16
    df = per_file_metrics_chunked(spark, SF_DIR, chunk=chunk)
    assert count_operator(df, "Exchange") == 1
    rows = df.collect()
    assert all(r.n_values <= chunk for r in rows)
    assert any(r.chunk_no > 0 for r in rows)  # chunking actually engaged
    rebuilt = {}
    for r in sorted(rows, key=lambda r: (r.key, r.chunk_no)):
        rebuilt[r.key] = (rebuilt.get(r.key, "") + " " + r.merged).strip()
    want = {r.key: r.merged for r in per_file_metrics(spark, SF_DIR).collect()}
    assert rebuilt == want


def test_cms_bucket_table_broadcasts(spark):
    """The count-min bucket table is <= d*w rows by construction — the
    estimate join must broadcast it, never shuffle the token-count side a
    second time."""
    from mapreduce_simple_go_spark.operators.textstats import heavy_hitters_cms

    plan = formatted_plan(heavy_hitters_cms(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan  # top-k, never a global sort


def test_bigram_lm_join_is_count_sided_take_ordered(spark):
    """Both join inputs are partial-aggregated count tables (never the raw
    token stream), and top-k is TakeOrderedAndProject."""
    from mapreduce_simple_go_spark.operators.textstats import bigram_lm

    df = bigram_lm(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert has_partial_aggregation(df)


def test_scd2_single_exchange_shared_sort(spark):
    """lead() and row_number() share one (user_id, ts, event_id) sort:
    exactly one Exchange, exactly one Sort."""
    from mapreduce_simple_go_spark.operators.events import scd2_user_state

    df = scd2_user_state(spark, SF_DIR)
    assert count_operator(df, "Exchange") == 1
    assert count_operator(df, "Sort") == 1


def test_bloom_probe_is_broadcast_no_shingle_shuffle(spark):
    """The set-bit table broadcasts (bounded by BLOOM_M, not the eval
    corpus) and every membership probe is a broadcast HASH join — an O(1)
    lookup per shingle. A one-row array + array_contains linear-scans all
    m positions per probe (measured 20x slower at sf0.1) and would show as
    BroadcastNestedLoopJoin here."""
    from mapreduce_simple_go_spark.operators.dedup import bloom_decontaminate

    plan = formatted_plan(bloom_decontaminate(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan


def test_word_triangles_no_cartesian_partial_agg(spark):
    """Degree-oriented wedge join: every join is an equi-join (no
    cartesian/NLJ), and the corner rollup partial-aggregates."""
    from mapreduce_simple_go_spark.operators.textstats import word_triangles

    df = word_triangles(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan
    assert has_partial_aggregation(df)


def test_join_key_skew_broadcast_stats_take_ordered(spark):
    """The one-row stats side broadcasts onto the top-k; the per-key count
    is the only real shuffle; top-k is TakeOrderedAndProject."""
    from mapreduce_simple_go_spark.operators.relational import join_key_skew

    df = join_key_skew(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert has_partial_aggregation(df)


def test_global_rank_single_partition_only_for_bucket_offsets(spark):
    """The two-level global rank must funnel ONLY the per-bucket count
    table (n_buckets rows) through a single partition — never the orders
    table itself. Exactly one SinglePartition exchange, two windows (the
    tiny offset prefix-sum + the bucket-partitioned local rank)."""
    from mapreduce_simple_go_spark.operators.relational import global_rank_orders

    df = global_rank_orders(spark, SF_DIR)
    plan = formatted_plan(df)
    assert plan.count("SinglePartition") == 1
    assert count_operator(df, "Window") == 2
    assert has_partial_aggregation(df)  # the bucket counts combine map-side


def test_weighted_sample_is_take_ordered_no_global_sort(spark):
    """A-Res weighted sampling = top-k by the hash-derived key: must plan
    as TakeOrderedAndProject (mergeable per-partition heaps), never a
    global sort, and never a single-partition window."""
    from mapreduce_simple_go_spark.operators.sampling import weighted_sample_docs

    df = weighted_sample_docs(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "SinglePartition" not in plan


def test_pareto_skyline_window_only_over_per_date_aggregate(spark):
    """The skyline's unpartitioned running-max window must consume the
    per-date AGGREGATE (bounded by date cardinality), never the orders
    scan; the threshold table joins back by broadcast, and the per-date
    collapse combines map-side."""
    from mapreduce_simple_go_spark.operators.relational import pareto_orders

    df = pareto_orders(spark, SF_DIR)
    plan = formatted_plan(df)
    assert plan.count("SinglePartition") == 1
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    assert has_partial_aggregation(df)


def test_data_profile_single_scan_single_aggregation(spark):
    """The N-column profile must be ONE pass: one parquet scan feeding one
    Expand + one aggregation — not one scan per column (the naive UNION
    formulation the oracle uses)."""
    from mapreduce_simple_go_spark.operators.relational import data_profile_orders

    df = data_profile_orders(spark, SF_DIR)
    assert len(scan_read_schemas(df)) == 1
    assert "Expand" in formatted_plan(df)


def test_domain_mix_totals_ride_broadcast(spark):
    """Corpus-wide totals must reach the per-source rows via a broadcast
    of the single-row aggregate — no shuffle join, no second tokenize scan
    shuffled on a global key."""
    from mapreduce_simple_go_spark.operators.sampling import domain_mix_weights

    df = domain_mix_weights(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert has_partial_aggregation(df)


def test_line_dedup_rewrite_keeper_election_shuffles_digests(spark):
    """No single-partition exchange anywhere in the rewrite — both
    shuffles (md5-keyed keeper election, doc_id reassembly) are keyed —
    and the election runs as exactly one window pass. The plan text is
    also required to show the md5 election key (the destructive-delete
    collision-safety contract; see dedup.py docstring)."""
    from mapreduce_simple_go_spark.operators.dedup import line_dedup_rewrite

    df = line_dedup_rewrite(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "SinglePartition" not in plan
    assert count_operator(df, "Window") == 1
    assert "md5(cast(span" in plan  # full-width election key, not hash48


def test_anomaly_zscore_stats_broadcast_back(spark):
    """The 5-row moment table must broadcast onto the fact rows — the
    events scan joins without shuffling."""
    from mapreduce_simple_go_spark.operators.events import anomaly_zscore

    df = anomaly_zscore(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_ewma_single_user_shuffle_no_single_partition(spark):
    """EWMA is one window pass partitioned on user_id: exactly one
    exchange over the events scan, never a global sort."""
    from mapreduce_simple_go_spark.operators.events import ewma_user_value

    df = ewma_user_value(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "SinglePartition" not in plan
    assert count_operator(df, "Window") == 1


def test_session_window_native_one_shuffle_partial_merge(spark):
    """Native sessionization must partial-aggregate BEFORE its one
    exchange (MergingSessions finalizes after), and the scan must prune to
    the three needed columns."""
    from mapreduce_simple_go_spark.operators.events import session_window_native

    df = session_window_native(spark, SF_DIR)
    assert "MergingSessions" in formatted_plan(df)
    assert count_operator(df, "Exchange") == 1
    assert has_partial_aggregation(df)
    schemas = scan_read_schemas(df)
    assert schemas and "event_type" not in schemas[0] and "props" not in schemas[0]


def test_ann_blocked_topk_plan_shape(spark):
    """The r10 blocked-scan exact top-k must keep its scale shape: ONE
    MapInPandas pass over the base (candidate generation against the
    broadcast query matrix — no join, no pair materialization) and ONE
    Exchange (the per-query window re-rank over the tiny candidate set).
    A join or second Exchange appearing here means the pair stream came
    back."""
    from mapreduce_simple_go_spark.operators.similarity import ann_cosine_topk

    df = ann_cosine_topk(spark, SF_DIR)
    assert count_operator(df, "MapInPandas") == 1
    assert count_operator(df, "Exchange") == 1
    assert count_operator(df, "BroadcastHashJoin") == 0
    assert count_operator(df, "SortMergeJoin") == 0
    assert count_operator(df, "CartesianProduct") == 0
    assert count_operator(df, "BroadcastNestedLoopJoin") == 0


def test_curation_dedup_is_windowless_and_text_never_shuffles(spark):
    """r14 rewrite pin: the exact-dedup retention (min doc_id per
    md5(text) digest) must run as a partially-aggregated min_by — no
    Window node anywhere in curation_pipeline or training_corpus_pipeline
    — and the dedup Exchange must carry only the digest + aggregation
    buffer, never the document text (shuffle fewer bytes: the old window
    form shuffled the full corpus body just to pick a survivor)."""
    from mapreduce_simple_go_spark.operators.sampling import (
        curation_pipeline,
        training_corpus_pipeline,
    )

    for fn in (curation_pipeline, training_corpus_pipeline):
        df = fn(spark, SF_DIR)
        assert count_operator(df, "Window") == 0
        plan = formatted_plan(df)
        # every Exchange's Input row must be text-free (text exists only
        # below the map-side digest/tokenize projections); the matched
        # block count pins that the loop saw every Exchange, not none
        exchanges = [
            block
            for block in plan.split("\n\n")
            if re.match(r"\(\d+\) Exchange\s*$", block.split("\n", 1)[0])
        ]
        assert len(exchanges) == count_operator(df, "Exchange") > 0
        for block in exchanges:
            assert "text#" not in block, block
