"""Operator registry: every module contributes QUERIES (name -> callable
taking (spark, sf_dir) and returning a DataFrame) and ORACLES (name -> DuckDB
SQL string with identical semantics and column names).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def _modules():
    # Imported here, not at module level: together they pull in pandas and
    # pyarrow, which a caller of one operator module -- a Python worker
    # unpickling ``mapreduce.wc_map`` -- must not pay. Strict imports: a
    # broken module must fail loudly here, not silently drop its queries
    # from the registry the driver's gate checks.
    #
    # Order matters: it is the registry's iteration order, which the driver
    # contract fixes (tests/test_oracle_parity.py pins it).
    from . import (
        dedup,
        events,
        kv,
        multimodal,
        relational,
        sampling,
        similarity,
        text,
        textstats,
    )

    return [events, multimodal, sampling, textstats, text, kv, dedup, similarity, relational]


# Names hoisted to the front of the registry, then _WINDOW_OVERFLOW, then
# the module order above. The lists are frozen: registry order is the
# driver contract, so neither may be reordered or edited.
_WINDOW_PRIORITY = [
    "ann_cosine_topk",
    "bm25_scores",
    "chunk_dedup",
    "curation_pipeline",
    "decontaminate_overlap",
    "dedup_incremental",
    "dedup_minhash_incremental",
    "dedup_simhash",
    "doc_fingerprint",
    "doc_split_assign",
    "embedding_quantize_error",
    "fuzzy_name_matches",
    "inverted_index_positional",
    "jsonl_roundtrip",
    "kmeans_clusters",
    "label_centroids",
    "lang_id",
    "length_bucket_batches",
    "multimodal_dedup",
    "multimodal_features",
    "multimodal_frame_features",
    "multimodal_resize",
    "ngram_counts",
    "orc_roundtrip",
    "order_price_histogram",
    "pack_sequences",
    "pii_scrub",
    "q12_ship_delay_priority",
    "q13_customer_order_distribution",
    "q15_top_supplier",
    "q16_supplier_part_count",
    "q20_part_promotion",
    "q21_waiting_suppliers",
    "q2_min_cost_supplier",
    "q8_market_share",
    "q9_product_type_profit",
    "quality_filter",
    "quality_model_score",
    "range_join_brackets",
    "repetition_filter",
    "sample_per_stratum",
    "stratified_sample",
    "supplier_balance_dist",
    "text_quality",
    "tfidf_top_terms",
    "token_stats",
    "word_cooccurrence_pmi",
    "word_pagerank",
    "ann_cosine_topk_fixedq",
    "ann_ivf_topk_fixedq",
]
assert len(_WINDOW_PRIORITY) <= 50, len(_WINDOW_PRIORITY)

_WINDOW_OVERFLOW: list[str] = [
    "ann_srp_topk_fixedq",
    "q11_important_stock",
    "stream_user_totals_tws",
]


def _prioritize(out: dict) -> dict:
    head = {k: out[k] for k in _WINDOW_PRIORITY if k in out}
    for k in _WINDOW_OVERFLOW:
        if k in out:
            head.setdefault(k, out[k])
    head.update(out)
    return head


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for m in _modules():
        out.update(getattr(m, "QUERIES", {}))
    return _prioritize(out)


def all_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for m in _modules():
        out.update(getattr(m, "ORACLES", {}))
    return _prioritize(out)
