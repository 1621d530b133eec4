"""Relational query surface — the driver-checkable operator registry.

Each entry maps a SURVEY.md §2 operator (or a training-data pipeline
operation) to an idiomatic-Spark implementation plus an ANSI-SQL oracle
that DuckDB runs on the same parquet tables. The registry feeds
``__spark_entry__.queries()`` / ``oracle_sql()``.

Registry shape: ``name -> (fn(spark, sf_dir) -> DataFrame, oracle_sql | None)``.
``None`` oracle ⇒ rows-only check (non-SQL-expressible op).
"""

from __future__ import annotations

from typing import Callable, Dict, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession

from . import (curation, dedup, extraction, mdvalidate, relational,
               search, simsearch, temporal, textstats, training, webcur,
               webgraph)

QueryFn = Callable[[SparkSession, str], DataFrame]

# Registry order IS the driver-visible order: the correctness driver checks
# the FIRST 50 registry entries only, so the order implements a rotation
# policy (VERDICT r04 #3):
#   1. queries with NO driver row in any prior round's CORRECTNESS record
#      (last round 0 below) come first — every new query earns an official
#      driver row the round it lands;
#   2. the remaining window slots go to the LEAST-RECENTLY-driver-verified
#      queries (ascending last-verified round, module order as the stable
#      tiebreak) — every query re-earns a driver row every ~3 rounds
#      instead of the overflow tail being frozen by module order.
# The overflow tail is additionally re-verified each round via
# ``tools/check_oracles.py``. The dict maps each query to the LAST round
# whose CORRECTNESS_r0N.json carried its row (maintained by hand from the
# driver records; r01 names re-verified later keep the later round).
_LAST_DRIVER_ROUND: Dict[str, int] = {
    # last driver row in round 3
    **dict.fromkeys((
        "anchor_texts", "ann_bruteforce_numpy", "bigram_logprob",
        "bm25_topk", "boilerplate_strip", "bpe_encode", "bpe_merges",
        "dedup_clusters", "dedup_clusters_converged", "dedup_exact",
        "dedup_minhash_lsh", "frontier_priority", "gopher_quality_filter",
        "host_degrees", "host_hits", "host_pagerank", "host_sample_weights",
        "kmeans_assign", "minhash_signatures", "ngram_repetition",
        "outlinks", "pack_sequences", "pii_scrub", "semantic_dedup",
        "simhash_signatures", "sitemap_discovery",
        "temperature_sample"), 3),
    # last driver row in round 4
    **dict.fromkeys((
        "ann_quantized_topk", "badwords_filter", "bpe_merges_batched",
        "chunk_windows", "conversion_attribution", "conversion_funnel",
        "corpus_datacard", "crawl_budget", "crawl_deltas",
        "dedup_incremental", "dedup_pipeline", "dedup_sentences",
        "domain_cap", "dsir_weights", "duplicate_spans",
        "embedding_quantize", "error_report", "eval_holdout",
        "events_anomalies", "extract_docs_stats", "fetch_schedule",
        "fixed_docs", "host_reputation", "host_triangles",
        "lsh_recall_audit", "markdown_errors", "md_error_counts",
        "md_errors_kernel", "md_sections", "mojibake_fix",
        "multimodal_decode", "multimodal_features", "multimodal_frames",
        "nb_quality_score", "orders_above_customer_avg", "pack_manifest",
        "pmi_collocations", "quality_confusion", "robots_filter",
        "select_to_budget", "span_scrub", "span_scrub_star",
        "span_scrub_text", "split_divergence", "tfidf_keyterms",
        "url_canonicalize", "validation_counts", "validation_report",
        "web_pipeline"), 4),
    # last driver row in round 5
    **dict.fromkeys((
        "ann_bruteforce_topk", "ann_ivf_topk", "ann_lsh_topk",
        "benchmark_contamination", "curation_pipeline",
        "dedup_embedding_cosine", "dedup_ngram_jaccard", "dedup_simhash",
        "dict_union", "doc_fingerprint", "doc_winnow", "doc_word_stats",
        "events_asof_join", "events_hourly", "events_props_json",
        "events_range_join", "events_rolling_hour", "events_sessionize",
        "extract_stats_counts", "fuzzy_prefix_candidates", "hash_split",
        "label_centroid_sim", "lang_id", "lang_id_ngram", "ligature_fix",
        "lsh_buckets", "market_revenue", "order_priority",
        "orders_fully_discounted", "orders_with_returns", "pattern_profile",
        "pricing_summary", "quality_score", "repeated_first_words",
        "revenue_rollup", "salted_type_counts", "sentence_merge_flags",
        "shard_export", "simhash_bands", "source_doc_stats",
        "status_priority_cube", "systematic_sample", "text_metrics",
        "token_count", "top_orders_per_customer", "topk_events_per_type",
        "url_blocklist", "value_percentiles", "word_anti_join",
        "word_semi_join"), 5),
}
_MODULES = (extraction, mdvalidate, webcur, webgraph, search, curation,
            training, dedup, simsearch, textstats, temporal, relational)
_ordered = []
# Queries whose IMPLEMENTATION changed this round rank as if never
# driver-verified: a rewrite must re-earn its official hash-green row
# the round it ships, not ride a stale verification of the old code.
# (Maintained by hand alongside _LAST_DRIVER_ROUND; empty since the
# round-5 window was folded in.)
_CHANGED_THIS_ROUND = frozenset()

for mod in _MODULES:
    for _name, _entry in mod.QUERIES.items():
        if any(_name == n for n, _e in _ordered):
            raise ValueError(f"duplicate query name: {_name}")
        _ordered.append((_name, _entry))
_ordered.sort(key=lambda ne: (0 if ne[0] in _CHANGED_THIS_ROUND
                              else _LAST_DRIVER_ROUND.get(ne[0], 0)))
REGISTRY: Dict[str, Tuple[QueryFn, Optional[str]]] = dict(_ordered)


def queries() -> Dict[str, QueryFn]:
    return {name: fn for name, (fn, _sql) in REGISTRY.items()}


def oracle_sql() -> Dict[str, str]:
    return {name: sql for name, (_fn, sql) in REGISTRY.items()
            if sql is not None}
