"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001; ``queries()`` exposes
every implemented operator from SURVEY.md §2 as (spark, sf_dir) -> DataFrame;
``oracle_sql()`` gives the DuckDB-equivalent SQL for the hash-matching gate.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from deepcell_data_engineering_spark.relational import QUERIES  # noqa: E402
from deepcell_data_engineering_spark.session import apply_engine_conf  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Flagship = the star-join aggregation (SURVEY §2b D11): customer ⋈
    nation ⋈ region with broadcast dims + grouped agg — the shape every
    100 TB star-schema query takes.
    """
    apply_engine_conf(spark)
    return QUERIES["d11_star_join_agg"].build(spark, "/root/testdata/sf0.001")


# The driver oracle-checks the first 50 registry entries per round.
# The window is rebuilt each round from the committed correctness
# verdicts (CORRECTNESS_r*.json): first the queries whose code changed since
# their last verdict, then the queries whose last verdict is oldest,
# in registry order. This round: the five queries that call
# merge_upsert or replace_where (their schema checks moved before the
# source pin), then the 28 queries last checked in round 9, then
# round-10 verdicts in registry order up to 50. Round 14 checked
# d35–d49, x02–x04 and x202–x233 (50/50 correct); they leave the window.
_CHECK_FIRST = [
    # merge_upsert / replace_where callers
    "x151_merge_feed_view", "x167_schema_evolution_merge",
    "x185_lifecycle_clone_restore", "x196_tombstone_merge_feed",
    "x218_replace_where_lifecycle",
    # last verdict in round 9
    "x05_minhash_signatures", "x06_minhash_lsh_pairs", "x07_ngram_jaccard",
    "x08_simhash", "x09_cosine_topk", "x10_embedding_neardup",
    "x46_df_heavy_hitters", "x47_bigram_pmi", "x48_inverted_index",
    "x49_source_overlap", "x50_ann_recall", "x51_cluster_representatives",
    "x52_mixture_plan", "x53_incremental_lsh", "x54_stream_screen",
    "x55_variant_extract", "x56_dup_ngram_coverage",
    "x140_session_stats", "x141_psi_drift", "x142_time_weighted_avg",
    "x143_ship_latency_quantiles", "x144_failure_rate_ci",
    "x145_cdc_incremental_view", "x146_skyline_frontier",
    "x147_gini_concentration", "x148_proration_hamilton",
    "x149_fuzzy_vocab_pairs", "x150_benford_digits",
    # last verdict in round 10, registry order
    "x11_srp_lsh_topk", "x12_crop_grid", "x13_overlap_vote",
    "x14_ivf_topk", "x15_json_extract", "x16_asof_join", "x17_sessionize",
    "x19_kmeans_centroids", "x18_winnow_fingerprint", "x20_interval_join",
    "x21_dup_clusters", "x22_tfidf_topk", "x23_pattern_scrub",
    "x24_stratified_sample", "x25_vocab_topk", "x26_bm25",
    "x27_corpus_build",
]


def _ordered_names() -> list[str]:
    rest = [n for n in QUERIES if n not in set(_CHECK_FIRST)]
    return _CHECK_FIRST + rest


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: QUERIES[name].build for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL for each hash-checkable query."""
    return {
        name: QUERIES[name].oracle
        for name in _ordered_names()
        if QUERIES[name].oracle is not None
    }
