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
# in registry order. This round: x63 and x199 (rewritten exact
# quantile legs) and the seven other grouped_cumsum callers (the range
# partition count now defaults to the cluster's parallelism), then
# the rest of the round-10 verdicts in registry order, then round-11
# verdicts in registry order up to 50. The previous window (the
# merge_upsert / replace_where callers, the round-9 verdicts and
# x11–x27) leaves it.
_CHECK_FIRST = [
    # rewritten quantile legs, then the other grouped_cumsum callers
    "x63_hist_quantiles", "x199_fd_histogram",
    "x103_zorder_skipping", "x106_range_partition_plan",
    "x160_weighted_quantiles", "x161_heaps_law", "x163_lorenz_deciles",
    "x168_spearman_rho", "x183_percentile_cont",
    # last verdict in round 10, registry order
    "x28_bpe_tokens", "x29_semantic_neardup", "x30_containment",
    "x31_corpus_report", "x32_repetition_signals", "x33_decontaminate",
    "x34_chunk_documents", "x35_pack_sequences", "x36_embedding_health",
    "x37_funnel", "x38_gapfill", "x39_salted_skew_join",
    "x57_sketch_topk", "x72_udtf_chunks", "x70_recursive_closure",
    "x71_lateral_topk", "x69_hll_rollup", "x68_bpe_train",
    "x67_triangle_hubs", "x66_similarity_join_exact", "x65_quality_gate",
    "x64_hll_set_algebra", "x62_cms_frequencies", "x60_zorder_key",
    "x61_weighted_sample", "x59_hll_distinct", "x58_bloom_pruned_join",
    "x74_fuzzy_name_join", "x133_record_linkage_fs", "x152_kendall_tau",
    "x155_anti_entropy_repair",
    # last verdict in round 11, registry order
    "x73_bpe_encode", "x77_simhash_neardup", "x75_sliding_distinct",
    "x76_quality_gate_corpus", "x78_kcore", "x79_join_size_estimate",
    "x80_pq_adc_topk", "x81_pq_recall", "x82_sql_udf",
    "x83_kmv_intersections",
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
