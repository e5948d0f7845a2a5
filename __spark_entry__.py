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
# in registry order. This round: the eleven exact-quantile queries
# that now read their totals from the prefix scan and pick their
# ranks in one conditional-min aggregate (x76 and x199 through the
# shared rank helpers), then the rest of the round-11 verdicts
# (x84–x112, x153–x164) in registry order, then round-12 verdicts in
# registry order up to 50. The previous window (x63, the other
# grouped_cumsum callers, the round-10 rest and x73–x83) leaves it.
_CHECK_FIRST = [
    # exact-quantile queries on the shared rank lookup
    "x103_zorder_skipping", "x105_mad_outliers",
    "x106_range_partition_plan", "x108_winsorized_stats",
    "x143_ship_latency_quantiles", "x158_ks_two_sample",
    "x160_weighted_quantiles", "x163_lorenz_deciles",
    "x183_percentile_cont", "x199_fd_histogram", "x76_quality_gate_corpus",
    # last verdict in round 11, registry order
    "x84_split_leakage", "x85_skew_report", "x86_join_order_plan",
    "x87_table_profile", "x88_kmv_incremental", "x89_retention_cohorts",
    "x90_cbo_estimates", "x91_profile_approx_certified", "x92_ivfpq_topk",
    "x93_approx_quantile_certified", "x94_adaptive_salted_join",
    "x95_adaptive_lsh", "x96_ivfpq_residual_topk",
    "x97_python_datasource", "x98_polymorphic_udtf",
    "x99_ewma_user_value", "x100_cms_incremental", "x101_scd2_build",
    "x102_point_in_time_join", "x104_weighted_sample_incremental",
    "x107_snapshot_audit", "x109_corpus_divergence",
    "x110_event_pattern_match", "x111_trend_slope", "x112_welch_ttest",
    "x153_mann_whitney_u", "x154_ref_integrity_audit", "x156_grouped_ols",
    "x157_mutual_information", "x159_market_basket", "x161_heaps_law",
    "x162_delete_feed_view", "x164_stats_pruned_scan",
    # last verdict in round 12, registry order
    "d01_scan_filter", "d02_like_strings", "d03_natural_sort", "d04_topk",
    "d05_distinct", "d10_inner_join",
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
