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
# in registry order. This round: the 21 snapshot-layer queries, whose
# every commit now goes through one publish step, and x139 (label
# propagation's joins pinned to sort-merge), then the rest of the
# round-12 verdicts (x170–x176, x178–x182), then the round-13 verdicts
# in registry order up to 50. The zero-row-guard queries
# (x87/x90/x91/x154/x197), d11–d25, x113–x131 and x169 leave it.
_CHECK_FIRST = [
    # snapshot-layer queries on the shared scaffold
    "x127_time_travel_audit", "x128_format_interop",
    "x132_optimize_equivalence", "x145_cdc_incremental_view",
    "x151_merge_feed_view", "x162_delete_feed_view",
    "x164_stats_pruned_scan", "x165_catalog_named_view",
    "x166_scoped_cdc_view", "x167_schema_evolution_merge",
    "x177_restore_feed_view", "x184_catalog_rename_view",
    "x185_lifecycle_clone_restore", "x196_tombstone_merge_feed",
    "x200_update_feed_view", "x201_constraint_gate",
    "x202_constraint_lifecycle", "x203_stream_rate_feed",
    "x217_vacuum_lifecycle", "x218_replace_where_lifecycle",
    "x230_zorder_lifecycle",
    # label propagation's joins pinned to sort-merge (build jobs stable)
    "x139_label_propagation",
    # rest of the round-12 verdicts
    "x170_effective_sample_size", "x171_simpson_diversity",
    "x172_ranking_eval", "x173_classifier_eval", "x174_shannon_entropy",
    "x175_js_divergence", "x176_association_summary", "x178_corr_matrix",
    "x179_pipe_rollup", "x180_cleaning_funnel", "x181_max_drawdown",
    "x182_trailing_range_frame",
    # round-13 verdicts, registry order
    "d26_intersect", "d27_except", "d28_date_agg", "d29_math_string",
    "d30_documents_agg", "d31_pivot", "d32_unpivot", "d33_string_agg",
    "d34_cube", "x01_token_stats", "x40_length_trim", "x41_tumbling_rollup",
    "x42_sliding_rollup", "x43_pagerank", "x44_unigram_logprob",
    "x45_minhash_calibration",
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
