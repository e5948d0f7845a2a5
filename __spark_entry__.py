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
# in registry order. This round: the 21 snapshot-layer queries now on
# the shared scratch-table scaffold (driver-sorted local results, a
# guarded max key), then x87/x90/x91/x154/x197 (zero-row guards on
# their ratios and date span), then the rest of the round-12 verdicts
# in registry order up to 50. The previous window (the exact-quantile
# queries, the round-11 rest and d01–d10) leaves it.
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
    # zero-row guards
    "x87_table_profile", "x90_cbo_estimates",
    "x91_profile_approx_certified", "x154_ref_integrity_audit",
    "x197_time_embargo_split",
    # last verdict in round 12, registry order
    "d11_star_join_agg", "d12_left_join", "d13_semi_join", "d14_anti_join",
    "d15_range_join", "d16_cross_join", "d17_grouped_agg",
    "d18_count_distinct_having", "d19_median", "d20_rollup",
    "d21_grouping_sets", "d22_conditional_agg", "d23_window_rank",
    "d24_window_lag_lead", "d25_window_running_max",
    "x113_retraction_certified", "x114_gram_matrix",
    "x117_link_prediction", "x119_ivm_join_delta",
    "x120_session_incident_overlap", "x129_pretokenize_vocab",
    "x130_table_checksum", "x131_markov_anomaly", "x169_chi_squared",
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
