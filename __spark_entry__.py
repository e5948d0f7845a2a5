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
# Current rotation: the most recently changed code leads — the snapshot-
# lifecycle queries (MERGE/DELETE/UPDATE feeds, schema-evolution merge,
# clone/restore, constraints, vacuum, replace_where, Z-order), whose
# four copy-on-write verbs now share one skeleton, and the round-14
# rewrites the driver never re-verified (x76, x103, x199). Then the
# round-13 additions that never had a driver verdict, then the oldest
# round-9 verdicts (d35–d49, x02–x04; d48 is a change-feed MERGE). The
# window drops x204–x211 (driver-correct in the round-14 window; no
# snapshot code); they and the ~28 r9-stale rows behind them are next.
_CHECK_FIRST = [
    # snapshot lifecycle (the copy-on-write verbs share one skeleton)
    "x151_merge_feed_view", "x162_delete_feed_view",
    "x167_schema_evolution_merge", "x185_lifecycle_clone_restore",
    "x200_update_feed_view", "x202_constraint_lifecycle",
    "x217_vacuum_lifecycle", "x218_replace_where_lifecycle",
    "x230_zorder_lifecycle",
    # round-14 rewrites never re-verified by the driver
    "x76_quality_gate_corpus", "x103_zorder_skipping",
    "x199_fd_histogram",
    # never driver-checked (round-13 additions)
    "x203_stream_rate_feed",
    "x212_theil_index", "x213_activity_streaks",
    "x214_funnel_latency", "x215_cuped_adjustment",
    "x216_runs_test", "x219_item_similarity",
    "x220_anova_f", "x221_forecast_backtest",
    "x222_single_source_risk", "x223_interarrival_dispersion",
    "x224_jackknife_loo", "x225_wilcoxon_signed_rank",
    "x226_holt_linear", "x227_neyman_allocation",
    "x228_js_divergence", "x229_info_gain",
    "x231_spearman_rank_corr",
    "x232_dow_seasonality", "x233_capture_recapture",
    # oldest driver verdicts (round 9)
    "d35_approx_distinct", "d36_exists_subquery",
    "d37_scalar_subquery", "d38_ntile_percent_rank",
    "d39_array_hof", "d40_except_all", "d41_moment_stats",
    "d42_snapshot_diff", "d43_quantiles", "d44_null_semantics",
    "d45_share_of_total", "d46_try_cast", "d47_incremental_agg",
    "d48_apply_changes", "d49_revenue_rollup",
    "x02_quality_features", "x03_lang_id", "x04_exact_dedup",
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
