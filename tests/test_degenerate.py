"""Queries and kernels over degenerate inputs degrade to DuckDB's
answer: ``orders`` and ``lineitem`` replaced by zero-row tables of the
same schema (the other tables are the sf0.001 ones), and a two-sample
statistic with one empty sample."""

import os

import pytest

from conftest import SF_SMOKE
from deepcell_data_engineering_spark.oracle import compare, duckdb_connect
from deepcell_data_engineering_spark.relational import QUERIES


@pytest.fixture(scope="module")
def empty_facts(tmp_path_factory):
    import pyarrow.parquet as pq

    out = tmp_path_factory.mktemp("empty_facts")
    for f in os.listdir(SF_SMOKE):
        src = pq.read_table(os.path.join(SF_SMOKE, f))
        if f in ("orders.parquet", "lineitem.parquet"):
            src = src.slice(0, 0)
        pq.write_table(src, str(out / f))
    return str(out)


@pytest.mark.parametrize(
    "name",
    [
        "x158_ks_two_sample",
        "x163_lorenz_deciles",
        "x164_stats_pruned_scan",
        "x166_scoped_cdc_view",
        "x185_lifecycle_clone_restore",
        "x196_tombstone_merge_feed",
        "x197_time_embargo_split",
        "x200_update_feed_view",
        "x201_constraint_gate",
        "x230_zorder_lifecycle",
        "x87_table_profile",
        "x91_profile_approx_certified",
        "x154_ref_integrity_audit",
    ],
)
def test_queries_match_oracle_on_empty_facts(spark, empty_facts, name):
    spec = QUERIES[name]
    con = duckdb_connect(empty_facts)
    try:
        res = compare(name, spec.build(spark, empty_facts), con, spec.oracle)
    finally:
        con.close()
    assert res.ok, f"{name}: {res.detail} (spark={res.spark_rows}, oracle={res.oracle_rows})"


def test_ks_distance_with_one_empty_side_is_null_not_an_error(spark):
    from deepcell_data_engineering_spark.functions.stats import ks_distance

    hist = spark.createDataFrame(
        [(1, 0, 3), (2, 0, 1)], "v long, h_a long, h_b long"
    )
    (r,) = ks_distance(hist, "v", "h_a", "h_b").collect()
    assert (r["n_a"], r["n_b"], r["d_num"], r["ks_d"]) == (0, 4, 0, None)
