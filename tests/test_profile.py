"""The per-query check loop (plans/profile.py) and its command line
(tools/profile_queries.py) at sf0.001."""

import importlib.util
import json
import os
import subprocess
import sys

import pytest

from conftest import SF_SMOKE
from deepcell_data_engineering_spark.plans import profile as prof
from deepcell_data_engineering_spark.relational import QUERIES
from deepcell_data_engineering_spark.relational.queries import QuerySpec

TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools",
    "profile_queries.py",
)


def _cli():
    spec = importlib.util.spec_from_file_location("profile_queries", TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_median_is_true_median():
    assert prof.median([1, 2, 3, 4]) == 2.5
    assert prof.median([3, 1, 2]) == 2


def test_profile_record_splits_build_from_collect(spark):
    d11 = prof.profile(
        spark, "d11_star_join_agg", QUERIES["d11_star_join_agg"].build,
        SF_SMOKE, 3,
    )
    assert d11["build_jobs"] == 0
    assert d11["collect_jobs"] >= 1
    assert d11["scans"] >= 1
    assert len(d11["samples"]) == 3
    assert d11["min"] <= d11["median"] <= d11["max"]
    # x199's one driver collect runs inside build(), and its prefix
    # scan's range partitioner samples in a job of its own
    x199 = prof.profile(
        spark, "x199_fd_histogram", QUERIES["x199_fd_histogram"].build,
        SF_SMOKE, 2,
    )
    assert x199["build_jobs"] >= 2
    assert len(x199["samples"]) == 2
    assert x199["min"] <= x199["median"] <= x199["max"]


def test_quantile_queries_job_budget(spark):
    """The histogram-quantile queries stay within their Spark job
    budgets: x199 takes n, min and both quartiles in ONE action over
    the prefix scan (its group total rides the scan), x63 reads group
    sizes from windows instead of a joined-back aggregate, and the
    exact-quantile queries read their totals from the prefix scan and
    pick every rank in one conditional-min aggregate (no probe frame,
    no total joined back; x163 keeps its probe join)."""
    x199 = prof.profile(
        spark, "x199_fd_histogram", QUERIES["x199_fd_histogram"].build,
        SF_SMOKE, 1,
    )
    assert x199["build_jobs"] <= 9
    budgets = {
        "x63_hist_quantiles": 7,
        "x103_zorder_skipping": 21,
        "x106_range_partition_plan": 12,
        "x108_winsorized_stats": 7,
        "x143_ship_latency_quantiles": 6,
        "x158_ks_two_sample": 9,
        "x160_weighted_quantiles": 11,
        "x163_lorenz_deciles": 15,
        "x183_percentile_cont": 11,
    }
    for name, jobs in budgets.items():
        rec = prof.profile(spark, name, QUERIES[name].build, SF_SMOKE, 1)
        assert rec["collect_jobs"] <= jobs, (name, rec["collect_jobs"])


def test_lakehouse_queries_sort_their_rows_on_the_driver(spark):
    """The snapshot-layer queries return their few rows as a local frame
    sorted on the driver: one collect job (no range-exchange sampling),
    and the rows still come back in ascending key order."""
    for name in ("x164_stats_pruned_scan", "x200_update_feed_view"):
        rec = prof.profile(spark, name, QUERIES[name].build, SF_SMOKE, 1)
        assert rec["collect_jobs"] <= 1, (name, rec["collect_jobs"])
    rows = QUERIES["x164_stats_pruned_scan"].build(spark, SF_SMOKE).collect()
    got = [r["o_orderpriority"] for r in rows]
    assert got and got == sorted(got)


def test_unknown_name_raises_before_a_session_starts(monkeypatch):
    def no_session(*a, **k):
        raise AssertionError("a session was started")

    monkeypatch.setattr(prof, "get_spark", no_session)
    with pytest.raises(ValueError, match="no_such_query"):
        _cli().main(["d11_star_join_agg", "no_such_query",
                     "--sf-dir", SF_SMOKE])


def test_cli_writes_one_plan_per_name(spark, tmp_path):
    names = ["d11_star_join_agg", "x199_fd_histogram"]
    out = _cli().main(
        [*names, "--sf-dir", SF_SMOKE, "--runs", "1",
         "--plans", str(tmp_path)]
    )
    assert out["runs"] == 1 and out["sf_dir"] == SF_SMOKE
    assert sorted(out["queries"]) == names
    for n in names:
        rec = out["queries"][n]
        assert rec["plan"] == str(tmp_path / f"{n}.txt")
        assert os.path.getsize(rec["plan"]) > 0
    assert sorted(os.listdir(tmp_path)) == [f"{n}.txt" for n in names]


def test_one_loop_runs_every_check(spark, tmp_path):
    names = ["d11_star_join_agg", "x199_fd_histogram"]
    oracle, contracts = tmp_path / "oracle.json", tmp_path / "plancheck.json"
    out = _cli().main(
        [*names, "--sf-dir", SF_SMOKE, "--runs", "1",
         "--oracle", str(oracle), "--contracts", str(contracts)]
    )
    assert out["failed"] == []
    with open(oracle) as fh:
        results = json.load(fh)["results"]
    with open(contracts) as fh:
        plancheck = json.load(fh)
    assert plancheck["n_queries"] == 2 and plancheck["violations"] == []
    for n in names:
        rec = out["queries"][n]
        assert rec["oracle"]["ok"] and len(rec["oracle"]["hash"]) == 64
        assert rec["oracle"] == results[n]
        assert rec["contracts"] == plancheck["queries"][n]
        assert {"build_jobs", "cartesian", "bnlj_non_scalar", "exchanges",
                "scans"} <= set(rec["contracts"])
        assert {"median", "build_jobs", "collect_jobs", "scans"} <= set(rec)
    # x199's driver collect runs inside build(): the contract sees it
    assert plancheck["queries"]["x199_fd_histogram"]["build_jobs"] >= 2
    assert plancheck["queries"]["d11_star_join_agg"]["build_jobs"] == 0


def test_a_query_that_raises_is_recorded_and_the_loop_goes_on(spark):
    def boom(spark, sf_dir):
        raise RuntimeError("no such table")

    specs = {
        "zz_boom": QuerySpec("zz_boom", boom, "SELECT 1"),
        "d11_star_join_agg": QUERIES["d11_star_join_agg"],
    }
    out = prof.sweep(spark, specs, SF_SMOKE, contracts=True, oracle=True)
    assert out["zz_boom"] == {"error": "RuntimeError: no such table"}
    assert prof.violates(out["zz_boom"])
    assert out["d11_star_join_agg"]["oracle"]["ok"]
    assert not prof.violates(out["d11_star_join_agg"]["contracts"])


def test_session_layout_comes_from_the_environment(tmp_path):
    """The loop takes its layout from SPARK_GRAFT_SHUFFLE_PARTITIONS /
    SPARK_GRAFT_CPUS and records the one its session really has: the
    partition-layout sweep relies on both."""
    oracle = tmp_path / "oracle.json"
    env = {**os.environ, "SPARK_GRAFT_SHUFFLE_PARTITIONS": "3",
           "SPARK_GRAFT_CPUS": "2"}
    r = subprocess.run(
        [sys.executable, TOOL, "d17_grouped_agg", "--sf-dir", SF_SMOKE,
         "--runs", "0", "--oracle", str(oracle)],
        env=env, stdout=subprocess.DEVNULL, timeout=600,
    )
    assert r.returncode == 0
    with open(oracle) as fh:
        got = json.load(fh)
    assert got["shuffle_partitions"] == 3
    assert got["default_parallelism"] == 2
    assert got["results"]["d17_grouped_agg"]["ok"]
