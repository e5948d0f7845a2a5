"""operators/diff.py + the x108/x109 numeric helpers."""

import math

from pyspark.sql import Row
from pyspark.sql import functions as F

from deepcell_data_engineering_spark.operators.diff import (
    snapshot_diff_columns,
)


def test_snapshot_diff_classes(spark):
    old = spark.createDataFrame(
        [
            Row(k=1, v=10, s="a"),
            Row(k=2, v=20, s="b"),
            Row(k=3, v=30, s="c"),
            Row(k=4, v=None, s="d"),
        ]
    )
    new = spark.createDataFrame(
        [
            Row(k=2, v=25, s="b"),   # changed v
            Row(k=3, v=30, s="c"),   # unchanged
            Row(k=4, v=40, s="d"),   # NULL -> value counts as changed
            Row(k=5, v=50, s="e"),   # added
        ]
    )
    d = snapshot_diff_columns(old, new, ["k"], ["v", "s"])
    got = {r["k"]: r["diff_status"] for r in d.collect()}
    assert got == {
        1: "removed",
        2: "changed",
        3: "unchanged",
        4: "changed",
        5: "added",
    }
    r2 = [r for r in d.collect() if r["k"] == 2][0]
    assert r2["chg_v"] and not r2["chg_s"]
    assert r2["old_v"] == 20 and r2["new_v"] == 25


def test_snapshot_diff_composite_key(spark):
    old = spark.createDataFrame([Row(a=1, b="x", v=1), Row(a=1, b="y", v=2)])
    new = spark.createDataFrame([Row(a=1, b="x", v=1), Row(a=2, b="x", v=3)])
    got = {
        (r["a"], r["b"]): r["diff_status"]
        for r in snapshot_diff_columns(old, new, ["a", "b"], ["v"]).collect()
    }
    assert got == {
        (1, "x"): "unchanged",
        (1, "y"): "removed",
        (2, "x"): "added",
    }


def test_winsorized_stats_clips_tails(spark):
    from deepcell_data_engineering_spark.functions.stats import (
        winsorized_stats,
    )

    rows = [Row(g="a", v=float(x)) for x in range(1, 101)]
    rep = winsorized_stats(
        spark.createDataFrame(rows), "g", "v"
    ).collect()[0]
    # disc p05 of 1..100 = value at rank ceil(100/20)=5; p95 at rank 95
    assert rep["p_lo"] == 5.0 and rep["p_hi"] == 95.0
    assert rep["n_clip_lo"] == 4 and rep["n_clip_hi"] == 5
    # clipped sum: 5*4 (1..4 -> 5) + sum(5..95) + 95*5 (96..100 -> 95)
    expect = 5 * 4 + sum(range(5, 96)) + 95 * 5
    assert rep["wsum_scaled"] == expect * 1_000_000


def test_grouped_disc_percentile_integer_ranks(spark):
    from deepcell_data_engineering_spark.functions.stats import (
        grouped_disc_percentile,
    )

    df = spark.createDataFrame([Row(g="a", v=float(x)) for x in range(1, 21)])
    r = grouped_disc_percentile(
        df, "g", "v", {"p25": (1, 4), "p75": (3, 4)}
    ).collect()[0]
    p25, p75 = r["p25"], r["p75"]
    assert p25 == 5.0 and p75 == 15.0  # ranks ceil(20/4)=5, ceil(60/4)=15


def test_kl_divergence_properties(spark, sf_dir):
    """x109's KL is 0 on identical sources and >= 0 always."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as e

    rows = e.queries()["x109_corpus_divergence"](spark, sf_dir).collect()
    assert len(rows) == 12  # 4 sources, ordered pairs
    for r in rows:
        assert r["src_a"] != r["src_b"]
        # add-1-smoothed KL over a union vocab is strictly nonnegative
        # (Gibbs); equality would need identical distributions
        assert r["kl_nats"] >= 0.0, r
        assert math.isfinite(r["kl_nats"])


def test_event_pattern_total_users(spark, sf_dir):
    """x110 partitions every user into exactly one n_matches bucket."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as e
    from deepcell_data_engineering_spark.catalog import load_table

    rows = e.queries()["x110_event_pattern_match"](spark, sf_dir).collect()
    n_users = load_table(spark, sf_dir, "events").select(
        "user_id"
    ).distinct().count()
    assert sum(r["n_users"] for r in rows) == n_users
