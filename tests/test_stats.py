"""Unit contracts for functions/stats.py — grouped_quantiles' guard path
(null-keyed groups, estimator routing, arg validation)."""

import pytest

from pyspark.sql import functions as F

from deepcell_data_engineering_spark.functions.stats import grouped_quantiles


@pytest.fixture()
def grouped_vals(spark):
    rows = []
    for g, n in [("a", 9), ("b", 200), (None, 9)]:
        rows += [(g, float(i)) for i in range(1, n + 1)]
    return spark.createDataFrame(rows, "g STRING, v DOUBLE")


def test_null_keyed_group_survives_guard_path(spark, grouped_vals):
    """groupBy treats NULL as a real group; the guarded path's group-size
    attach must too (eqNullSafe join) — regression for the inner-join
    form that silently dropped NULL-keyed groups."""
    unguarded = grouped_quantiles(
        grouped_vals, F.col("v"), ["g"], [0.5], ["q50"]
    ).collect()
    guarded = grouped_quantiles(
        grouped_vals, F.col("v"), ["g"], [0.5], ["q50"], max_exact_group=1000
    ).collect()
    keys_u = {r["g"] for r in unguarded}
    keys_g = {r["g"] for r in guarded}
    assert keys_u == keys_g == {"a", "b", None}
    # identical answers on both paths while every group is under the cap
    med_u = {r["g"]: r["q50"] for r in unguarded}
    med_g = {r["g"]: r["q50"] for r in guarded}
    assert med_u == med_g
    assert med_g[None] == 5.0 and med_g["a"] == 5.0 and med_g["b"] == 100.5


def test_oversized_group_routes_to_sketch(spark, grouped_vals):
    out = {
        r["g"]: r
        for r in grouped_quantiles(
            grouped_vals,
            F.col("v"),
            ["g"],
            [0.5],
            ["q50"],
            max_exact_group=50,
        ).collect()
    }
    assert out["a"]["exact"] and out[None]["exact"]
    assert not out["b"]["exact"]  # 200 rows > cap: sketch answered
    assert abs(out["b"]["q50"] - 100.5) <= 1.0
    assert out["b"]["n"] == 200


def test_name_length_validation(spark, grouped_vals):
    with pytest.raises(ValueError, match="names"):
        grouped_quantiles(grouped_vals, F.col("v"), ["g"], [0.25, 0.5], ["q"])
    with pytest.raises(ValueError, match="approx_names"):
        grouped_quantiles(
            grouped_vals,
            F.col("v"),
            ["g"],
            [0.5],
            ["q50"],
            approx_names=["a", "b"],
        )


@pytest.mark.parametrize("helper", ["moment_stats", "salted_join_inner", "salted_join_left"])
def test_null_keyed_groups_across_grouped_helpers(spark, helper):
    """Null-key sweep of the other grouped helpers that touch group keys:
    moment_stats must keep the NULL group (pure groupBy — NULL is a real
    group); salted_join must be row-for-row equivalent to the unsalted
    join under NULL keys (plain equi-join semantics: inner drops NULL
    matches, left keeps the unmatched big rows null-extended)."""
    from deepcell_data_engineering_spark.functions.stats import moment_stats
    from deepcell_data_engineering_spark.plans.layout import salted_join

    if helper == "moment_stats":
        rows = [(g, i, 2 * i + (i % 3)) for g in ["a", None] for i in range(1, 8)]
        df = spark.createDataFrame(rows, "g STRING, x INT, y INT")
        got = moment_stats(df, F.col("x"), F.col("y"), ["g"]).collect()
        assert {r["g"] for r in got} == {"a", None}
        by_key = {r["g"]: r for r in got}
        assert by_key[None]["n"] == 7 and by_key[None]["n"] == by_key["a"]["n"]
        assert by_key[None]["stddev_x"] == by_key["a"]["stddev_x"]
        return

    how = helper.rsplit("_", 1)[1]
    big = spark.createDataFrame(
        [(1, "k1", 10), (2, None, 20), (3, "k2", 30), (4, None, 40)],
        "rid INT, k STRING, v INT",
    )
    small = spark.createDataFrame(
        [("k1", "dim1"), (None, "dimnull")], "k STRING, label STRING"
    )
    plain = sorted(
        map(tuple, big.join(small, on="k", how=how).select("rid", "k", "label").collect())
    )
    salted = sorted(
        map(
            tuple,
            salted_join(big, small, key="k", salt_source="rid", how=how)
            .select("rid", "k", "label")
            .collect(),
        )
    )
    assert salted == plain


def test_disc_percentile_by_histogram_matches_numpy_disc(spark):
    """The value-histogram disc percentile equals the ceil(q*n)-th
    smallest value, including on ties and at the q=1.0 edge."""
    import numpy as np

    from deepcell_data_engineering_spark.functions.stats import (
        disc_percentile_by_histogram,
    )

    rng = np.random.RandomState(3)
    vals = np.concatenate([rng.randint(0, 50, 500), np.full(100, 7)])
    df = spark.createDataFrame([(int(v),) for v in vals], "x int")
    srt = np.sort(vals)
    for q in [0.05, 0.25, 0.5, 0.9, 1.0]:
        k = int(np.ceil(q * len(vals)))
        assert disc_percentile_by_histogram(df, "x", q) == int(srt[k - 1]), q


def test_disc_percentiles_multi_q_single_pass_matches_scalar(spark):
    """The one-action multi-q form returns exactly the per-q scalars,
    in qs order, including duplicate qs and the q=1.0 edge."""
    import numpy as np

    from deepcell_data_engineering_spark.functions.stats import (
        disc_percentiles_by_histogram,
    )

    rng = np.random.RandomState(7)
    vals = np.concatenate([rng.randint(-20, 20, 400), np.full(50, -3)])
    df = spark.createDataFrame([(int(v),) for v in vals], "x int")
    srt = np.sort(vals)
    qs = [0.05, 0.5, 0.95, 1.0, 0.05]
    got = disc_percentiles_by_histogram(df, "x", qs)
    want = [int(srt[int(np.ceil(q * len(vals))) - 1]) for q in qs]
    assert got == want
    import pytest

    with pytest.raises(ValueError):
        disc_percentiles_by_histogram(
            df.where("x > 1000"), "x", [0.5]
        )


def test_key_skew_report_constructed_distribution(spark):
    from deepcell_data_engineering_spark.functions.stats import key_skew_report

    # 1 hot key with 6400 rows + 99 cold keys with 10 rows each + NULLs
    rows = (
        [("hot",)] * 6400
        + [(f"cold{i}",) for i in range(99) for _ in range(10)]
        + [(None,)] * 7
    )
    df = spark.createDataFrame(rows, "k string")
    r = key_skew_report(df, "k", "t.k").collect()[0]
    assert r["key_col"] == "t.k"
    assert r["n_rows"] == 6400 + 990  # NULL keys carry no identity
    assert r["n_keys"] == 100
    assert r["top1_count"] == 6400
    assert r["p50_count"] == 10 and r["p99_count"] == 10
    # ceil(6400 / (7390/32)) = ceil(27.7) = 28
    assert r["recommended_salts"] == 28
    # uniform key: no salting recommended
    u = spark.createDataFrame([(i % 50,) for i in range(5000)], "k long")
    ru = key_skew_report(u, "k", "u.k").collect()[0]
    assert ru["recommended_salts"] == 1
    assert ru["p50_count"] == 100 and ru["top1_count"] == 100


def test_disc_percentile_rejects_empty_and_all_null_columns(spark):
    from deepcell_data_engineering_spark.functions.stats import (
        disc_percentile_by_histogram,
    )

    empty = spark.createDataFrame([], "x int")
    with pytest.raises(ValueError, match="empty"):
        disc_percentile_by_histogram(empty, "x", 0.5)
    nulls = spark.createDataFrame([(None,), (None,)], "x int")
    with pytest.raises(ValueError, match="empty"):
        disc_percentile_by_histogram(nulls, "x", 0.5)


@pytest.mark.parametrize(
    "qs", [[], [0.0], [0.5, 0], [1.5], [-0.1], [0.5, float("nan")]]
)
def test_disc_percentiles_reject_bad_qs_up_front(spark, qs):
    """An empty qs list or any q outside 0 < q <= 1 raises a named
    ValueError before any Spark job runs."""
    from deepcell_data_engineering_spark.functions.stats import (
        disc_percentiles_by_histogram,
    )

    df = spark.createDataFrame([(1,), (2,)], "x int")
    sc = spark.sparkContext._jsc.sc()
    before = sc.dagScheduler().numTotalJobs()
    with pytest.raises(ValueError, match="qs|0 < q <= 1"):
        disc_percentiles_by_histogram(df, "x", qs)
    assert sc.dagScheduler().numTotalJobs() == before


def test_key_skew_report_from_precomputed_counts_matches(spark):
    """counts= reuses a caller-built frequency table: the report must
    be identical to the direct-aggregation path."""
    from deepcell_data_engineering_spark.functions.stats import key_skew_report

    rows = [("k%d" % (i % 7),) for i in range(200)] + [("hot",)] * 300
    df = spark.createDataFrame(rows, "k string")
    direct = key_skew_report(df, "k", "t").collect()
    counts = df.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    reused = key_skew_report(df, "k", "t", counts=counts, count_col="n").collect()
    assert [tuple(r) for r in direct] == [tuple(r) for r in reused]
