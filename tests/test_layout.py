"""functions/layout.py + functions/stats.py (grouped median / MAD) +
the weighted-sample merge property backing x103–x106."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from deepcell_data_engineering_spark.functions import layout as ly
from deepcell_data_engineering_spark.functions.sampling import weighted_sample
from deepcell_data_engineering_spark.functions.stats import (
    grouped_disc_percentile,
    mad_outlier_report,
)


def _py_morton(x: int, y: int, bits: int = ly.MORTON_BITS) -> int:
    code = 0
    for i in range(bits):
        code |= ((x >> i) & 1) << (2 * i)
        code |= ((y >> i) & 1) << (2 * i + 1)
    return code


def test_morton_matches_python_reference(spark):
    pts = [(0, 0), (1, 0), (0, 1), (1, 1), (5, 3), (1999, 99), (2**20 - 1, 7)]
    df = spark.createDataFrame([Row(x=x, y=y) for x, y in pts])
    got = {
        (r["x"], r["y"]): r["m"]
        for r in df.withColumn(
            "m", ly.morton_code(F.col("x"), F.col("y"))
        ).collect()
    }
    for x, y in pts:
        assert got[(x, y)] == _py_morton(x, y), (x, y)


def test_morton_sql_matches_engine(spark):
    import duckdb

    pts = [(0, 0), (7, 2), (1023, 511), (1999, 99)]
    sql = ly.morton_sql("x", "y")
    con = duckdb.connect()
    for x, y in pts:
        (got,) = con.sql(
            f"SELECT {sql} FROM (SELECT {x} AS x, {y} AS y)"
        ).fetchone()
        assert got == _py_morton(x, y), (x, y)


def test_morton_orders_locally():
    # points inside one aligned quadrant sort before any point of the
    # next quadrant: the curve keeps boxes contiguous
    lo = [_py_morton(x, y) for x in range(4) for y in range(4)]
    hi = [_py_morton(x, y) for x in range(4, 8) for y in range(4, 8)]
    assert max(lo) < min(hi)


def test_fixed_width_buckets_bounds(spark):
    df = spark.range(0, 1000).select(F.col("id").alias("code"))
    b = df.select(
        ly.fixed_width_buckets(F.col("code"), F.lit(1000), 64).alias("b")
    )
    mn, mx, n = b.agg(
        F.min("b"), F.max("b"), F.countDistinct("b")
    ).collect()[0]
    assert mn == 0 and mx == 63 and n == 64


def test_equi_depth_boundaries_and_assign(spark):
    # 1..100, 4 ranges -> boundaries at ranks 25/50/75 = values 25/50/75
    df = spark.range(1, 101).select(F.col("id").alias("v"))
    hist = df.groupBy("v").count()
    brow = ly.equi_depth_boundaries(hist, "v", "count", 4).collect()[0]
    assert brow["n_total"] == 100
    assert brow["boundaries"] == [25, 50, 75]
    a = (
        df.crossJoin(
            F.broadcast(ly.equi_depth_boundaries(hist, "v", "count", 4))
        )
        .withColumn("r", ly.range_assign(F.col("v"), F.col("boundaries")))
        .groupBy("r")
        .count()
        .orderBy("r")
        .collect()
    )
    # b < v strict: v=25 -> range 1, so depths 25/25/25/25
    assert [(x["r"], x["count"]) for x in a] == [
        (1, 25), (2, 25), (3, 25), (4, 25)
    ]


def test_equi_depth_duplicate_heavy_value(spark):
    # one value holding >half the mass: its range absorbs the bulk and
    # ranges stay value-disjoint
    rows = [Row(v=1)] * 60 + [Row(v=i) for i in range(2, 42)]
    df = spark.createDataFrame(rows)
    bounds = ly.equi_depth_boundaries(df.groupBy("v").count(), "v", "count", 4)
    a = (
        df.crossJoin(F.broadcast(bounds))
        .withColumn("r", ly.range_assign(F.col("v"), F.col("boundaries")))
    )
    per = {
        r["r"]: (r["mn"], r["mx"])
        for r in a.groupBy("r")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
        .collect()
    }
    ids = sorted(per)
    for lo_id, hi_id in zip(ids, ids[1:]):
        assert per[lo_id][1] <= per[hi_id][0]


def test_grouped_disc_median_lower_convention(spark):
    df = spark.createDataFrame(
        [Row(g="a", v=float(x)) for x in [1, 2, 3, 4]]
        + [Row(g="b", v=float(x)) for x in [10, 20, 30]]
    )
    med = {
        r["g"]: r["med"]
        for r in grouped_disc_percentile(
            df, "g", "v", {"med": (1, 2)}
        ).collect()
    }
    # even group: LOWER median (rank ceil(4/2)=2) -> 2, not 2.5
    assert med == {"a": 2.0, "b": 20.0}


def test_mad_outlier_report_flags_only_the_spike(spark):
    base = [Row(g="a", v=float(x)) for x in [10, 11, 12, 13, 14, 15, 16]]
    spike = [Row(g="a", v=1e9)]
    rep = mad_outlier_report(
        spark.createDataFrame(base + spike), "g", "v"
    ).collect()[0]
    assert rep["n"] == 8
    assert rep["n_outliers"] == 1 and rep["n_high"] == 1 and rep["n_low"] == 0
    # the spike itself did not drag the center: median stays in the base
    assert 10 <= rep["med"] <= 16


def test_robust_reports_ignore_caller_columns_named_like_outputs(spark):
    """The percentile frame's ``n`` never meets a caller column of the
    same name: both reports count their own rows, and a fraction
    named ``n`` (or like the group column) is refused up front."""
    from deepcell_data_engineering_spark.functions.stats import (
        winsorized_stats,
    )

    df = spark.createDataFrame(
        [Row(g="a", v=float(x), n=-1, med=-1.0) for x in range(1, 21)]
        + [Row(g="a", v=None, n=-1, med=-1.0)]
    )
    mad = mad_outlier_report(df, "g", "v").collect()[0]
    assert mad["n"] == 20 and mad["med"] == 10.0
    win = winsorized_stats(df, "g", "v").collect()[0]
    assert win["n"] == 20 and (win["p_lo"], win["p_hi"]) == (1.0, 19.0)
    for bad in ("n", "g"):
        with pytest.raises(ValueError, match="clash"):
            grouped_disc_percentile(df, "g", "v", {bad: (1, 2)})


def test_weighted_sample_merge_equals_rebuild(spark, sf_dir):
    from deepcell_data_engineering_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    full = weighted_sample(docs, F.col("doc_id"), "n_chars", 25)
    a = weighted_sample(
        docs.where(F.col("doc_id") % 2 == 0), F.col("doc_id"), "n_chars", 25
    )
    b = weighted_sample(
        docs.where(F.col("doc_id") % 2 == 1), F.col("doc_id"), "n_chars", 25
    )
    state = a.drop("sample_rank").unionByName(b.drop("sample_rank"))
    merged = weighted_sample(state, F.col("doc_id"), "n_chars", 25)
    assert sorted(
        (r["sample_rank"], r["doc_id"]) for r in merged.collect()
    ) == sorted((r["sample_rank"], r["doc_id"]) for r in full.collect())


def test_zone_maps_shape(spark):
    df = spark.createDataFrame(
        [Row(layout="l", bucket=i % 2, x=i, y=10 - i) for i in range(10)]
    )
    zm = ly.zone_maps(df, "layout", "bucket", ["x", "y"]).collect()
    assert {r["bucket"]: r["n_rows"] for r in zm} == {0: 5, 1: 5}
    row0 = [r for r in zm if r["bucket"] == 0][0]
    assert row0["min_x"] == 0 and row0["max_x"] == 8
    assert row0["min_y"] == 2 and row0["max_y"] == 10


def test_gram_partials_partition_invariant(spark, sf_dir):
    """The scaled-integer Gram fold is exact: any repartitioning gives
    the identical matrix (the certification x114 rides on)."""
    from deepcell_data_engineering_spark.catalog import load_table
    from deepcell_data_engineering_spark.functions.similarity import (
        gram_partials,
    )

    emb = load_table(spark, sf_dir, "embeddings")

    def full(df):
        return sorted(
            map(
                tuple,
                gram_partials(df, "embedding", 64)
                .groupBy("i", "j")
                .agg(F.sum("g").alias("g"))
                .collect(),
            )
        )

    a = full(emb.repartition(1))
    b = full(emb.repartition(7, "vec_id"))
    assert a == b
    # and symmetric by construction
    m = {(i, j): g for i, j, g in a}
    assert all(m[(i, j)] == m[(j, i)] for (i, j) in m)


def test_grouped_cumsum_matches_pandas_and_ignores_split_points(spark):
    """The two-phase distributed prefix sum must equal a pandas
    groupby-cumsum for every group, and the answer must be identical
    whatever n_parts the range partitioner used (the independence-of-
    split-points property the docstring claims)."""
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(7)
    pdf = pd.DataFrame(
        {
            "g": rng.choice(["a", "b", "c"], 500),
            "k": rng.randint(0, 10_000, 500),
            "c": rng.randint(1, 9, 500),
        }
    )
    # histogram contract: one row per (g, k)
    pdf = pdf.groupby(["g", "k"], as_index=False)["c"].sum()
    expected = pdf.sort_values(["g", "k"]).assign(
        cum=lambda d: d.groupby("g")["c"].cumsum()
    )
    exp = {
        (r.g, int(r.k)): int(r.cum) for r in expected.itertuples()
    }

    df = spark.createDataFrame(pdf)
    for n_parts in (1, 3, 32):
        got = {
            (r["g"], int(r["k"])): int(r["cum"])
            for r in ly.grouped_cumsum(
                df, ["g"], "k", "c", n_parts=n_parts
            ).collect()
        }
        assert got == exp, f"n_parts={n_parts}"

    # ungrouped variant (the equi_depth_boundaries path)
    solo = pdf.groupby("k", as_index=False)["c"].sum()
    exp1 = {
        int(r.k): int(r.cum)
        for r in solo.sort_values("k")
        .assign(cum=lambda d: d["c"].cumsum())
        .itertuples()
    }
    got1 = {
        int(r["k"]): int(r["cum"])
        for r in ly.grouped_cumsum(
            spark.createDataFrame(solo), [], "k", "c", n_parts=5
        ).collect()
    }
    assert got1 == exp1


def test_grouped_cumsum_branches_reuse_one_range_exchange(spark):
    """The _pid join's same-splits invariant rests on the two branches
    deduplicating to ONE range exchange (spark.sql.exchange.reuse,
    pinned in session conf): the executed plan must contain a
    ReusedExchange over the rangepartitioning — and the in-plan
    tripwire (order value within the joined bucket's min/max) must
    stay silent on a correct run."""
    from deepcell_data_engineering_spark.functions.layout import (
        grouped_cumsum,
    )

    hist = spark.range(10_000).select(
        (F.col("id") % 5).alias("g"),
        F.col("id").alias("v"),
        F.lit(1).alias("c"),
    )
    out = grouped_cumsum(hist, ["g"], "v", "c", n_parts=8)
    # collect() on THIS frame so the adaptive plan finalizes on the
    # same QueryExecution we then inspect (count() would wrap a new one)
    assert len(out.collect()) == 10_000  # tripwire silent
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan
    assert "rangepartitioning" in plan


def test_grouped_cumsum_any_output_subset_keeps_one_range_exchange(spark):
    """Whichever of the outputs a caller reads (a total without its
    running sum, one measure's total beside another's running sum),
    column pruning must leave both branches reading the same columns
    below the range exchange, so it stays ONE exchange, reused; two
    independently sampled exchanges would trip the same-splits guard
    at run time. Columns other than group, order and count are not
    carried through."""
    from deepcell_data_engineering_spark.functions.layout import (
        grouped_cumsum,
    )

    hist = spark.range(10_000).select(
        (F.col("id") % 5).alias("g"),
        F.col("id").alias("v"),
        (F.col("id") % 3 + 1).alias("c"),
        (F.col("id") * 3).alias("rv"),
        F.lit("x").alias("extra"),
    )
    cum = grouped_cumsum(hist, ["g"], "v", ["c", "rv"], n_parts=8)
    assert "extra" not in cum.columns
    for cols in (
        ["g", "v", "tot_c", "cum_rv"],
        ["g", "tot_rv"],
        ["v", "cum_c"],
        ["g", "tot_c", "tot_rv"],
    ):
        out = cum.select(*cols)
        assert len(out.collect()) == 10_000, cols
        final = (
            out._jdf.queryExecution().executedPlan().toString()
            .split("Initial Plan")[0]
        )
        fresh = [
            ln for ln in final.splitlines()
            if "Exchange rangepartitioning" in ln
            and "ReusedExchange" not in ln
        ]
        assert len(fresh) == 1, (cols, fresh)


def test_grouped_cumsum_null_order_values_pass_the_tripwire(spark):
    """NULL order values must not trip the split-divergence guard
    (min/max skip NULLs so between() is NULL there — ADVICE r9); they
    sort NULLS FIRST and accumulate at the head of their group."""
    rows = [Row(g="a", v=None, c=5)] + [
        Row(g="a", v=i, c=i + 1) for i in range(1, 7)
    ]
    hist = spark.createDataFrame(rows, "g string, v int, c int")
    out = {
        (r["g"], r["v"]): r["cum"]
        for r in ly.grouped_cumsum(hist, ["g"], "v", "c", n_parts=4).collect()
    }
    assert out[("a", None)] == 5
    running = 5
    for i in range(1, 7):
        running += i + 1
        assert out[("a", i)] == running


def test_grouped_cumsum_multi_column_one_layout(spark):
    """The list form must scan every measure over ONE shared range
    layout and match per-column single-call results — chaining two
    single-column calls instead nests a second range partitioner
    inside the first call's join and trips the divergence tripwire
    (observed building x158's two-sided CDF)."""
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(11)
    pdf = pd.DataFrame(
        {
            "g": rng.choice(["a", "b"], 300),
            "k": rng.randint(0, 5_000, 300),
            "c1": rng.randint(0, 7, 300),
            "c2": rng.randint(0, 4, 300),
        }
    )
    pdf = pdf.groupby(["g", "k"], as_index=False)[["c1", "c2"]].sum()
    df = spark.createDataFrame(pdf)
    got = {
        (r["g"], int(r["k"])): (int(r["cum_c1"]), int(r["cum_c2"]))
        for r in ly.grouped_cumsum(
            df, ["g"], "k", ["c1", "c2"], n_parts=4
        ).collect()
    }
    for col, idx in (("c1", 0), ("c2", 1)):
        solo = {
            (r["g"], int(r["k"])): int(r["cum"])
            for r in ly.grouped_cumsum(
                df, ["g"], "k", col, n_parts=4
            ).collect()
        }
        assert {k: v[idx] for k, v in got.items()} == solo, col
    # single-string form keeps its historical output name
    assert "cum" in ly.grouped_cumsum(df, ["g"], "k", "c1").columns


def test_grouped_cumsum_group_totals(spark):
    """``tot`` (single count column) / ``tot_<col>`` (several) is the
    whole group's sum of the count column on every row of the group,
    whatever the split count — grouped and ungrouped, with a NULL
    order value and a single-row group."""
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(5)
    pdf = pd.DataFrame(
        {
            "g": rng.choice(["a", "b", "c"], 400),
            "k": rng.randint(0, 3_000, 400),
            "c1": rng.randint(0, 9, 400),
            "c2": rng.randint(1, 4, 400),
        }
    )
    pdf = pdf.groupby(["g", "k"], as_index=False)[["c1", "c2"]].sum()
    rows = [
        (g, int(k), int(a), int(b)) for g, k, a, b in pdf.itertuples(index=False)
    ] + [
        ("a", None, 6, 2),  # NULL order value counts toward its group
        ("solo", 17, 4, 3),  # single-row group
    ]
    df = spark.createDataFrame(rows, "g string, k long, c1 long, c2 long")
    full = pd.DataFrame(rows, columns=["g", "k", "c1", "c2"])
    want = full.groupby("g")[["c1", "c2"]].sum()
    n_rows = len(rows)
    for n_parts in (1, 3, 32, None):
        out = ly.grouped_cumsum(df, ["g"], "k", "c1", n_parts=n_parts)
        got = out.select("g", "tot").collect()
        assert len(got) == n_rows, n_parts
        assert all(r["tot"] == want.loc[r["g"], "c1"] for r in got), n_parts

        multi = ly.grouped_cumsum(
            df, ["g"], "k", ["c1", "c2"], n_parts=n_parts
        ).collect()
        assert len(multi) == n_rows, n_parts
        for r in multi:
            assert r["tot_c1"] == want.loc[r["g"], "c1"], n_parts
            assert r["tot_c2"] == want.loc[r["g"], "c2"], n_parts

        flat = ly.grouped_cumsum(
            df.drop("g"), [], "k", ["c1", "c2"], n_parts=n_parts
        ).collect()
        assert {(r["tot_c1"], r["tot_c2"]) for r in flat} == {
            (int(full["c1"].sum()), int(full["c2"].sum()))
        }, n_parts
        # the last row of each group carries cum == tot
        last = {}
        for r in out.where(F.col("k").isNotNull()).collect():
            if r["g"] not in last or r["k"] > last[r["g"]]["k"]:
                last[r["g"]] = r
        assert all(r["cum"] == r["tot"] for r in last.values()), n_parts


def test_disc_rank_is_exact_integer_ceil(spark):
    """disc_rank(n, nu, de) is ceil(nu*n/de) in exact integer
    arithmetic, including counts past a double's 53-bit mantissa."""
    ns = [0, 1, 7, 2**40 + 3]
    fracs = [(1, 2), (1, 4), (3, 4), (9, 10), (99, 100), (1, 1), (2, 3)]
    df = spark.createDataFrame([(n,) for n in ns], "n long")
    got = df.select(
        "n",
        *[
            ly.disc_rank(F.col("n"), nu, de).alias(f"k_{nu}_{de}")
            for nu, de in fracs
        ],
    ).collect()
    assert len(got) == len(ns)
    for r in got:
        for nu, de in fracs:
            assert r[f"k_{nu}_{de}"] == (nu * r["n"] + de - 1) // de, (
                r["n"], nu, de
            )


def test_value_at_rank_least_value_and_null_when_unreached(spark):
    """value_at_rank picks the least value whose running count reaches
    k — on a tie of running counts too — and is NULL when no row
    reaches k."""
    # a cumulative histogram: values 10, 20 share cum 3 (20 has c=0)
    df = spark.createDataFrame(
        [("a", 10, 3), ("a", 20, 3), ("a", 30, 5), ("b", 7, 2)],
        "g string, v long, cum long",
    )
    got = {
        r["g"]: (r["k3"], r["k4"], r["k6"])
        for r in df.groupBy("g")
        .agg(
            *[
                ly.value_at_rank(F.col("cum"), F.col("v"), F.lit(k)).alias(
                    f"k{k}"
                )
                for k in (3, 4, 6)
            ]
        )
        .collect()
    }
    assert got == {"a": (10, 30, None), "b": (None, None, None)}
