"""Every declared relational query must hash-match the DuckDB oracle."""

import pytest

from deepcell_data_engineering_spark.oracle import compare, duckdb_connect
from deepcell_data_engineering_spark.relational import QUERIES

from conftest import SF_SMOKE


@pytest.fixture(scope="module")
def con():
    con = duckdb_connect(SF_SMOKE)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, con, name):
    spec = QUERIES[name]
    df = spec.build(spark, SF_SMOKE)
    if spec.oracle is None:
        assert df.count() >= 0  # rows-only check, mirrors the driver's weak gate
        return
    res = compare(name, df, con, spec.oracle)
    assert res.ok, f"{name}: {res.detail} (spark={res.spark_rows}, oracle={res.oracle_rows})"


def test_asof_join_directions_and_tolerance(spark):
    from pyspark.sql import functions as F

    from deepcell_data_engineering_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [("u1", 10, "a"), ("u1", 20, "b"), ("u2", 5, "c")], "k string, ts long, tag string"
    )
    right = spark.createDataFrame(
        [("u1", 8, 100), ("u1", 10, 200), ("u1", 15, 300), ("u2", 9, 400)],
        "k string, ts long, v int",
    )
    back = {
        r["tag"]: (r["v_matched"], r["ts_matched"])
        for r in asof_join(left, right, on="ts", by="k").collect()
    }
    # exact-time match is inclusive; latest at-or-before wins
    assert back["a"] == (200, 10)
    assert back["b"] == (300, 15)
    assert back["c"] == (None, None)  # u2 has no view at-or-before ts=5

    fwd = {
        r["tag"]: r["v_matched"]
        for r in asof_join(left, right, on="ts", by="k", direction="forward").collect()
    }
    assert fwd["a"] == 200 and fwd["b"] is None and fwd["c"] == 400

    tol = {
        r["tag"]: r["v_matched"]
        for r in asof_join(left, right, on="ts", by="k", tolerance=F.lit(2)).collect()
    }
    assert tol["a"] == 200  # gap 0 <= 2
    assert tol["b"] is None  # gap 5 > 2 nulled


def test_asof_join_nearest_direction(spark):
    """direction='nearest': closer side wins, ties break to the earlier
    (backward) row, per-direction tolerance nulls apply BEFORE the
    pick (a too-far past match must not shadow an in-range future
    one) — pandas merge_asof nearest semantics."""
    from pyspark.sql import functions as F

    from deepcell_data_engineering_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [("u1", 10, "a"), ("u1", 21, "b"), ("u1", 35, "c"),
         ("u2", 5, "d"), ("u3", 50, "e")],
        "k string, ts long, tag string",
    )
    right = spark.createDataFrame(
        [("u1", 8, 100), ("u1", 24, 200), ("u1", 30, 300),
         ("u2", 9, 400), ("u3", 10, 500)],
        "k string, ts long, v int",
    )
    near = {
        r["tag"]: (r["v_matched"], r["ts_matched"])
        for r in asof_join(
            left, right, on="ts", by="k", direction="nearest"
        ).collect()
    }
    assert near["a"] == (100, 8)    # back gap 2 < fwd gap 14
    assert near["b"] == (200, 24)   # fwd gap 3 < back gap 13
    assert near["d"] == (400, 9)    # only a future match exists
    assert near["e"] == (500, 10)   # only a past match exists
    assert near["c"] == (300, 30)   # back gap 5, no future row

    # tie: back gap == fwd gap -> the EARLIER (backward) row wins
    tie_l = spark.createDataFrame([("u", 10, "t")], "k string, ts long, tag string")
    tie_r = spark.createDataFrame(
        [("u", 7, 1), ("u", 13, 2)], "k string, ts long, v int"
    )
    got = asof_join(tie_l, tie_r, on="ts", by="k", direction="nearest").collect()[0]
    assert (got["v_matched"], got["ts_matched"]) == (1, 7)

    # per-direction tolerance BEFORE the pick: back gap 2 > tol 1 is
    # nulled, fwd gap 14 > tol nulled too -> no match for 'a'; 'b'
    # keeps its fwd match only if within tol
    tol = {
        r["tag"]: r["v_matched"]
        for r in asof_join(
            left, right, on="ts", by="k", direction="nearest",
            tolerance=F.lit(3),
        ).collect()
    }
    assert tol["a"] == 100   # back gap 2 <= 3
    assert tol["b"] == 200   # fwd gap 3 <= 3
    assert tol["c"] is None  # back gap 5 > 3, no fwd
    # an out-of-range back row must NOT shadow an in-range fwd row
    sh_l = spark.createDataFrame([("u", 20, "s")], "k string, ts long, tag string")
    sh_r = spark.createDataFrame(
        [("u", 1, 9), ("u", 22, 8)], "k string, ts long, v int"
    )
    got2 = asof_join(
        sh_l, sh_r, on="ts", by="k", direction="nearest", tolerance=F.lit(5)
    ).collect()[0]
    assert (got2["v_matched"], got2["ts_matched"]) == (8, 22)


def test_asof_join_matched_row_null_is_inherited(spark):
    """A NULL value column in the matched (latest at-or-before) right row
    must come through as NULL — not a stale value carried from an older
    right row (pandas merge_asof / DuckDB ASOF semantics: the matched
    row's whole tuple)."""
    from deepcell_data_engineering_spark.operators.joins import asof_join

    left = spark.createDataFrame([("u1", 20, "a")], "k string, ts long, tag string")
    right = spark.createDataFrame(
        [("u1", 5, 100, "x"), ("u1", 15, None, "y")],
        "k string, ts long, v int, w string",
    )
    out = asof_join(left, right, on="ts", by="k").collect()
    assert len(out) == 1
    r = out[0]
    # matched row is ts=15: v is NULL there, w='y'; ts_matched points at it
    assert r["ts_matched"] == 15
    assert r["v_matched"] is None
    assert r["w_matched"] == "y"


def test_canonicalizer_rejects_hugeint_class_mismatch(spark, con):
    """Strictness regression (r3 hardening): an uncast SUM(BIGINT) oracle
    surfaces through DuckDB fetchdf() as float64 (HUGEINT), and the local
    checker must REJECT it against Spark's int64 even though every value
    is integer-equal — that mismatch is exactly what the driver's gate
    flags. If someone removes the dtype-class gate, this test goes red."""
    df = spark.createDataFrame([(1, 10), (2, 20)], "k INT, v LONG").groupBy(
        "k"
    ).sum("v").withColumnRenamed("sum(v)", "s")
    # uncast SUM over BIGINT -> HUGEINT -> float64 via fetchdf
    bad = "SELECT k, SUM(v) AS s FROM (VALUES (1, 10::BIGINT), (2, 20::BIGINT)) t(k, v) GROUP BY k"
    res = compare("hugeint_guard", df, con, bad)
    assert not res.ok and "dtype-class" in res.detail
    # the cast form passes
    good = "SELECT k, CAST(SUM(v) AS BIGINT) AS s FROM (VALUES (1, 10::BIGINT), (2, 20::BIGINT)) t(k, v) GROUP BY k"
    assert compare("hugeint_guard_cast", df, con, good).ok


def test_canonicalizer_array_guard_scans_all_rows(spark, con):
    """_array_cols must flag a column whose FIRST row is scalar but a
    later row holds a list (driver sort_values would crash on it)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1,), (2,)], "k INT").withColumn(
        "mixed",
        F.when(F.col("k") == 2, F.array(F.lit(1), F.lit(2))),
    )
    res = compare(
        "array_guard",
        df,
        con,
        "SELECT 1 AS k, NULL AS mixed UNION ALL SELECT 2, [1, 2]",
    )
    assert not res.ok and "array-typed" in res.detail


def test_interval_overlap_join_matches_direct_predicate(spark):
    """Bucket decomposition == the direct inequality join, on a fixture
    exercising every edge: touching endpoints (closed-interval
    inclusive), multi-bucket spans (pair must appear ONCE, not per
    shared bucket), zero-length intervals, disjoint-but-same-bucket
    pairs, and a pair whose only shared bucket is far from either
    start."""
    import random

    from pyspark.sql import functions as F

    from deepcell_data_engineering_spark.operators.joins import (
        interval_overlap_join,
    )

    hand_l = [(0, 0, 10), (1, 95, 105), (2, 200, 500), (3, 42, 42)]
    hand_r = [(10, 10, 20), (11, 105, 110), (12, 450, 900), (13, 43, 44),
              (14, 0, 1000)]
    rng = random.Random(7)
    rand_l = [
        (100 + i, s, s + rng.randint(0, 250))
        for i, s in enumerate(rng.randint(0, 1000) for _ in range(40))
    ]
    rand_r = [
        (200 + i, s, s + rng.randint(0, 250))
        for i, s in enumerate(rng.randint(0, 1000) for _ in range(40))
    ]
    left = spark.createDataFrame(
        hand_l + rand_l, "lid long, ls long, le long"
    )
    right = spark.createDataFrame(
        hand_r + rand_r, "rid long, rs long, re long"
    )
    for bucket in (7, 100, 5000):
        got = sorted(
            (r["lid"], r["rid"])
            for r in interval_overlap_join(
                left, right, "ls", "le", "rs", "re", bucket=bucket
            ).collect()
        )
        want = sorted(
            (r["lid"], r["rid"])
            for r in left.join(
                right,
                (F.col("ls") <= F.col("re")) & (F.col("rs") <= F.col("le")),
            ).collect()
        )
        assert got == want, f"bucket={bucket}"
        assert len(got) == len(set(got))  # no duplicated pairs
    # the hand-built edges are actually in the answer
    pairs = set(want)
    assert (0, 10) in pairs and (1, 11) in pairs  # touching endpoints
    assert (3, 14) in pairs and (0, 14) in pairs  # zero-length + spanning
    assert (3, 13) not in pairs  # adjacent but disjoint (43 > 42)


def test_interval_overlap_join_extra_on_key(spark):
    """extra_on tenant key: pairs only form within the same tenant."""
    from deepcell_data_engineering_spark.operators.joins import (
        interval_overlap_join,
    )

    left = spark.createDataFrame(
        [("a", 1, 0, 100), ("b", 2, 0, 100)], "t string, lid long, ls long, le long"
    )
    right = spark.createDataFrame(
        [("a", 10, 50, 60), ("b", 11, 50, 60)], "t string, rid long, rs long, re long"
    )
    got = sorted(
        (r["lid"], r["rid"])
        for r in interval_overlap_join(
            left, right, "ls", "le", "rs", "re", bucket=30, extra_on=["t"]
        ).collect()
    )
    assert got == [(1, 10), (2, 11)]


def test_x199_empty_orders_returns_empty_frame(spark, tmp_path):
    """x199 over a zero-row ``orders`` returns an empty frame with the
    populated result's column types — DuckDB's answer too — instead of
    raising from ``int(None)`` on the driver-side totals."""
    import os

    import pyarrow.parquet as pq

    empty_dir = str(tmp_path)
    src = pq.read_table(os.path.join(SF_SMOKE, "orders.parquet"))
    pq.write_table(src.slice(0, 0), os.path.join(empty_dir, "orders.parquet"))
    spec = QUERIES["x199_fd_histogram"]
    got = spec.build(spark, empty_dir)
    assert got.collect() == []
    full = spec.build(spark, SF_SMOKE)
    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in full.schema
    ]
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW orders AS SELECT * FROM "
            f"read_parquet('{empty_dir}/orders.parquet')"
        )
        assert con.execute(spec.oracle).fetchall() == []
    finally:
        con.close()
