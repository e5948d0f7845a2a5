"""Exactly-reproducible distributed statistics.

Spark's built-in ``stddev``/``corr``/``covar_samp`` merge per-partition
float partials, so their low-order bits depend on partitioning and task
order — fine for analytics, fatal for value-hash reproducibility (and
for regression-testing a 1000-executor run against a laptop run). The
scale-safe alternative when inputs are (or can be scaled to) integers:
aggregate INTEGER power sums — exact, associative, order-insensitive,
overflow-checked by ANSI mode — and derive the float statistics from
those moments with a fixed IEEE expression (every op correctly rounded,
hence bit-identical on any engine, any partitioning).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def moment_sums(x: Column, y: Column) -> list[Column]:
    """The six power sums of an (x, y) integer pair. Inputs must be
    integral-valued; magnitudes must keep n * max(x^2) inside 2^53 so
    the moment-to-double conversion in the derived stats stays exact."""
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    ]


def derived_stats(prefix_x: str = "x", prefix_y: str = "y") -> list[Column]:
    """Sample stddev of x and Pearson corr(x, y) from the moment sums.
    Written as one fixed expression tree — the DuckDB oracle dual must
    spell the identical operation order so both engines perform the
    same sequence of correctly-rounded IEEE ops."""
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    var_num = n * sxx - sx * sx
    return [
        F.round(F.sqrt(var_num / (n * (n - F.lit(1.0)))), 6).alias(
            f"stddev_{prefix_x}"
        ),
        F.round(
            (n * sxy - sx * sy)
            / (F.sqrt(var_num) * F.sqrt(n * syy - sy * sy)),
            6,
        ).alias(f"corr_{prefix_x}_{prefix_y}"),
    ]


def moment_stats(
    df: DataFrame, x: Column, y: Column, group_cols: list[str]
) -> DataFrame:
    """Grouped exact-moment statistics: one shuffle (map-side partial
    integer sums), then per-group scalar math — no second pass, unlike
    the naive two-pass mean-then-deviation formulation."""
    return (
        df.groupBy(*group_cols)
        .agg(*moment_sums(x, y))
        .select(*group_cols, "n", "sx", "sy", *derived_stats())
    )


def grouped_quantiles(
    df: DataFrame,
    value: Column,
    group_cols: list[str],
    probs: list[float],
    names: list[str],
    max_exact_group: int | None = None,
    accuracy: int = 1000,
    approx_names: list[str] | None = None,
) -> DataFrame:
    """Grouped quantiles with a bounded-executor-memory guard.

    Exact ``percentile`` buffers every value of a group inside one
    aggregation buffer — fine for bounded groups, an executor OOM when a
    single group holds billions of rows at warehouse scale. This helper
    computes BOTH estimators in one shuffle and routes per group:

    - groups with ``count <= max_exact_group`` answer from the exact
      ``percentile`` buffer;
    - oversized groups never feed the exact buffer at all (their values
      are masked to NULL *before* aggregation, and Spark's Percentile
      aggregate skips nulls, so the unbounded buffer is never built) and
      answer from ``approx_percentile`` — a fixed-size, map-side-merged
      sketch.

    The pre-agg group-size pass is a tiny grouped count attached by
    broadcast. ``max_exact_group=None`` disables the guard (every group
    exact). Output: ``group_cols + names + [n, exact]`` where ``exact``
    says which estimator answered.
    """
    if len(names) != len(probs):
        raise ValueError(
            f"grouped_quantiles: {len(names)} names for {len(probs)} probs"
        )
    if approx_names is not None and len(approx_names) != len(probs):
        raise ValueError(
            f"grouped_quantiles: {len(approx_names)} approx_names for"
            f" {len(probs)} probs"
        )
    probs_lit = F.array(*[F.lit(float(p)) for p in probs])
    if max_exact_group is None:
        src = df
        small = F.lit(True)
        ncol = F.count(F.lit(1)).alias("n")
    else:
        gn = df.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("__gn"))
        # null-safe join keys: groupBy treats NULL as a real group, so a
        # plain inner equi-join would silently drop NULL-keyed groups
        # from the guarded path (and only that path)
        cond = None
        right = F.broadcast(
            gn.select(
                *[F.col(c).alias(f"__gk_{c}") for c in group_cols], "__gn"
            )
        )
        for c in group_cols:
            eq = F.col(c).eqNullSafe(F.col(f"__gk_{c}"))
            cond = eq if cond is None else (cond & eq)
        src = df.join(right, cond).drop(*[f"__gk_{c}" for c in group_cols])
        small = F.col("__gn") <= F.lit(max_exact_group)
        ncol = F.max("__gn").alias("n")
    agg = src.groupBy(*group_cols).agg(
        ncol,
        F.percentile(F.when(small, value), probs_lit).alias("__ex"),
        F.approx_percentile(value, probs_lit, F.lit(accuracy)).alias("__ap"),
        F.max(small.cast("boolean")).alias("exact"),
    )
    picked = [
        F.coalesce(
            F.element_at("__ex", i + 1), F.element_at("__ap", i + 1)
        ).alias(names[i])
        for i in range(len(probs))
    ]
    extra = (
        [
            F.element_at("__ap", i + 1).alias(approx_names[i])
            for i in range(len(probs))
        ]
        if approx_names
        else []
    )
    return agg.select(*group_cols, *picked, *extra, "n", "exact")


def merge_grouped_sums(
    parts: list[DataFrame], keys: list[str], sum_cols: list[str]
) -> DataFrame:
    """Combine partial grouped-sum/count states — the algebraic-
    aggregate property that makes incremental view maintenance work:
    count and sum states merge by addition, so yesterday's aggregate
    plus today's delta aggregate equals the full recompute without
    rescanning history. Union + one re-aggregation shuffle of the
    (tiny) state relations."""
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    return merged.groupBy(*keys).agg(
        *[F.sum(c).alias(c) for c in sum_cols]
    )


def disc_percentiles_by_histogram(
    df: DataFrame, col: str, qs: list[float]
) -> list:
    """Exact percentile_disc (the value at row ceil(q*n)) for EVERY q
    in ``qs``, computed over the column's VALUE HISTOGRAM in ONE
    distributed action: groupBy(value).count, a cumulative window over
    the (small) distinct-value vocabulary, and per q the least value
    whose cumulative count reaches ceil(q*n). The row total folds into
    the same pass as a scalar window over the aggregated histogram
    (aggregate-bounded — the PLANCHECK window contract's allowed
    shape), so asking for three thresholds costs one job instead of
    six (r14: x76 previously recomputed its quality-feature pass per
    threshold AND per total). ceil(q*n) is evaluated in SQL as
    ``CEIL(q * n)`` over doubles — bit-identical to ``math.ceil`` on
    the same IEEE product. Distributed end to end — the only ordered
    window runs over distinct VALUES, never rows. Returns driver
    scalars in ``qs`` order (the k-means convention: corpus-level
    thresholds are 1-row driver state).

    ``qs`` must be a non-empty list of fractions with 0 < q <= 1
    (percentile_disc's domain here: q = 0 has no ceil(q*n)-th row);
    anything else raises ``ValueError`` before any Spark work."""
    from pyspark.sql import Window

    from deepcell_data_engineering_spark.functions.layout import value_at_rank

    if not qs:
        raise ValueError("disc percentiles need a non-empty qs list")
    bad = [q for q in qs if not 0 < q <= 1]
    if bad:
        raise ValueError(f"disc percentile fractions must satisfy 0 < q <= 1; got {bad}")

    vc = df.where(F.col(col).isNotNull()).groupBy(F.col(col).alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy()
    cum = (
        vc.withColumn("cum", F.sum("c").over(w))
        .withColumn("n", F.sum("c").over(wall))
    )
    aggs = [
        value_at_rank(
            F.col("cum"),
            F.col("v"),
            F.ceil(F.lit(float(q)) * F.col("n").cast("double")),
        ).alias(f"_p{i}")
        for i, q in enumerate(qs)
    ]
    rows = cum.agg(*aggs).collect()
    row = rows[0]
    if all(row[f"_p{i}"] is None for i in range(len(qs))):
        # an empty/all-NULL column yields an empty histogram: every
        # aggregate is NULL (the old two-action form raised here too)
        raise ValueError(f"disc percentile over empty/all-NULL column {col!r}")
    return [row[f"_p{i}"] for i in range(len(qs))]


def disc_percentile_by_histogram(
    df: DataFrame, col: str, q: float
) -> float:
    """Single-q convenience wrapper over
    :func:`disc_percentiles_by_histogram` (one action either way)."""
    return disc_percentiles_by_histogram(df, col, [q])[0]


def key_skew_report(
    df: DataFrame,
    key_col: str,
    label: str,
    counts: DataFrame | None = None,
    count_col: str = "c",
) -> DataFrame:
    """One-row skew diagnostic for a prospective shuffle key: (key_col,
    n_rows, n_keys, avg_count, p50_count, p99_count, top1_count,
    top1_share, recommended_salts). The planner-facing companion to
    x39's salted join: a key whose top1_share dwarfs 1/shuffle-
    partitions stalls every groupBy/join on its straggler partition,
    and this report prices that BEFORE running the shuffle.

    Pass ``counts`` (a per-key count table, count column named
    ``count_col``) to derive the report WITHOUT re-aggregating ``df``:
    when the caller already built the key's frequency table for its
    own purposes (a vocabulary, a dimension), the report reuses it —
    at 100 TB that removes a second full scan+shuffle of the input.
    ``df``/``key_col`` are ignored in that case.

    Fully declarative: one grouped count over the key, then the disc
    percentiles run over the histogram of COUNT VALUES (distinct
    per-key counts — thousands at most), never a row-level sort. The
    ordered window is over that tiny histogram, so the single-
    partition window stage is bounded at any corpus size.
    recommended_salts = ceil(top1_count / (n_rows / 32)) clamped to
    [1, 64] — integer arithmetic, engine-exact: how many ways the
    hottest key must split so its shards match an average partition
    of a 32-partition shuffle."""
    from pyspark.sql import Window

    if counts is not None:
        counts = counts.select(F.col(count_col).alias("c"))
    else:
        counts = (
            df.where(F.col(key_col).isNotNull())
            .groupBy(F.col(key_col).alias("k"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
    agg = counts.agg(
        F.sum("c").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.max("c").cast("bigint").alias("top1_count"),
    )
    hist = counts.groupBy(F.col("c").alias("v")).agg(
        F.count(F.lit(1)).alias("f")
    )
    w = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pq = (
        hist.withColumn("cum", F.sum("f").over(w))
        .crossJoin(F.broadcast(agg.select("n_keys")))
        .agg(
            F.min(
                F.when(
                    F.col("cum") >= F.ceil(F.lit(0.5) * F.col("n_keys")),
                    F.col("v"),
                )
            )
            .cast("bigint")
            .alias("p50_count"),
            F.min(
                F.when(
                    F.col("cum") >= F.ceil(F.lit(0.99) * F.col("n_keys")),
                    F.col("v"),
                )
            )
            .cast("bigint")
            .alias("p99_count"),
        )
    )
    return (
        agg.crossJoin(F.broadcast(pq))
        .select(
            F.lit(label).alias("key_col"),
            "n_rows",
            "n_keys",
            F.round(
                F.col("n_rows").cast("double") / F.col("n_keys").cast("double")
                + F.lit(0.0),
                2,
            ).alias("avg_count"),
            "p50_count",
            "p99_count",
            "top1_count",
            F.round(
                F.col("top1_count").cast("double")
                / F.col("n_rows").cast("double")
                + F.lit(0.0),
                4,
            ).alias("top1_share"),
            F.greatest(
                F.lit(1).cast("bigint"),
                F.least(
                    F.lit(64).cast("bigint"),
                    F.expr("(top1_count * 32 + n_rows - 1) div n_rows"),
                ),
            ).alias("recommended_salts"),
        )
    )


def table_profile(
    df: DataFrame, kinds: dict[str, str], approx: bool = False
) -> DataFrame:
    """ANALYZE-style column profile in ONE pass: (col_name, n_rows,
    n_null, null_frac, ndv, min_str, max_str, avg_len) per profiled
    column. ``kinds`` maps column -> 'int' | 'str' | 'dbl' | 'ts' and
    gates which stats are portable: min/max render as strings only for
    types whose string form is engine-canonical (integers, strings,
    timestamps truncated to DATE); doubles profile counts/ndv only
    (their string form is formatter-dependent); avg_len is for
    strings.

    Plan shape: ONE scan feeding ONE aggregation, then a 1-row
    ``stack`` generate pivots the wide aggregate into the long report.
    Never one scan per column — at 100 TB the naive per-column UNION
    rescans the table once per column.

    ``approx`` picks the NDV estimator. ``False`` (default, the
    oracle-checked configuration) uses exact COUNT(DISTINCT), which
    Spark resolves through an Expand node: still one scan, but the row
    stream multiplies by ~(#profiled columns + 1) before the
    aggregation — profiling 6 columns of a 100 TB table shuffles ~7×
    the rows. ``True`` swaps in approx_count_distinct (HLL++, default
    rsd 5%): no Expand, a single unmultiplied pass — the right mode at
    scale, because every consumer of NDV here (x86's join-order
    pricing, CBO-style |A⋈B| ≈ |A|·|B|/max(ndv) estimates) tolerates
    a few percent of error."""
    ndv = F.approx_count_distinct if approx else F.countDistinct
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c, kd in kinds.items():
        aggs.append(F.count(F.col(c)).alias(f"__cnt_{c}"))
        aggs.append(ndv(F.col(c)).alias(f"__ndv_{c}"))
        if kd in ("int", "str"):
            aggs.append(F.min(F.col(c)).cast("string").alias(f"__min_{c}"))
            aggs.append(F.max(F.col(c)).cast("string").alias(f"__max_{c}"))
        elif kd == "ts":
            aggs.append(
                F.min(F.col(c).cast("date")).cast("string").alias(f"__min_{c}")
            )
            aggs.append(
                F.max(F.col(c).cast("date")).cast("string").alias(f"__max_{c}")
            )
        if kd == "str":
            aggs.append(F.avg(F.length(F.col(c))).alias(f"__len_{c}"))
    row = df.agg(*aggs)
    parts = []
    for c, kd in kinds.items():
        parts += [
            f"'{c}'",
            "__n",
            f"(__n - __cnt_{c})",
            f"round(try_divide(cast(__n - __cnt_{c} as double),"
            f" cast(__n as double)) + 0.0D, 4)",
            f"__ndv_{c}",
            f"__min_{c}" if kd != "dbl" else "cast(null as string)",
            f"__max_{c}" if kd != "dbl" else "cast(null as string)",
            f"round(__len_{c} + 0.0D, 2)"
            if kd == "str"
            else "cast(null as double)",
        ]
    expr = (
        f"stack({len(kinds)}, "
        + ", ".join(parts)
        + ") AS (col_name, n_rows, n_null, null_frac, ndv,"
        " min_str, max_str, avg_len)"
    )
    return row.select(F.expr(expr))


def grouped_disc_percentile(
    df: DataFrame,
    group_col: str,
    value_col: str,
    fractions: dict[str, tuple[int, int]],
) -> DataFrame:
    """Exact per-group percentile_disc for every ``{name: (nu, de)}``
    in ``fractions``: the least value whose cumulative count reaches
    ceil(nu*n/de) within its group (:func:`layout.disc_rank`). Each
    quantile arrives as an INTEGER fraction so the target rank is pure
    integer arithmetic — no float q*n whose rounding could differ
    between engines — and the disc value IS a data value, hashable
    cross-engine (an interpolated percentile of an even group is
    engine-float-shaped). The lower median is ``{"med": (1, 2)}``.

    Distributed shape (the disc_percentiles_by_histogram pattern, made
    grouped and driver-free): groupBy(group, value).count builds the
    per-group VALUE HISTOGRAM; the cumulative window and the group
    total are PARTITIONED BY the group, so every group's ordered scan
    runs in parallel and no stage sees a global row sort; then ONE
    grouped aggregate picks every rank (:func:`layout.value_at_rank`).
    Returns (group_col, n, *names): n counts the group's non-NULL
    values only (percentile_disc ignores NULLs), so it is COUNT(value),
    not COUNT(*); a fraction may not be named ``n`` or ``group_col``."""
    from pyspark.sql import Window

    from deepcell_data_engineering_spark.functions.layout import (
        disc_rank,
        value_at_rank,
    )

    clash = {"n", group_col} & set(fractions)
    if clash:
        raise ValueError(f"fraction names clash with output columns: {clash}")

    vc = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(F.col(group_col).alias("g"), F.col(value_col).alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("g").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = vc.withColumn("cum", F.sum("c").over(w)).withColumn(
        "n", F.sum("c").over(Window.partitionBy("g"))
    )
    return cum.groupBy(F.col("g").alias(group_col)).agg(
        F.max("n").alias("n"),
        *[
            value_at_rank(
                F.col("cum"), F.col("v"), disc_rank(F.col("n"), nu, de)
            ).alias(name)
            for name, (nu, de) in fractions.items()
        ],
    )


def mad_outlier_report(
    df: DataFrame, group_col: str, value_col: str, n_sigmas: float = 3.0
) -> DataFrame:
    """Robust per-group outlier screen: |x - median| > n_sigmas * MAD,
    where MAD is the (disc) median absolute deviation — the screen a
    data-quality gate runs over a metric column before training. Mean/
    stddev z-scores move with the outliers they hunt (one 1e9 value
    inflates sigma until nothing is an outlier); the median/MAD pair is
    breakdown-point-0.5 robust, and the disc formulation keeps every
    statistic an actual data value (exact, hashable cross-engine).

    Two grouped-histogram median passes + one conditional-count
    aggregation; every window is partitioned by the group. Returns one
    row per group: n, med, mad, n_outliers, n_low, n_high."""
    med = grouped_disc_percentile(df, group_col, value_col, {"med": (1, 2)})
    dev = (
        df.select(group_col, value_col)
        .where(F.col(value_col).isNotNull())
        .join(F.broadcast(med.drop("n")), group_col)
        .withColumn("dev", F.abs(F.col(value_col) - F.col("med")))
    )
    mad = grouped_disc_percentile(dev, group_col, "dev", {"mad": (1, 2)})
    out = F.col("dev") > F.lit(n_sigmas) * F.col("mad")
    return (
        dev.join(F.broadcast(mad.drop("n")), group_col)
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("med").alias("med"),
            F.min("mad").alias("mad"),
            F.sum(F.when(out, 1).otherwise(0)).cast("long").alias("n_outliers"),
            F.sum(
                F.when(out & (F.col(value_col) < F.col("med")), 1).otherwise(0)
            ).cast("long").alias("n_low"),
            F.sum(
                F.when(out & (F.col(value_col) > F.col("med")), 1).otherwise(0)
            ).cast("long").alias("n_high"),
        )
    )


def winsorized_stats(
    df: DataFrame,
    group_col: str,
    value_col: str,
    lo: tuple[int, int] = (1, 20),
    hi: tuple[int, int] = (19, 20),
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-group winsorization report: clamp the value column to its
    group's [p_lo, p_hi] disc percentiles and aggregate the CLIPPED
    distribution — the standard robust pre-processing for a metric
    column whose tails are sensor noise (clip, don't drop: row count
    and joins stay intact). Quantiles arrive as integer fractions
    (default 1/20 and 19/20).

    The winsorized mean is carried as a SCALED-INTEGER sum (each
    clipped value rounds to ``scale``-ths once, per row; the sum is
    then exact BIGINT arithmetic) so the aggregate is independent of
    partition order — the d49 integer-cents convention generalized.

    Returns per group: n, p_lo, p_hi, n_clip_lo, n_clip_hi,
    wsum_scaled (exact BIGINT)."""
    ps = grouped_disc_percentile(
        df, group_col, value_col, {"p_lo": lo, "p_hi": hi}
    )
    v = F.col(value_col)
    clip = F.least(F.greatest(v, F.col("p_lo")), F.col("p_hi"))
    return (
        df.select(group_col, value_col)
        .where(v.isNotNull())
        .join(F.broadcast(ps.drop("n")), group_col)
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("p_lo").alias("p_lo"),
            F.min("p_hi").alias("p_hi"),
            F.sum(F.when(v < F.col("p_lo"), 1).otherwise(0))
            .cast("long")
            .alias("n_clip_lo"),
            F.sum(F.when(v > F.col("p_hi"), 1).otherwise(0))
            .cast("long")
            .alias("n_clip_hi"),
            F.sum(F.round(clip * scale, 0).cast("long"))
            .cast("long")
            .alias("wsum_scaled"),
        )
    )


def ks_distance(
    hist: DataFrame, order_col: str, a_col: str, b_col: str
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov distance from a merged VALUE
    HISTOGRAM (one row per distinct value, per-side counts): returns a
    1-row frame (n_a, n_b, d_num, ks_d, ks_at) where d_num is the
    integer sup |cumA*nB - cumB*nA|, ks_d = d_num/(nA*nB) is the one
    rounded float, and ks_at is the smallest value achieving the sup.
    An empty histogram gives n_a = n_b = 0 and NULL for the rest; an
    empty side gives ks_d NULL (DuckDB's x / 0), not a division error.

    The histogram is the mergeable STATE of this statistic (per-value
    counts add), so the same function serves the batch query (x158)
    and the streaming drift monitor that maintains the histogram
    incrementally — whole-CDF drift from state, never from raw
    history. Both cumulative sides ride ONE multi-column
    grouped_cumsum (a row-sized value domain never funnels through a
    single-partition window), whose group totals are nA and nB; then
    ONE global aggregate takes the totals and the sup: the min of
    (-|diff|, value) is the largest difference at its smallest value.
    No totals aggregate, no join."""
    from deepcell_data_engineering_spark.functions.layout import (
        grouped_cumsum,
    )

    ta, tb = f"tot_{a_col}", f"tot_{b_col}"
    dn = F.abs(
        F.col(f"cum_{a_col}") * F.col(tb) - F.col(f"cum_{b_col}") * F.col(ta)
    )
    best = F.min(F.struct((-dn).alias("neg_dn"), F.col(order_col).alias("v")))
    return (
        grouped_cumsum(hist, [], order_col, [a_col, b_col])
        .agg(
            F.coalesce(F.max(ta), F.lit(0).cast("long")).alias("n_a"),
            F.coalesce(F.max(tb), F.lit(0).cast("long")).alias("n_b"),
            best.alias("best"),
        )
        .select(
            "n_a",
            "n_b",
            (-F.col("best.neg_dn")).alias("d_num"),
            F.round(
                F.try_divide(
                    (-F.col("best.neg_dn")).cast("double"),
                    (F.col("n_a") * F.col("n_b")).cast("double"),
                )
                + F.lit(0.0),
                6,
            ).alias("ks_d"),
            F.col("best.v").alias("ks_at"),
        )
    )
