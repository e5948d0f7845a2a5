"""Data-layout planning: space-filling-curve clustering, zone maps,
and equi-depth range-partition boundaries.

At 100 TB the cheapest query is the one that never reads the file: a
scan's cost is dominated by which files min-max (zone-map) statistics
can prove irrelevant. Which files CAN be proven irrelevant is purely a
property of the write-time layout — rows clustered by a space-filling
curve (Z-order / Morton) keep BOTH filter dimensions locally narrow in
every file, while insertion order keeps only the insertion dimension
narrow. This module provides the building blocks the layout tier's
queries (x103/x106) compose, each with an identical-by-construction
SQL twin so the oracle gate can hash-check the layout math itself:

- :func:`morton_code` / :func:`morton_sql` — bit-interleaved Z-value
  (reference analog: the reconstruction grid's row-major ordering,
  ``data_utils/reshape_utils.py``, is the 1-D layout this generalizes).
- :func:`fixed_width_buckets` / :func:`fixed_width_buckets_sql` —
  map-only file assignment by the leading curve bits (each bucket is a
  quadtree cell); no sort, no shuffle, embarrassingly parallel.
- :func:`zone_maps` — per-(layout, bucket) min/max/count statistics,
  one grouped aggregation.
- :func:`grouped_cumsum` — DISTRIBUTED prefix sum: range-repartition,
  per-partition partial cumsums, broadcast the k partition offsets.
  The 100×-safe replacement for an ordered window whose partition key
  has few values (or none) over a near-unique ordering column.
- :func:`disc_rank` / :func:`value_at_rank` — the one exact-quantile
  lookup every percentile_disc-style caller shares: the integer rank
  ceil(nu*n/de) and the least value whose running count reaches it,
  as one conditional-min aggregate over a cumulative histogram.
- :func:`equi_depth_boundaries` — exact range-partitioner boundary
  values (what ``repartitionByRange`` estimates by sampling), derived
  from a distributed prefix sum over the VALUE HISTOGRAM (distinct
  values), never a global row sort and never a single-task window.

Everything here is integer arithmetic (``div``, bit ops) so the engine
and the DuckDB oracle agree bit-for-bit — no float rounding can move a
row across a bucket boundary.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: bits per dimension in the Morton interleave. 20 bits/dim covers key
#: domains to ~1M and yields a 40-bit code — comfortably BIGINT in both
#: engines (and code * n_buckets stays < 2^53 for any sane bucket
#: count, so even a double round-trip could not lose precision).
MORTON_BITS = 20


def morton_code(x: Column, y: Column, bits: int = MORTON_BITS) -> Column:
    """Two-dimensional Z-order value — x in the even bit positions, y
    in the odd. Thin wrapper over the engine's one Morton kernel,
    plans/layout.py:zvalue (bit b of cols[i] at position b*n+i; for
    n=2 that IS the classic interleave). Rows sorted by this code
    follow the Z curve, so any contiguous chunk of the sort order is a
    small axis-aligned region in (x, y) space — the property zone maps
    exploit. Values must fit in ``bits`` bits (higher bits are
    ignored, exactly like the SQL dual)."""
    from deepcell_data_engineering_spark.plans.layout import zvalue

    return zvalue([x, y], bits=bits)


def zorder_sql(cols: list[str], bits: int) -> str:
    """The zvalue bit-interleave as ANSI SQL text (DuckDB dual):
    bit b of cols[i] lands at position b*len(cols)+i — generated from
    the same loop shape as plans/layout.py:zvalue, so engine and
    oracle share the bit layout by construction. One generator serves
    every z-order oracle (x60, x103)."""
    n = len(cols)
    terms = [
        f"((({c} >> {b}) & 1)::BIGINT << {b * n + i})"
        for b in range(bits)
        for i, c in enumerate(cols)
    ]
    return "(" + " | ".join(terms) + ")"


def morton_sql(x: str, y: str, bits: int = MORTON_BITS) -> str:
    """Two-column convenience form of :func:`zorder_sql`."""
    return zorder_sql([x, y], bits)


def _int_div(a: Column, b: Column) -> Column:
    """Exact floored integer division: (a - (a mod b)) / b. The
    numerator is exactly divisible, so the double division is exact and
    the cast loses nothing — bit-identical to DuckDB's ``//``."""
    return ((a - F.pmod(a, b)) / b).cast("long")


def fixed_width_buckets(
    code: Column, max_code_plus1: Column, n_buckets: int
) -> Column:
    """File/bucket id in [0, n_buckets) by the leading bits of a layout
    code: bucket = (code * n) div (max_code + 1). Map-only — the 100 TB
    write path assigns every row independently, no global sort. Integer
    division keeps the boundary decision exact in both engines."""
    return _int_div(
        code.cast("long") * F.lit(n_buckets), max_code_plus1.cast("long")
    )


def fixed_width_buckets_sql(
    code: str, max_code_plus1: str, n_buckets: int
) -> str:
    """SQL dual of :func:`fixed_width_buckets` (DuckDB ``//``)."""
    return f"(({code}) * {n_buckets}) // ({max_code_plus1})"


def zone_maps(
    rows: DataFrame, layout_col: str, bucket_col: str, dims: list[str]
) -> DataFrame:
    """Per-(layout, bucket) zone-map statistics: row count plus min/max
    of every pruning dimension — exactly the footer statistics a
    parquet writer records per file. ONE grouped aggregation; with the
    layouts exploded into rows upstream, every candidate layout's zone
    maps come out of a single shuffle."""
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for d in dims:
        aggs.append(F.min(d).alias(f"min_{d}"))
        aggs.append(F.max(d).alias(f"max_{d}"))
    return rows.groupBy(layout_col, bucket_col).agg(*aggs)


def grouped_cumsum(
    hist: DataFrame,
    group_cols: list[str],
    order_col: str,
    count_col: str | list[str],
    n_parts: int | None = None,
) -> DataFrame:
    """Distributed inclusive prefix sum of ``count_col`` over
    ``order_col`` within each group: the classic two-phase scan.

    The naive ``Window.partitionBy(*group_cols).orderBy(order_col)``
    funnels each group through ONE task — a scale-killer when the
    group count is small (or zero) while the ordering column is
    near-unique (r7 verdict, x103/x106). Here instead:

    1. ``repartitionByRange(n_parts, *group_cols, order_col)`` — rows
       land range-partitioned in lexicographic order, so within a
       group every row in partition p sorts before every row in
       partition p+1.
    2. Per-partition partial cumsums — the window's partition key is
       the PHYSICAL partition id, so all n_parts tasks sort and scan
       in parallel.
    3. Per-(partition, group) totals are a tiny aggregate (≤ n_parts ×
       |groups| rows); their exclusive running sum per group gives
       each partition's offset, broadcast back and added.

    The result is independent of where the range partitioner split
    (any split of a sorted sequence yields the same prefix sums), so
    its sampling nondeterminism cannot move a result. Returns the
    group, order and count columns of ``hist`` (any other column is
    dropped: join it back by group and order value) plus long ``cum``
    and ``tot`` columns: ``tot`` is the whole group's
    sum of ``count_col``, a whole-group window over the tiny offsets
    frame (≤ n_parts × |groups| rows) that rides the same broadcast,
    so a caller needs no separately aggregated total joined back. Pass
    a LIST of count columns to scan several measures over ONE shared
    layout (returns ``cum_<col>`` and ``tot_<col>`` per column) —
    chaining two single-column calls instead would nest a second range
    partitioner inside the first call's join, whose branches then
    re-sample splits independently and trip the divergence guard below
    (observed: x158's two-sided CDF).

    ``n_parts`` (default: the context's ``defaultParallelism``) is the
    number of range partitions: one per core keeps every core busy
    without paying scheduler overhead for empty tasks on a small
    histogram. It is an explicit count, not AQE-coalesced, because
    both branches must split identically (below).

    Same-splits invariant (r8 ADVICE): the ``_pid`` join is only
    correct if the partial-cumsum branch and the offsets branch see
    the SAME range splits. Physically Spark deduplicates the two
    branches' exchanges (exchange reuse; ``apply_engine_conf`` pins
    ``spark.sql.exchange.reuse=true``), so the sampler runs once.
    Materializing ``parts`` instead (localCheckpoint) would make the
    invariant structural, but it block-manager-pins the ENTIRE
    histogram — measured: OOM-kills the 100x rehearsal's 180M-row
    x103 input on the 32-thread box, the exact scale this function
    exists for. So the invariant is enforced as a TRIPWIRE instead:
    the offsets side carries each (partition, group)'s min/max order
    value, and every joined row asserts its order value lies inside
    its partition's range — if the branches ever saw different splits
    (reuse disabled, future plan divergence), boundary rows land
    outside their joined bucket's range and the job FAILS loudly
    rather than returning wrong cumulative sums. (Ties cannot
    straddle a range split — equal keys share a bucket — so on
    consistent splits the assertion can never fire.) Reuse needs both
    branches to read the same columns below the range exchange, or
    column pruning splits it in two: so ``hist`` is narrowed to the
    group, order and count columns up front, and every ``cum``/``tot``
    output goes through the guard, whose error message reads every
    count column's partial sum and offset — whichever outputs a caller
    reads, both branches need all of them."""
    from pyspark.sql import Window

    single = isinstance(count_col, str)
    count_cols = [count_col] if single else list(count_col)
    if n_parts is None:
        n_parts = hist.sparkSession.sparkContext.defaultParallelism
    hist = hist.select(*group_cols, order_col, *count_cols)
    parts = hist.repartitionByRange(
        n_parts, *group_cols, order_col
    ).withColumn("_pid", F.spark_partition_id())
    wpart = (
        Window.partitionBy("_pid", *group_cols)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    partial = parts
    for c in count_cols:
        partial = partial.withColumn(f"_pcum_{c}", F.sum(c).over(wpart))
    woff = (
        Window.partitionBy(*group_cols)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = parts.groupBy("_pid", *group_cols).agg(
        *[F.sum(c).alias(f"_ptot_{c}") for c in count_cols],
        F.min(order_col).alias("_olo"),
        F.max(order_col).alias("_ohi"),
    )
    wgroup = Window.partitionBy(*group_cols)
    for c in count_cols:
        offsets = offsets.withColumn(
            f"_off_{c}",
            F.coalesce(F.sum(f"_ptot_{c}").over(woff), F.lit(0)),
        ).withColumn(
            f"_tot_{c}", F.sum(f"_ptot_{c}").over(wgroup).cast("long")
        )
    offsets = offsets.drop(*[f"_ptot_{c}" for c in count_cols])
    # the assertion lives INSIDE the cum expression so column pruning
    # can never drop it (assert_true returns NULL on success). NULL
    # order values short-circuit the guard: min/max skip NULLs, so
    # between() would be NULL and assert_true would treat a legitimate
    # NULL-order row as a split divergence — such rows sort into one
    # bucket (NULLS FIRST both branches) and are not boundary evidence.
    guard = F.assert_true(
        F.col(order_col).isNull()
        | F.col(order_col).between(F.col("_olo"), F.col("_ohi")),
        F.concat_ws(
            " ",
            F.lit(
                "grouped_cumsum: partial and offset branches saw "
                "different range splits (exchange reuse disabled or "
                "plan divergence) — cumulative sums would be wrong; "
                "row, partial sums, offsets:"
            ),
            F.col(order_col).cast("string"),
            *[F.col(f"_pcum_{c}").cast("string") for c in count_cols],
            *[F.col(f"_off_{c}").cast("string") for c in count_cols],
        ),
    )
    out = partial.join(F.broadcast(offsets), ["_pid", *group_cols])
    for c in count_cols:
        out = out.withColumn(
            "cum" if single else f"cum_{c}",
            F.when(
                guard.isNull(), F.col(f"_pcum_{c}") + F.col(f"_off_{c}")
            ).cast("long"),
        ).withColumn(
            "tot" if single else f"tot_{c}",
            F.when(guard.isNull(), F.col(f"_tot_{c}")),
        )
    return out.drop(
        "_pid",
        "_olo",
        "_ohi",
        *[f"_{x}_{c}" for x in ("pcum", "off", "tot") for c in count_cols],
    )


def disc_rank(n: Column, nu: int, de: int) -> Column:
    """The percentile_disc rank ceil(nu*n/de) of an integer fraction
    nu/de of a count n, as exact BIGINT arithmetic: (nu*n + de - 1)
    div de. No float q*n whose rounding could tip the ceil between
    engines — DuckDB's ``(nu * n + de - 1) // de`` is the same
    integer."""
    return F.call_function(
        "div", n.cast("long") * F.lit(nu) + F.lit(de - 1), F.lit(de)
    )


def value_at_rank(cum: Column, value: Column, k: Column) -> Column:
    """Aggregate: the least ``value`` whose inclusive running count
    ``cum`` reaches rank ``k`` — the lookup over a cumulative
    histogram that :func:`grouped_cumsum` (or an ordered window)
    produces. ``value`` may be a struct led by the order column, to
    carry the straddling row's other columns. NULL when no row
    reaches ``k``. One call per rank, all inside ONE grouped
    aggregate: no probe frame, no join back."""
    return F.min(F.when(cum >= k, value))


def boundary_ranges(
    cum_df: DataFrame,
    group_cols: list[str],
    value_col: str,
    count_col: str,
    n_ranges: int,
) -> DataFrame:
    """Equi-depth boundary extraction from :func:`grouped_cumsum`'s
    output (its ``cum`` and group total ``tot``) by pure integer
    arithmetic — no target join, no lag window. Value v (inclusive
    cum ``cum``, previous cum = cum - count) is the boundary for
    target rank t_i = ceil(i*n/B) exactly when i lies in
    [floor((cum-count)*B/n) + 1, floor(cum*B/n)] clamped to [1, B-1].
    Emits one (group..., i, b) row per boundary."""
    B = n_ranges
    cum_prev = F.col("cum") - F.col(count_col)
    return (
        cum_df.withColumn(
            "i_lo",
            F.greatest(
                F.lit(1), _int_div(cum_prev * B, F.col("tot")) + F.lit(1)
            ),
        )
        .withColumn(
            "i_hi",
            F.least(F.lit(B - 1), _int_div(F.col("cum") * B, F.col("tot"))),
        )
        .where(F.col("i_hi") >= F.col("i_lo"))
        .select(
            *group_cols,
            F.col(value_col).alias("b"),
            F.explode(F.sequence(F.col("i_lo"), F.col("i_hi"))).alias("i"),
        )
    )


def equi_depth_boundaries(
    hist: DataFrame, value_col: str, count_col: str, n_ranges: int
) -> DataFrame:
    """Exact equi-depth range-partition boundaries: the (n_ranges - 1)
    values at ranks ceil(i * n / n_ranges), i = 1..n_ranges-1 — the
    exact version of what ``repartitionByRange`` estimates by
    reservoir sampling. ``hist`` is the VALUE HISTOGRAM (one row per
    distinct non-NULL ``value_col``, its row count in ``count_col``:
    ``df.groupBy(v).count()``), so a caller that also needs the
    histogram builds it once. Returns a 1-row DataFrame with
    ``boundaries`` (sorted array) and ``n_total``.

    Distributed shape: the prefix sum over the histogram is the
    two-phase :func:`grouped_cumsum` (range-repartition +
    per-partition scans + broadcast offsets), so no single task ever
    sorts the whole histogram even when the value is near-unique, and
    the row total rides the same scan (``tot``); boundaries then fall
    out of per-row integer arithmetic (:func:`boundary_ranges`) — no
    driver scalar per boundary, no global row sort, no target join."""
    # global (no-grouping) collapse: the total is constant across rows,
    # so max() carries it — and the plan-contract sweep can PROVE the
    # frame is 1 row when a caller broadcasts it into a cross join
    # (a groupBy on the constant would be 1 row only by construction)
    cum = grouped_cumsum(hist, [], value_col, count_col)
    return boundary_ranges(cum, ["tot"], value_col, count_col, n_ranges).agg(
        F.max("tot").alias("n_total"),
        F.sort_array(F.collect_list("b")).alias("boundaries"),
    )


def range_assign(value: Column, boundaries: Column) -> Column:
    """Range id in [1, len(boundaries)+1]: 1 + number of boundaries
    strictly below the value. The boundaries array rides along as a
    1-row broadcast; the assignment is a map-side higher-order filter
    — the exact contract of Spark's RangePartitioner.getPartition."""
    return (
        F.size(F.filter(boundaries, lambda b: b < value)) + F.lit(1)
    ).cast("long")
