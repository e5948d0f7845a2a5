"""Bounded-memory frequency sketches for open-vocabulary corpora.

x46's exact heavy hitters aggregate one state row per distinct term —
fine for a closed vocabulary, unbounded for the open token/URL/n-gram
spaces a 100 TB corpus produces. misra_gries_topk keeps a FIXED number
of counters per partition (the Misra-Gries summary, the deterministic
ancestor of SpaceSaving) and merges the partial summaries with an
explicit error bound:

- map side: each input partition folds its terms into a ``capacity``-
  counter summary; whenever the summary overflows, every counter decays
  by 1 (one "decrement round"). A term's summary count is a LOWER bound
  on its true partition frequency, undercounting by at most the
  partition's decrement total d_i.
- reduce side: summaries union and sum per term; the global undercount
  is at most D = sum(d_i), reported as ``max_err``. Any term with true
  frequency > D is GUARANTEED present (the classic n/capacity bound,
  tightened to the observed decrements).

So the output is (term, count_min, count_max=count_min+D) — rank
certainty up to D — with per-run deterministic results (no sampling,
no hashing). The Arrow-batched map stage is the only pass over the
data; the merge shuffles at most ``capacity`` rows per partition no
matter how large the vocabulary is.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _mg_trim(counts: dict[str, int], capacity: int) -> int:
    """Trim a Misra-Gries summary back to ``capacity`` counters by
    subtracting the (capacity+1)-th largest count from every counter
    and evicting the non-positive ones (the mergeable-summaries batch
    decrement: delta single-decrement rounds at once). Returns the
    decrement total charged."""
    if len(counts) <= capacity:
        return 0
    vals = sorted(counts.values(), reverse=True)
    delta = vals[capacity]
    for t in [t for t, c in counts.items() if c <= delta]:
        del counts[t]
    for t in counts:
        counts[t] -= delta
    return delta


def misra_gries_topk(
    df: DataFrame, col: str = "term", k: int = 20, capacity: int = 1024
) -> DataFrame:
    """Approximate top-k terms with deterministic error bounds under
    FIXED memory: (term, count_min, count_max, rank) for the k highest
    lower bounds; ``count_max - count_min`` = total decrements D across
    partitions. With ``capacity`` >= the distinct-term count the sketch
    never decrements and the result is EXACT (D = 0) — the property the
    oracle-checked query pins, while bounded-capacity behavior is
    pinned against exact counts in tests."""

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counts: dict[str, int] = {}
        dec = 0
        for pdf in batches:
            # vectorized pre-fold: collapse the Arrow batch to (term, n)
            # with value_counts (C path), then merge the aggregate into
            # the summary — one dict op per DISTINCT term per batch, not
            # per row. Adding n then batch-trimming preserves the MG
            # bound (mergeable-summaries combine), so the map stage no
            # longer scales with per-row Python cost.
            for term, n in pdf[col].value_counts().items():
                counts[term] = counts.get(term, 0) + int(n)
            dec += _mg_trim(counts, capacity)
        out = pd.DataFrame(
            {"term": list(counts), "c": list(counts.values())}
        )
        # one decrement-total row per partition (term=None carries it)
        out = pd.concat(
            [out, pd.DataFrame({"term": [None], "c": [dec]})],
            ignore_index=True,
        )
        yield out

    # NULL terms carry no identity (matching hll_registers/cms_build) —
    # and must not collide with the NULL decrement-carrier row below
    partial = (
        df.select(F.col(col).alias(col))
        .where(F.col(col).isNotNull())
        .mapInPandas(summarize, schema="term string, c long")
    )
    merged = partial.groupBy("term").agg(F.sum("c").alias("c"))
    # D = sum of all partitions' decrement rows (the NULL term)
    d_total = merged.where(F.col("term").isNull()).select(
        F.coalesce(F.sum("c"), F.lit(0)).alias("d")
    )
    return (
        merged.where(F.col("term").isNotNull())
        .orderBy(F.desc("c"), "term")
        .limit(k)
        .crossJoin(F.broadcast(d_total))
        .select(
            "term",
            F.col("c").alias("count_min"),
            (F.col("c") + F.col("d")).alias("count_max"),
        )
        .withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.desc("count_min"), "term")),
        )
    )


# ---------------------------------------------------------------------------
# HyperLogLog: mergeable distinct-count registers
# ---------------------------------------------------------------------------
#
# approx_count_distinct answers "how many distinct NOW" but its sketch
# lives and dies inside one aggregation — it cannot be persisted, merged
# with last week's run, or updated incrementally. These helpers expose
# the HLL REGISTER TABLE itself as a first-class DataFrame:
#
#   registers = hll_registers(tokens, "term", ["lang"])     # the state
#   hll_merge(registers_old, registers_new, ["lang"])       # union corpora
#   hll_estimate(registers, ["lang"])                       # the answer
#
# (group, bucket) -> max(rho) is a plain grouped max — deterministic,
# idempotent, and associative, so the register table composes exactly
# like the LSH band index (x53): persist it per ingest batch, merge by
# grouped max, estimate any time. m = 2^p registers per group bound the
# state (p=12 -> 4 KiB/group) no matter how many distinct values exist.
#
# The hash is the engine-portable md5-60bit used by the MinHash family
# (identical in Spark and DuckDB — the property that lets x59 be oracle-
# checked end-to-end): bucket = top p bits, rho = leading-zero count of
# the remaining 60-p bits + 1, computed EXACTLY via length(bin(w)) — no
# float log2 at the rounding boundary. The estimator is the classic
# bias-corrected alpha_m * m^2 / sum(2^-rho) with the linear-counting
# small-range correction; the 2^-rho sum is carried as an exact integer
# (scaled by 2^(61-p), which cannot overflow: m * 2^(61-p) = 2^61) so
# the estimate is partition-order independent — one float division at
# the end instead of a float sum per register.


def hll_registers(
    df: DataFrame, value_col: str, group_cols: list[str] | tuple[str, ...] = (),
    p: int = 12,
) -> DataFrame:
    """Per-group HLL register table: (group..., bucket, r) with one row
    per non-empty register. Mergeable by grouped max (hll_merge)."""
    if not 4 <= p <= 18:
        raise ValueError(f"p must be in [4, 18], got {p}")
    wbits = 60 - p
    h = _md5_60(F.col(value_col))
    w = h.bitwiseAND(F.lit((1 << wbits) - 1))
    rho = F.when(w == 0, F.lit(wbits + 1)).otherwise(
        F.lit(wbits) - F.length(F.bin(w)) + 1
    )
    return (
        # NULL values carry no identity — dropping them keeps the
        # register table free of a poisoned NULL bucket (all-NULL rho)
        df.where(F.col(value_col).isNotNull())
        .groupBy(*group_cols, F.shiftright(h, wbits).alias("bucket"))
        .agg(F.max(rho).alias("r"))
    )


def hll_merge(
    a: DataFrame, b: DataFrame, group_cols: list[str] | tuple[str, ...] = ()
) -> DataFrame:
    """Union two register tables: register-wise max. hll_merge(A, B) is
    exactly hll_registers(A_rows UNION B_rows) — pinned in tests — so
    incremental maintenance never re-reads old data."""
    return (
        a.unionByName(b).groupBy(*group_cols, "bucket").agg(F.max("r").alias("r"))
    )


def hll_estimate(
    registers: DataFrame, group_cols: list[str] | tuple[str, ...] = (),
    p: int = 12,
) -> DataFrame:
    """Distinct-count estimate per group from a register table:
    (group..., present, zeros, est). ``est`` is the raw double (callers
    round); typical error ~1.04/sqrt(2^p) (~1.6% at p=12)."""
    m = 1 << p
    s = 60 - p + 1  # max rho; scaled terms 2^(s-r) stay integral
    md = f"{float(m)!r}D"
    pow2s_d = f"{float(1 << s)!r}D"
    # Flajolet et al.'s bias constant: closed-form only for m >= 128;
    # m = 16/32/64 use the paper's tabulated values
    alpha = {16: "0.673D", 32: "0.697D", 64: "0.709D"}.get(
        m, f"0.7213D / (1.0D + 1.079D / {md})"
    )
    est_raw = (
        f"{alpha} * {md} * {md} * {pow2s_d} / CAST(sum_total AS DOUBLE)"
    )
    return (
        registers.groupBy(*group_cols)
        .agg(
            F.expr(f"sum(shiftleft(1L, {s} - r))").alias("sum_scaled"),
            F.count(F.lit(1)).alias("present"),
        )
        .withColumn(
            "sum_total",
            F.expr(
                f"sum_scaled + (CAST({m} AS BIGINT) - present) "
                f"* CAST({1 << s} AS BIGINT)"
            ),
        )
        .withColumn("zeros", F.expr(f"{m} - present"))
        .withColumn("est_raw", F.expr(est_raw))
        .withColumn(
            "est",
            F.expr(
                f"CASE WHEN est_raw <= 2.5D * {md} AND zeros > 0 "
                f"THEN {md} * ln({md} / CAST(zeros AS DOUBLE)) "
                f"ELSE est_raw END"
            ),
        )
        .drop("sum_scaled", "sum_total", "est_raw")
    )


# ---------------------------------------------------------------------------
# Count-Min sketch: mergeable point-frequency counters
# ---------------------------------------------------------------------------
#
# The third leg of the mergeable-sketch triad: Misra-Gries answers
# "what are the top terms" under fixed memory, HLL answers "how many
# distinct", Count-Min answers "how often does THIS key occur" for any
# key, from depth x width counters regardless of vocabulary size.
# est(key) = min_j counter[j][h_j(key)] >= true count always (hash
# collisions only ADD), and exceeds it by more than 2N/width with
# probability < (1/2)^depth.
#
# Like the HLL registers, the counter table is a plain DataFrame
# ((j, bucket, c), at most depth*width rows) maintained by grouped SUM —
# deterministic, associative, mergeable across ingest batches without
# re-reading old data, and engine-portable through the md5-28bit bucket
# hash (cms_merge == rebuild and the x62 oracle dual pin both).


def _cms_bucket(value: F.Column, j: F.Column, width: int) -> F.Column:
    digest = F.md5(F.concat(F.lit("cms"), j.cast("string"), F.lit(":"), value))
    return F.pmod(F.conv(F.substring(digest, 1, 7), 16, 10).cast("long"), width)


def cms_build(
    df: DataFrame,
    value_col: str,
    width: int = 4096,
    depth: int = 4,
    count_col: str | None = None,
) -> DataFrame:
    """Count-Min counter table (j, bucket, c) of df[value_col]: one
    explode(depth) fan-out + one grouped count. At most depth*width
    rows whatever the cardinality.

    ``count_col`` builds from a PRE-AGGREGATED frequency table (one
    row per distinct value carrying its count) instead of raw rows:
    counters are sums of per-value counts per bucket, bit-identical to
    the raw build by associativity of integer addition. This is the
    scale-honest form when a per-key count table already exists in the
    plan (x79/x86/x90 price joins from it): the depth-way explode then
    fans out DISTINCT KEYS, not raw rows, and the value scan is shared
    with the exact-twin aggregation through one reused exchange."""
    if width < 2 or depth < 1:
        raise ValueError(f"need width >= 2 and depth >= 1, got {width}x{depth}")
    j = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("j")
    src = df.where(F.col(value_col).isNotNull())  # NULL keys carry no identity
    if count_col is None:
        sel, agg = [F.col(value_col).alias("_v"), j], F.count(F.lit(1))
    else:
        sel = [F.col(value_col).alias("_v"), F.col(count_col).alias("_n"), j]
        agg = F.sum("_n")
    return (
        src.select(*sel)
        .groupBy("j", _cms_bucket(F.col("_v"), F.col("j"), width).alias("bucket"))
        .agg(agg.cast("long").alias("c"))
    )


def cms_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Counter-wise sum: cms_merge(build(A), build(B)) == build(A u B)
    exactly (pinned in tests) — incremental frequency state."""
    return a.unionByName(b).groupBy("j", "bucket").agg(F.sum("c").alias("c"))


def cms_lookup(
    cms: DataFrame,
    keys: DataFrame,
    value_col: str,
    width: int = 4096,
    depth: int = 4,
    est_col: str = "est_count",
) -> DataFrame:
    """Point-frequency estimates for every row of ``keys``: joins each
    key's depth buckets against the counter table and takes the min.
    The counter table is depth*width rows — always broadcastable — so
    the lookup costs one broadcast hash join + one grouped min, no
    shuffle of the counter state."""
    j = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("j")
    probes = keys.select("*", j).withColumn(
        "bucket", _cms_bucket(F.col(value_col), F.col("j"), width)
    )
    hit = probes.join(F.broadcast(cms), ["j", "bucket"], "left")
    return (
        hit.groupBy(*keys.columns)
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias(est_col))
    )


# ---------------------------------------------------------------------------
# Log-histogram: mergeable quantile registers with guaranteed bounds
# ---------------------------------------------------------------------------
#
# The quantile leg of the sketch family (top-k: Misra-Gries, distinct:
# HLL, frequency: CMS). Exact percentiles (d43) buffer a group's values;
# this sketch keeps one counter per LOG-SCALE BIN — bins split each
# octave [2^k, 2^(k+1)) into 4 sub-ranges, so ~4*log2(max) counters
# cover any non-negative integer domain (~250 rows for the full bigint
# range) and the state merges by grouped SUM across batches.
#
# Everything is EXACT integer arithmetic (bin id from length(bin(x)) and
# two bits below the leading bit — no float log), so registers are
# deterministic, partition-invariant, and engine-portable; the x63
# oracle rebuilds binning, cumulation, and bounds in SQL. The quantile
# answer is an INTERVAL [lo, hi] with the hard guarantee that the exact
# q-quantile value lies inside (the q-th smallest value is in the first
# bin whose cumulative count reaches ceil(q*n)); the bin's relative
# width is 2^(ceil(log2 x) - 2), i.e. the answer is tight to ~+-12%,
# and values < 4 get exact singleton bins.


def _hist_bin_expr(x: str) -> str:
    """Spark/portable SQL for the log-histogram bin id of non-negative
    bigint column ``x``: x itself below 4, else (nbits << 2) | (the two
    bits after the leading bit). Monotone in x."""
    nb = f"length(bin({x}))"
    return (
        f"CASE WHEN {x} < 4 THEN {x} "
        f"ELSE shiftleft({nb}, 2) | (shiftright({x}, {nb} - 3) & 3) END"
    )


_HIST_LO = (
    "CASE WHEN bin_id < 4 THEN bin_id "
    "ELSE shiftleft(cast(4 + (bin_id & 3) as bigint), "
    "cast(shiftright(bin_id, 2) as int) - 3) END"
)
_HIST_HI = (
    "CASE WHEN bin_id < 4 THEN bin_id "
    "ELSE shiftleft(cast(4 + (bin_id & 3) as bigint), "
    "cast(shiftright(bin_id, 2) as int) - 3) "
    "+ shiftleft(1L, cast(shiftright(bin_id, 2) as int) - 3) - 1 END"
)


def hist_registers(
    df: DataFrame, value_col: str, group_cols: list[str] | tuple[str, ...] = ()
) -> DataFrame:
    """Per-group log-histogram register table (group..., bin_id, c) for
    a non-negative integer column. Mergeable by grouped sum."""
    return (
        df.where(F.col(value_col) >= 0)
        .groupBy(*group_cols, F.expr(_hist_bin_expr(value_col)).alias("bin_id"))
        .agg(F.count(F.lit(1)).alias("c"))
    )


def hist_merge(
    a: DataFrame, b: DataFrame, group_cols: list[str] | tuple[str, ...] = ()
) -> DataFrame:
    """Counter-wise sum: merge == rebuild exactly (pinned in tests)."""
    return a.unionByName(b).groupBy(*group_cols, "bin_id").agg(
        F.sum("c").alias("c")
    )


def hist_quantiles(
    registers: DataFrame,
    group_cols: list[str] | tuple[str, ...],
    qs: list[float],
) -> DataFrame:
    """Quantile INTERVALS from a register table: for each group and q,
    (group..., q, lo, hi, n) where [lo, hi] is the bin containing the
    exact q-th smallest value (percentile_disc semantics: the value at
    row ceil(q*n)). The containment lo <= exact <= hi is a hard
    guarantee, not an expectation. Register tables are tiny (< 4 *
    log2(max) rows per group), so the two windows below cost nothing
    at any data scale: the running count ``cum`` and the group total
    ``n`` come out of ONE select over the registers (no separate total
    aggregate joined back), and only the FOLLOWING select explodes the
    qs — in the same select the windows would run over the q-multiplied
    rows."""
    gc = list(group_cols)
    grp = Window.partitionBy(*gc)
    cum = registers.select(
        *gc,
        "bin_id",
        F.sum("c").over(
            grp.orderBy("bin_id").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ).alias("cum"),
        F.sum("c").over(grp).alias("n"),
    )
    pick = (
        cum.select(
            "*", F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q")
        )
        .where(F.col("cum") >= F.ceil(F.col("q") * F.col("n")))
        .groupBy(*gc, "q", "n")
        .agg(F.min("bin_id").alias("bin_id"))
    )
    return pick.select(
        *gc,
        "q",
        F.expr(_HIST_LO).alias("lo"),
        F.expr(_HIST_HI).alias("hi"),
        "n",
    )


def hll_rollup_estimates(
    registers: DataFrame,
    group_cols: list[str],
    p: int = 12,
    fill: str = "(all)",
) -> DataFrame:
    """GROUP BY ROLLUP on sketch state: estimates at every prefix level
    of ``group_cols`` — (lvl, group_cols..., present, zeros, est) with
    rolled-up dimensions shown as ``fill`` — from ONE register build.
    lvl = number of rolled-up trailing dimensions (0 = finest).

    This is the lattice property of max-merge registers: the (source,
    lang) register table aggregates UP to (source) and to the grand
    total by plain grouped max, so one corpus pass answers distinct
    counts at every granularity — the sketch-state analog of d20's
    ROLLUP over additive counts. ``fill`` must not collide with a real
    dimension value (it replaces NULL markers to keep ordering
    engine-portable)."""
    n = len(group_cols)
    frames = []
    for k in range(n, -1, -1):
        keep = list(group_cols[:k])
        reg_k = (
            registers
            if k == n
            else registers.groupBy(*keep, "bucket").agg(F.max("r").alias("r"))
        )
        est = hll_estimate(reg_k, keep, p)
        cols = [F.lit(n - k).alias("lvl")]
        # kept dims cast to string so every level's frame carries the
        # same column types as the literal ``fill`` rows under ANSI
        # union rules (non-string group columns otherwise fail)
        cols += [
            (F.col(c).cast("string") if c in keep else F.lit(fill)).alias(c)
            for c in group_cols
        ]
        cols += [F.col("present"), F.col("zeros"), F.col("est")]
        frames.append(est.select(*cols))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def hll_sliding_registers(
    registers: DataFrame,
    day_col: str = "day",
    window_days: int = 7,
) -> DataFrame:
    """Trailing-window register tables from per-day HLL registers:
    (wend, bucket, r) where wend ranges over the days present in the
    input and each day's registers contribute to window ends day ..
    day+window_days-1. The sliding merge is a bounded fan-out
    (``window_days`` rows per register row, an EQUI-join shape — never
    a range join) followed by the usual grouped max, so a year of
    days x 4 KiB/group streams through one shuffle regardless of how
    many distinct values each day saw. Window ends with no source day
    (gaps/future) are dropped by the semi-join on the day spine."""
    spine = registers.select(F.col(day_col).alias("wend")).distinct()
    fan = registers.select(
        F.col(day_col),
        "bucket",
        "r",
        F.explode(F.sequence(F.lit(0), F.lit(window_days - 1))).alias("i"),
    ).select(
        F.expr(f"date_add({day_col}, i)").alias("wend"),
        F.col(day_col),
        "bucket",
        "r",
    )
    return (
        fan.join(spine, "wend", "left_semi")
        .groupBy("wend", "bucket")
        .agg(F.max("r").alias("r"))
    )


def cms_inner_product(a: DataFrame, b: DataFrame) -> DataFrame:
    """The CMS inner-product estimator: 1-row (est) upper bound on the
    equi-join size  sum_k f_a(k) * f_b(k)  between the two sketched key
    columns — min over depths of the bucket-wise counter product.
    Always >= the true join size (hash collisions only add cross
    terms). The query-planning primitive: join cardinality from two
    persisted depth x width counter tables, no scan of either input —
    at 100 TB this is how a planner prices a join before running it."""
    aa = a.select("j", "bucket", F.col("c").alias("ca"))
    bb = b.select("j", "bucket", F.col("c").alias("cb"))
    per_j = (
        aa.join(bb, ["j", "bucket"])
        .groupBy("j")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("s"))
    )
    return per_j.agg(F.min("s").alias("est"))


# ---------------------------------------------------------------------------
# KMV (k-minimum-values / theta) sketch: distinct counts AND direct set
# intersections from deterministic bounded state
# ---------------------------------------------------------------------------
#
# HLL registers (above) estimate |A| well, but |A intersect B| only by
# inclusion-exclusion, whose absolute error scales with |A union B| —
# useless for small overlaps between large sets. The KMV sketch keeps
# the k SMALLEST distinct md5-60bit hash values per group (Beyer et
# al., "On Synopses for Distinct-Value Estimation Under Multiset
# Operations", SIGMOD'07 — the ancestor of the theta-sketch family).
# Because "k smallest" is a pure order statistic of a deterministic
# hash, the state is reproducible bit-for-bit by ANY engine — the
# property that lets the DuckDB oracle rebuild it exactly, no
# tolerance bands — and it supports DIRECT intersection estimates:
# with theta = the k-th smallest hash, {h in state : h < theta} is a
# uniform sample of the value set at rate theta / 2^60, so
#   |A ∩ B|  ≈  |S_A ∩ S_B ∩ [0, theta_ab)| * 2^60 / theta_ab,
#   theta_ab = min(theta_A, theta_B).
# Groups with fewer than k distinct values are EXACT (theta = 2^60).
#
# Scale shape: the only full-data pass is the distinct on (group, h) —
# the same shuffle class as hll_registers' grouped max. A naive rank
# would then sort each group's entire distinct-hash set to find the k
# smallest, so kmv_registers pre-filters with a per-group threshold
# derived from approx_count_distinct (~ slack*k/nd of the hash space):
# the sort touches O(slack*k) rows per group instead of nd. The filter
# is semantically INVISIBLE: if >= k hashes survive it, the k smallest
# survivors ARE the k smallest overall; groups cut below k (possible
# only when the approx count overshoots the truth) are detected
# exactly and re-ranked unfiltered — the rescue path, exercised in
# tests with a deliberately tiny slack.

_KMV_SPACE = 1 << 60  # md5-60bit hashes are uniform in [0, 2^60)


def _md5_60(col: F.Column) -> F.Column:
    """The engine-portable md5-60bit hash shared with hll_registers."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast(
        "bigint"
    )


def kmv_registers(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | tuple[str, ...] = (),
    k: int = 256,
    slack: float = 8.0,
    prefilter: bool = False,
) -> DataFrame:
    """Per-group KMV state: (group..., rnk, h) — the k smallest
    distinct md5-60bit hashes of ``value_col``, rnk in 1..k ascending.
    Deterministic, engine-portable, mergeable via kmv_merge. NULL
    values carry no identity (the hll_registers convention).

    Plan shape (pinned in tests/test_plans.py). Default path: ONE scan
    into a distinct on (group, h) — map-side partial dedup bounds the
    exchange at the distinct-value count — then a bare ``row_number()
    <= k`` filter, which Spark rewrites to WindowGroupLimit (a partial
    per-partition top-k before the window exchange), so no full
    per-group sort ever runs.

    ``prefilter=True`` trades TWO extra scans of the input for a much
    smaller distinct exchange: a per-group hash threshold (~ slack*k/nd
    of the hash space, from a map-side-partial approx_count_distinct
    pass) is applied to the raw hashed rows BELOW the distinct, so
    only ~slack*k survivors per group shuffle. Groups the filter cut
    below k survivors (possible only when the approx count overshoots)
    are detected exactly from the threshold table and re-ranked
    unfiltered — a rescue branch that scans again even when empty.
    Worth it only when the input is cheap to re-scan (a persisted
    hashed column, not an explode of the raw corpus) AND per-group
    cardinality dwarfs slack*k; measured on the x83 shingle stream the
    default single-pass path is ~3x faster. Survivor counts come from
    a separate tiny aggregation rather than a count-window so the rank
    predicate stays WindowGroupLimit-rewritable; the rescue path is
    exercised in tests with a deliberately tiny slack."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    gcols = list(group_cols)
    # internal constant group key unifies the global (no group) case so
    # the rescue semi-join below always has join columns
    icols = gcols or ["__kmv_g"]
    rows = df.where(F.col(value_col).isNotNull())
    raw = rows.select(*gcols, _md5_60(F.col(value_col)).alias("h"))
    if not gcols:
        raw = raw.withColumn("__kmv_g", F.lit(1))
    w = Window.partitionBy(*icols).orderBy("h")

    def rank_topk(hashes: DataFrame) -> DataFrame:
        return (
            hashes.select(*icols, "h", F.row_number().over(w).alias("rnk"))
            .where(F.col("rnk") <= k)
            .select(*gcols, "rnk", "h")
        )

    if not prefilter:
        return rank_topk(raw.distinct())
    nd = rows.groupBy(*gcols).agg(F.approx_count_distinct(value_col).alias("nd"))
    if not gcols:
        nd = nd.withColumn("__kmv_g", F.lit(1))
    # threshold t ~ slack*k/nd of the hash space; t >= 2^60 means "no
    # cut" (tiny groups where the whole set is cheaper than the guard)
    thr = nd.select(
        *icols,
        F.least(
            F.lit(float(_KMV_SPACE)),
            F.lit(float(_KMV_SPACE))
            * F.lit(float(slack) * k)
            / F.greatest(F.col("nd"), F.lit(1)).cast("double"),
        )
        .cast("bigint")
        .alias("t"),
    )
    # pre-distinct cut: the filter commutes with distinct (it is a pure
    # row predicate on (group, h)), so only survivors reach the
    # distinct's exchange — the actual 100 TB saving
    filt = (
        raw.join(F.broadcast(thr), icols)
        .where((F.col("h") < F.col("t")) | (F.col("t") >= F.lit(_KMV_SPACE)))
        .select(*icols, "h")
        .distinct()
    )
    nsurv = filt.groupBy(*icols).agg(F.count(F.lit(1)).alias("nsurv"))
    ok_groups = (
        nsurv.join(thr, icols)
        .where(
            (F.col("nsurv") >= k) | (F.col("t") >= F.lit(_KMV_SPACE))
        )
        .select(*icols)
    )
    ok = rank_topk(filt.join(F.broadcast(ok_groups), icols, "left_semi"))
    # a group is suspect iff the filter actually cut (t < 2^60) AND
    # fewer than k hashes survived — the only case where the k-smallest
    # could have been lost. Derived from the THRESHOLD table, not from
    # the surviving rows: a group cut all the way to zero survivors has
    # no surviving row to flag itself.
    suspects = (
        thr.where(F.col("t") < F.lit(_KMV_SPACE))
        .join(F.broadcast(ok_groups), icols, "left_anti")
        .select(*icols)
    )
    rescue = rank_topk(
        raw.join(F.broadcast(suspects), icols, "left_semi").distinct()
    )
    return ok.unionByName(rescue)


def kmv_merge(
    a: DataFrame,
    b: DataFrame,
    group_cols: list[str] | tuple[str, ...] = (),
    k: int = 256,
) -> DataFrame:
    """Union two KMV states: the k smallest of the distinct union —
    exactly kmv_registers over the concatenated inputs (pinned in
    tests), so persisted per-batch states compose without re-reading
    old data. Inputs are <= k rows/group each, so the re-rank is
    trivially bounded (no prefilter needed)."""
    gcols = list(group_cols)
    icols = gcols or ["__kmv_g"]
    u = (
        a.select(*gcols, "h")
        .unionByName(b.select(*gcols, "h"))
        .distinct()
    )
    if not gcols:
        u = u.withColumn("__kmv_g", F.lit(1))
    w = Window.partitionBy(*icols).orderBy("h")
    return (
        u.select(*icols, "h", F.row_number().over(w).alias("rnk"))
        .where(F.col("rnk") <= k)
        .select(*gcols, "rnk", "h")
    )


def kmv_estimate(
    registers: DataFrame,
    group_cols: list[str] | tuple[str, ...] = (),
    k: int = 256,
) -> DataFrame:
    """Distinct-count estimate per group: (group..., n_state, theta,
    est). A saturated state (n_state = k) estimates (k-1) * 2^60 /
    theta with theta = the k-th smallest hash; an unsaturated state
    saw every distinct value and is exact (theta = 2^60, est =
    n_state). Relative error ~ 1/sqrt(k-2)."""
    gcols = list(group_cols)
    st = registers.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("n_state"), F.max("h").alias("hmax")
    )
    theta = F.when(F.col("n_state") >= k, F.col("hmax")).otherwise(
        F.lit(_KMV_SPACE)
    )
    return st.select(
        *gcols,
        "n_state",
        theta.alias("theta"),
        F.when(F.col("n_state") < k, F.col("n_state").cast("double"))
        .otherwise(
            F.lit(float(k - 1)) * F.lit(float(_KMV_SPACE)) / theta.cast("double")
        )
        .alias("est"),
    )


def kmv_intersect_pairs(
    registers: DataFrame, group_col: str, k: int = 256
) -> DataFrame:
    """Pairwise intersection estimates across every group pair (g_a <
    g_b): (g_a, g_b, common, theta_ab, est_inter). common counts the
    shared hashes below theta_ab = min(theta_a, theta_b) — a uniform
    sample of the intersection at rate theta_ab / 2^60 — and
    est_inter scales it back up. Pairs where BOTH states are
    unsaturated are exact. The registers are k rows/group no matter
    how large the corpora, so every join here is sketch-sized — the
    100 TB intersection answer without ever joining the data."""
    st = registers.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_state"), F.max("h").alias("hmax")
    )
    th = st.select(
        F.col(group_col).alias("g"),
        F.when(F.col("n_state") >= k, F.col("hmax"))
        .otherwise(F.lit(_KMV_SPACE))
        .alias("theta"),
    )
    pairs = (
        th.alias("ta")
        .join(th.alias("tb"), F.col("ta.g") < F.col("tb.g"))
        .select(
            F.col("ta.g").alias("g_a"),
            F.col("tb.g").alias("g_b"),
            F.least(F.col("ta.theta"), F.col("tb.theta")).alias("theta_ab"),
        )
    )
    ra = registers.select(F.col(group_col).alias("g_a"), "h")
    rb = registers.select(F.col(group_col).alias("g_b"), "h")
    com = (
        ra.join(rb, "h")
        .where(F.col("g_a") < F.col("g_b"))
        .join(F.broadcast(pairs), ["g_a", "g_b"])
        .where(F.col("h") < F.col("theta_ab"))
        .groupBy("g_a", "g_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        pairs.join(com, ["g_a", "g_b"], "left")
        .select(
            "g_a",
            "g_b",
            F.coalesce(F.col("common"), F.lit(0)).cast("bigint").alias("common"),
            "theta_ab",
            (
                F.coalesce(F.col("common"), F.lit(0)).cast("double")
                * F.lit(float(_KMV_SPACE))
                / F.col("theta_ab").cast("double")
            ).alias("est_inter"),
        )
    )
