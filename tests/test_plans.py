"""Plan-shape contracts: broadcast star joins, pushdown/pruning evidence,
bucketed co-located joins (zero exchanges), and salted skew joins."""

import pytest
from pyspark.sql import functions as F

from deepcell_data_engineering_spark.catalog import load_table
from deepcell_data_engineering_spark.plans import inspect as pi
from deepcell_data_engineering_spark.plans import layout
from deepcell_data_engineering_spark.relational import QUERIES

SF = "/root/testdata/sf0.001"


def test_star_join_broadcasts(spark):
    df = QUERIES["d11_star_join_agg"].build(spark, SF)
    s = pi.join_strategies(df)
    assert s["broadcast_hash"] == 2
    assert s["sort_merge"] == 0 and s["shuffled_hash"] == 0


def test_scan_prunes_and_pushes(spark):
    df = QUERIES["d01_scan_filter"].build(spark, SF)
    cols = pi.scan_columns(df)
    assert cols and set(cols[0]) == {
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    }
    filters = pi.pushed_filters(df)
    assert any("l_quantity" in f for f in filters)


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    cust = load_table(spark, SF, "customer").select("c_custkey", "c_acctbal")
    orders = load_table(spark, SF, "orders").select("o_custkey", "o_totalprice")
    layout.write_bucketed(
        cust, "b_cust", ["c_custkey"], n_buckets=4, path=str(tmp_path / "bc")
    )
    layout.write_bucketed(
        orders.withColumnRenamed("o_custkey", "c_custkey"),
        "b_orders", ["c_custkey"], n_buckets=4, path=str(tmp_path / "bo"),
    )
    joined = layout.read_bucketed(spark, "b_cust").join(
        layout.read_bucketed(spark, "b_orders"), on="c_custkey"
    )
    assert pi.count_exchanges(joined) == 0  # co-located: no shuffle at all
    # same join on the unbucketed parquet shuffles (or broadcasts) — the
    # bucketed layout is what removed the exchange
    plain = cust.join(orders.withColumnRenamed("o_custkey", "c_custkey"), on="c_custkey")
    assert pi.count_exchanges(plain) > 0 or pi.join_strategies(plain)["broadcast_hash"] > 0
    # row parity
    assert joined.count() == plain.count()


def test_sessionize_plan_is_one_agg_shuffle(spark):
    df = QUERIES["x17_sessionize"].build(spark, SF)
    # one hash exchange for the session-window aggregation + the final
    # range exchange for the deterministic ORDER BY — nothing else
    assert pi.count_exchanges(df) == 2


def test_winnow_reuses_window_partitioning(spark):
    from deepcell_data_engineering_spark.functions import dedup as dd

    docs = load_table(spark, SF, "documents")
    fps = dd.winnow_fingerprints(docs)
    # the spread round-robin + the window's hash exchange on doc_id; the
    # trailing distinct on (doc_id, fp) must REUSE the window's
    # partitioning (hash on doc_id co-locates every (doc_id, fp) group),
    # not add a third exchange
    assert pi.count_exchanges(fps) == 2


def test_salted_join_matches_plain_join(spark):
    orders = load_table(spark, SF, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, SF, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    plain = orders.join(cust, on="o_custkey").select("o_orderkey", "c_name")
    salted = layout.salted_join(
        orders, cust, key="o_custkey", n_salts=4, salt_source="o_orderkey"
    ).select("o_orderkey", "c_name")
    a = sorted(map(tuple, plain.collect()))
    b = sorted(map(tuple, salted.collect()))
    assert a == b and len(a) > 0


def test_salted_join_rejects_outer(spark):
    orders = load_table(spark, SF, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, SF, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    with pytest.raises(ValueError, match="inner"):
        layout.salted_join(orders, cust, key="o_custkey", salt_source="o_orderkey", how="full")


def test_tfidf_single_token_explode(spark):
    """x22 must explode the token stream exactly once: the only
    documents scan reading `text` is the tf branch (the corpus-count
    scan is column-pruned to nothing)."""
    df = QUERIES["x22_tfidf_topk"].build(spark, SF)
    text_scans = [c for c in pi.scan_columns(df) if "text" in c]
    assert len(text_scans) == 1
    plan = pi.executed_plan(df)
    assert "WindowGroupLimit" in plan  # top-k pushed below the window sort


def test_stratified_sample_is_pure_filter(spark):
    """x24: no shuffle except the deterministic ORDER BY — sampling
    must never repartition."""
    df = QUERIES["x24_stratified_sample"].build(spark, SF)
    assert pi.count_exchanges(df) == 1  # the final sort only


def test_snapshot_diff_shuffles_narrow_rows(spark):
    """d42: only (key, hash) reaches the full-outer join — the scans
    must not read columns beyond key + compared columns."""
    df = QUERIES["d42_snapshot_diff"].build(spark, SF)
    for cols in pi.scan_columns(df):
        assert set(cols) <= {
            "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
        }


def test_moment_stats_one_shuffle_with_partials(spark):
    df = QUERIES["d41_moment_stats"].build(spark, SF)
    assert pi.count_exchanges(df) == 2  # group agg + final ORDER BY
    assert "partial" in pi.executed_plan(df).lower()  # map-side combine


def test_corpus_build_two_exchanges(spark):
    """x27 end-to-end: dedup window shuffle + final sort; the quality
    gate and sampling stages must not add exchanges."""
    df = QUERIES["x27_corpus_build"].build(spark, SF)
    assert pi.count_exchanges(df) == 2


def test_zorder_layout_tightens_both_dims(spark, tmp_path):
    """After z-order writing on (x, y), per-file min/max ranges must be
    tight on BOTH dimensions; a plain sort by x leaves y unclustered
    (full-range in most files). Tightness = mean per-file range as a
    fraction of the domain."""
    import pyarrow.parquet as pq
    import glob

    from deepcell_data_engineering_spark.plans import layout

    n = 1 << 12
    side = 1 << 6  # 64 x 64 grid
    rows = spark.range(n).select(
        (F.col("id") % side).alias("x"),
        ((F.col("id") * 2654435761) % side).alias("y"),  # decorrelated
    )

    def mean_range(path, col):
        spans = []
        for f in glob.glob(path + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = md.schema.names.index(col)
            lo = min(md.row_group(i).column(idx).statistics.min
                     for i in range(md.num_row_groups))
            hi = max(md.row_group(i).column(idx).statistics.max
                     for i in range(md.num_row_groups))
            spans.append((hi - lo + 1) / side)
        return sum(spans) / len(spans)

    pz = str(tmp_path / "zorder")
    layout.zorder_write(rows, pz, ["x", "y"], n_files=16, bits=6)
    plain = str(tmp_path / "xsort")
    (
        rows.repartitionByRange(16, "x")
        .sortWithinPartitions("x")
        .write.mode("overwrite")
        .parquet(plain)
    )
    # plain x-sort: x tight, y spans ~everything
    assert mean_range(plain, "x") < 0.25
    assert mean_range(plain, "y") > 0.6
    # z-order: BOTH dims tight enough to prune most files
    assert mean_range(pz, "x") < 0.5
    assert mean_range(pz, "y") < 0.5
    # layout change must not change the data
    back = spark.read.parquet(pz)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, rows.collect()))


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """With a selective filter on the dim side of a shuffle join, Spark
    injects a runtime bloom filter into the fact side — fact rows that
    cannot match die at the scan, before the exchange. Thresholds are
    lowered test-locally because the sf0.001 tables are far below the
    production defaults."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle join
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
        o = load_table(spark, SF, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        ).select("o_orderkey")
        j = li.join(o, li.l_orderkey == o.o_orderkey)
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter" in plan or "BloomFilter" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_observed_metrics_free_accounting(spark):
    from deepcell_data_engineering_spark.plans.metrics import (
        observed_filter,
        observed_quality,
    )

    docs = load_table(spark, SF, "documents")
    flt, obs = observed_filter(docs, F.length("text") > 200)
    kept = flt.count()
    assert obs.get["n_seen"] == docs.count()
    assert obs.get["n_kept"] == kept
    q, obs2 = observed_quality(
        docs.withColumn("maybe", F.nullif(F.col("lang"), F.lit("en"))),
        ["maybe", "doc_id"],
    )
    q.collect()
    m = obs2.get
    assert m["n_null_doc_id"] == 0
    assert m["n_null_maybe"] == docs.where(F.col("lang") == "en").count()
    assert m["n_rows"] == docs.count()


def test_ivf_inline_assignment_is_map_only(spark):
    """The small-model centroid assignment must stay join-free: centroids
    arrive as ONE 2-D literal scored through a single transform lambda
    (similarity._unit_rows_literal), so the plan has no join and exactly
    the spread() repartition as its only exchange."""
    from deepcell_data_engineering_spark.functions.similarity import ivf_assign

    emb = load_table(spark, SF, "embeddings")
    cent = emb.orderBy("vec_id").limit(8)
    df = ivf_assign(emb, cent, nprobe=2)
    s = pi.join_strategies(df)
    assert all(v == 0 for v in s.values()), s
    assert pi.count_exchanges(df) <= 1  # spread()'s widen-repartition only


def test_funnel_shares_one_user_partitioning(spark):
    """x37's three chained conditional window minima + the per-user
    rollup all reuse ONE hash exchange on user_id (plus the final
    single-row agg) — no self-joins, unlike the oracle's formulation."""
    df = QUERIES["x37_funnel"].build(spark, SF)
    assert pi.count_exchanges(df) == 2
    s = pi.join_strategies(df)
    assert all(v == 0 for v in s.values()), s


def test_gapfill_broadcasts_the_spine_join(spark):
    """x38's spine <- hourly attach must broadcast (both sides are
    aggregates, tiny next to the raw events)."""
    df = QUERIES["x38_gapfill"].build(spark, SF)
    assert pi.join_strategies(df)["broadcast_hash"] == 1
    assert pi.count_exchanges(df) <= 3


def test_window_rollups_are_single_agg_shuffles(spark):
    """x41/x42: one aggregation exchange + the deterministic ORDER BY
    range exchange — the streaming-window helpers add nothing else."""
    for name in ("x41_tumbling_rollup", "x42_sliding_rollup"):
        df = QUERIES[name].build(spark, SF)
        assert pi.count_exchanges(df) == 2, name
        s = pi.join_strategies(df)
        assert all(v == 0 for v in s.values()), (name, s)


def test_decontaminate_broadcasts_heldout_fingerprints(spark):
    """x33: the held-out fingerprint semi-join and the flag attach must
    both broadcast — the corpus side never shuffles for the join."""
    df = QUERIES["x33_decontaminate"].build(spark, SF)
    s = pi.join_strategies(df)
    assert s["broadcast_hash"] == 2 and s["sort_merge"] == 0, s


def test_compact_files_reduces_file_count(spark, tmp_path):
    from deepcell_data_engineering_spark.plans import layout

    src = str(tmp_path / "fragmented")
    # a fragmented write: 64 tiny files
    load_table(spark, SF, "orders").repartition(64).write.parquet(src)
    import glob

    assert len(glob.glob(f"{src}/*.parquet")) == 64
    out = str(tmp_path / "compacted")
    layout.compact_files(spark, src, out, target_file_bytes=64 * 1024 * 1024)
    got = glob.glob(f"{out}/*.parquet")
    assert len(got) <= 2  # orders at sf0.001 is far under one target file
    assert spark.read.parquet(out).count() == load_table(spark, SF, "orders").count()


def test_write_sorted_tightens_rowgroup_stats(spark, tmp_path):
    import glob

    import pyarrow.parquet as pq

    from deepcell_data_engineering_spark.plans import layout

    orders = load_table(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    p_sorted = str(tmp_path / "sorted")
    layout.write_sorted(orders, p_sorted, ["o_orderkey"], n_files=4)
    files = sorted(glob.glob(f"{p_sorted}/*.parquet"))
    assert len(files) == 4
    spans = []
    for f in files:
        md = pq.read_metadata(f)
        mins = [md.row_group(i).column(0).statistics.min for i in range(md.num_row_groups)]
        maxs = [md.row_group(i).column(0).statistics.max for i in range(md.num_row_groups)]
        spans.append((min(mins), max(maxs)))
    spans.sort()
    # non-overlapping key ranges: each file's span ends before the next begins
    for (a_lo, a_hi), (b_lo, b_hi) in zip(spans, spans[1:]):
        assert a_hi < b_lo
    # a point predicate prunes to one file's worth of splits
    got = spark.read.parquet(p_sorted).where("o_orderkey = 1").count()
    assert got == 1


def test_round4_iterative_queries_have_no_cartesian(spark):
    """x43/x44/x45: joins resolve as broadcast or sort-merge — never a
    nested-loop cartesian; x44's vocabulary attach broadcasts. x43's
    per-iteration edge-rank joins plan as sort-merge statically (the
    rank relation is per-node — NOT broadcastable at corpus scale) and
    AQE downgrades them to broadcast at runtime when actual sizes allow;
    forcing a broadcast hint would be the 100 TB mistake."""
    for name in ("x43_pagerank", "x44_unigram_logprob", "x45_minhash_calibration"):
        df = QUERIES[name].build(spark, SF)
        s = pi.join_strategies(df)
        assert s["broadcast_nested_loop"] == 0, (name, s)
    x44 = QUERIES["x44_unigram_logprob"].build(spark, SF)
    assert pi.join_strategies(x44)["broadcast_hash"] == 1
    assert pi.count_exchanges(x44) <= 3


def test_round5_queries_have_no_cartesian(spark):
    """The round-5 family keeps the no-cartesian contract: every join is
    keyed (bigram-PMI vocab attach, overlap fingerprint equi-join,
    incremental index probe, recall-eval composition)."""
    for name in (
        "x46_df_heavy_hitters",
        "x47_bigram_pmi",
        "x48_inverted_index",
        "x49_source_overlap",
        "x51_cluster_representatives",
        "x52_mixture_plan",
        "x53_incremental_lsh",
    ):
        plan = pi.executed_plan(QUERIES[name].build(spark, SF))
        assert "CartesianProduct" not in plan, name


def test_bigram_pmi_pair_stream_is_generator_only(spark):
    """x47's bigram extraction is arrays_zip-of-slices + explode — the
    pair stream must reach its first aggregation without ANY join or
    exchange above the scan (the whole point of the zip-slice shape vs
    a positional self-join)."""
    df = QUERIES["x47_bigram_pmi"].build(spark, SF)
    s = pi.join_strategies(df)
    # the only joins are the two broadcast vocab attaches
    assert s["sort_merge"] == 0 and s["shuffled_hash"] == 0
    assert s["broadcast_hash"] == 2


def test_incremental_lsh_probe_is_single_equi_join(spark):
    """x53: one keyed join (batch bands vs index bands) and no
    old-vs-old self-join of the corpus."""
    df = QUERIES["x53_incremental_lsh"].build(spark, SF)
    plan = pi.executed_plan(df)
    assert "CartesianProduct" not in plan
    total_joins = sum(pi.join_strategies(df).values())
    assert total_joins == 1


def test_stream_index_collisions_plan_is_stateless(spark):
    """The streaming screen compiles to a semi join with NO aggregation
    above the stream side — the property that makes it watermark-free."""
    from deepcell_data_engineering_spark.functions.dedup import (
        lsh_band_index,
        minhash_signatures,
        stream_index_collisions,
    )

    docs = load_table(spark, SF, "documents")
    old = docs.where(F.col("doc_id") % 4 != 0)
    new = docs.where(F.col("doc_id") % 4 == 0)
    bands = [["h0", "h1", "h2"], ["h3", "h4", "h5"]]
    index = lsh_band_index(minhash_signatures(old, num_hashes=6, k=5), bands=bands)
    flagged = stream_index_collisions(new, index, bands=bands)
    plan = pi.executed_plan(flagged)
    assert "LeftSemi" in plan
    # the probe side (rowwise signatures + band explode) aggregates nothing:
    # every HashAggregate in the plan belongs to the index's distinct-bands
    # build side, which is static
    left = plan.split("LeftSemi")[0]
    assert "HashAggregate" not in left.split("Generate")[0]


def test_incremental_probe_against_bucketed_index_skips_corpus_shuffle(spark, tmp_path):
    """The production posture for incremental dedup at 100 TB: the LSH
    band index is PERSISTED bucketed on ``band`` (plans/layout), so a
    daily batch's probe join re-shuffles only the batch — the corpus
    index is read straight out of its buckets with no Exchange above
    its scan."""
    from deepcell_data_engineering_spark.functions.dedup import (
        incremental_lsh_candidates,
        lsh_band_index,
        minhash_signatures,
    )

    docs = load_table(spark, SF, "documents")
    old = docs.where(F.col("doc_id") % 4 != 0)
    new = docs.where(F.col("doc_id") % 4 == 0)
    bands = [["h0", "h1", "h2"], ["h3", "h4", "h5"]]
    index = lsh_band_index(minhash_signatures(old, num_hashes=6, k=5), bands=bands)
    layout.write_bucketed(
        index, "lsh_index_bucketed", ["band"], n_buckets=8,
        path=str(tmp_path / "lsh_index"),
    )
    bucketed = layout.read_bucketed(spark, "lsh_index_bucketed")
    pairs = incremental_lsh_candidates(
        bucketed, minhash_signatures(new, num_hashes=6, k=5), bands=bands
    )
    plan = pi.executed_plan(pairs)
    # the bucketed scan advertises its bucket spec and no exchange feeds it
    assert "Bucketed: true" in plan
    # parity with the unbucketed probe
    unbucketed = incremental_lsh_candidates(
        index, minhash_signatures(new, num_hashes=6, k=5), bands=bands
    )
    assert sorted(map(tuple, pairs.collect())) == sorted(map(tuple, unbucketed.collect()))
    spark.sql("DROP TABLE IF EXISTS lsh_index_bucketed")


def test_bloom_prune_equals_plain_join_and_sits_under_exchange(spark):
    from deepcell_data_engineering_spark.plans import bloom

    li = load_table(spark, SF, "lineitem")
    urgent = load_table(spark, SF, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    joined = bloom.bloom_pruned_join(
        li, urgent, "l_orderkey", "o_orderkey", n_bits=1 << 14, n_hashes=5
    )
    plain = li.join(urgent, li.l_orderkey == urgent.o_orderkey)
    # semantic invisibility: pruning + exact join == plain join
    assert joined.count() == plain.count()
    # the probe is row-local: the bitset arrives by broadcast (1-row
    # nested-loop), and the membership forall appears as a Filter in the
    # plan — not a UDF, not a shuffle
    plan = pi.executed_plan(joined)
    assert "BroadcastNestedLoopJoin" in plan
    assert "forall" in plan and "pythonUDF" not in plan.lower()


def test_bloom_has_no_false_negatives_and_bounded_false_positives(spark):
    from deepcell_data_engineering_spark.plans import bloom

    li = load_table(spark, SF, "lineitem")
    keys = load_table(spark, SF, "orders").where(F.col("o_orderkey") % 10 == 3)
    bitset = bloom.bloom_build(keys.select("o_orderkey"), "o_orderkey", 1 << 13, 5)
    kept = bloom.bloom_prune(li, "l_orderkey", bitset, 1 << 13, 5)
    true_matches = li.join(
        keys, li.l_orderkey == keys.o_orderkey, "left_semi"
    )
    n_kept, n_true, n_total = kept.count(), true_matches.count(), li.count()
    # no false negative: every true match survives the prune
    assert n_kept >= n_true
    assert kept.join(keys, kept.l_orderkey == keys.o_orderkey, "left_semi").count() == n_true
    # the prune actually prunes (selectivity << 1) with bounded slack
    assert n_kept < n_total * 0.5


def test_bloom_build_rejects_unaligned_and_bad_join_type(spark):
    from deepcell_data_engineering_spark.plans import bloom

    keys = load_table(spark, SF, "orders").select("o_orderkey")
    with pytest.raises(ValueError, match="multiple of 64"):
        bloom.bloom_build(keys, "o_orderkey", n_bits=100)
    li = load_table(spark, SF, "lineitem")
    with pytest.raises(ValueError, match="inner/semi"):
        bloom.bloom_pruned_join(li, keys, "l_orderkey", "o_orderkey", how="left")


def test_x82_sql_udfs_inline_to_codegen(spark):
    """SQL UDFs must dissolve at analysis time: the aggregation plan
    contains no Python evaluation node and exactly one pre-shuffle
    partial aggregate over the scan — identical shape to writing the
    expressions by hand."""
    df = QUERIES["x82_sql_udf"].build(spark, SF)
    plan = pi.executed_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "HashAggregate" in plan
    assert pi.count_exchanges(df) <= 2  # partial agg + final sort only


def test_x80_codes_join_is_broadcast_no_vector_shuffle(spark):
    """The ADC join must broadcast the per-query LUT (160 rows) against
    the code stream; the full embedding vectors appear in NO exchange
    after encoding."""
    df = QUERIES["x80_pq_adc_topk"].build(spark, SF)
    s = pi.join_strategies(df)
    assert s["broadcast_hash"] >= 1
    assert s["sort_merge"] == 0 and s["shuffled_hash"] == 0


def test_round6_session2_queries_have_no_cartesian(spark):
    """x83-x86 keep the no-cartesian contract: every data-sized join is
    keyed (KMV register/threshold joins, leakage pair attach, skew
    histogram branches, CMS bucket products); the only nested-loop
    joins are 1-row broadcast composition attaches."""
    for name in (
        "x83_kmv_intersections",
        "x84_split_leakage",
        "x85_skew_report",
        "x86_join_order_plan",
    ):
        plan = pi.executed_plan(QUERIES[name].build(spark, SF))
        assert "CartesianProduct" not in plan, name


def test_kmv_prefilter_cuts_below_distinct_with_window_group_limit(spark):
    """The x83 scale contract, both halves:

    - the per-group hash threshold is applied to the RAW hashed rows as
      the residual of a broadcast join (``h < t OR t >= 2^60``) BELOW
      the distinct, so the distinct's exchange carries only the
      ~slack*k survivors per group, never the full distinct-hash set;
    - the k-smallest predicate stays a bare ``row_number() <= k``, so
      Spark rewrites it to WindowGroupLimit (Partial before the window
      exchange + Final after) on BOTH the filtered and the rescue
      branch — a distributed min-k, not a full per-group sort."""
    from deepcell_data_engineering_spark.functions.sketch import kmv_registers

    docs = load_table(spark, SF, "documents")
    src = docs.select("source", F.col("text").alias("v"))
    # default path: ONE scan -> distinct -> WindowGroupLimit min-k
    dplan = pi.executed_plan(kmv_registers(src, "v", ["source"], k=8))
    assert "CartesianProduct" not in dplan
    assert (
        sum("FileScan parquet" in ln for ln in dplan.splitlines()) == 1
    ), dplan
    assert dplan.count("WindowGroupLimit") >= 2, dplan
    # prefilter path: threshold residual below the distinct + rescue
    plan = pi.executed_plan(
        kmv_registers(src, "v", ["source"], k=8, prefilter=True)
    )
    assert "CartesianProduct" not in plan
    thresh_joins = [
        ln
        for ln in plan.splitlines()
        if "BroadcastHashJoin" in ln and "< t#" in ln
    ]
    assert thresh_joins, plan
    assert plan.count("WindowGroupLimit") >= 4, plan


def test_table_profile_is_one_scan_per_table(spark):
    """x87's contract: profiling N columns of a table costs ONE scan +
    ONE aggregation (COUNT DISTINCTs via Expand), never a per-column
    rescan — the plan must show exactly one FileScan per profiled
    table (orders, documents) and an Expand feeding the aggregate."""
    plan = pi.executed_plan(QUERIES["x87_table_profile"].build(spark, SF))
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert len(scans) == 2, plan
    assert "Expand" in plan
    assert "CartesianProduct" not in plan


def test_table_profile_approx_mode_drops_expand(spark):
    """table_profile(approx=True) must resolve NDV via
    approx_count_distinct — no Expand node, so the pre-aggregation row
    stream is NOT multiplied by (#profiled columns + 1). Exact stays
    the oracle-checked configuration; approx is the 100 TB mode, and
    its NDVs must land within the HLL++ rsd of exact."""
    from deepcell_data_engineering_spark.functions.stats import table_profile

    orders = load_table(spark, "/root/testdata/sf0.01", "orders")
    kinds = {
        "o_orderkey": "int",
        "o_custkey": "int",
        "o_orderstatus": "str",
        "o_totalprice": "dbl",
    }
    approx_df = table_profile(orders, kinds, approx=True)
    plan = pi.executed_plan(approx_df)
    assert "Expand" not in plan, plan
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert len(scans) == 1, plan
    exact = {
        r["col_name"]: r["ndv"]
        for r in table_profile(orders, kinds).collect()
    }
    approx = {r["col_name"]: r["ndv"] for r in approx_df.collect()}
    for c in kinds:
        rel = abs(approx[c] - exact[c]) / max(exact[c], 1)
        assert rel <= 0.10, (c, exact[c], approx[c])
    # non-NDV stats are estimator-independent: identical in both modes
    ex_rows = {
        r["col_name"]: (r["n_rows"], r["n_null"], r["min_str"], r["max_str"])
        for r in table_profile(orders, kinds).collect()
    }
    ap_rows = {
        r["col_name"]: (r["n_rows"], r["n_null"], r["min_str"], r["max_str"])
        for r in approx_df.collect()
    }
    assert ex_rows == ap_rows


def test_round7_queries_have_no_cartesian(spark):
    """x90-x94 keep the no-cartesian contract: CMS bucket products,
    candidate joins, LUT attaches and the salted join are all keyed;
    the only nested-loop joins are 1-row composition attaches."""
    for name in (
        "x90_cbo_estimates",
        "x91_profile_approx_certified",
        "x92_ivfpq_topk",
        "x93_approx_quantile_certified",
        "x94_adaptive_salted_join",
    ):
        plan = pi.executed_plan(QUERIES[name].build(spark, SF))
        assert "CartesianProduct" not in plan, name


def test_x92_ivfpq_vectors_never_shuffle_after_encoding(spark):
    """The x80 memory contract extended to IVF-PQ: after the map-only
    coarse assignment and PQ encoding, only 4-byte codes, candidate id
    pairs, and the broadcast LUT move - the full embedding vectors
    appear in no sort-merge/shuffled-hash exchange."""
    df = QUERIES["x92_ivfpq_topk"].build(spark, SF)
    s = pi.join_strategies(df)
    assert s["broadcast_hash"] >= 2, s  # probes attach + LUT attach
    assert s["sort_merge"] == 0 and s["shuffled_hash"] == 0, s


def test_x94_salted_join_shape(spark):
    """x94 must execute the SALTED join (join keys include the salt
    column) with the dimension exploded across salts - pinned the same
    way x39's plan is."""
    df = QUERIES["x94_adaptive_salted_join"].build(spark, SF)
    plan = pi.executed_plan(df)
    assert "_salt" in plan, plan
    assert "CartesianProduct" not in plan


def test_dynamic_partition_pruning_prunes_fact_scan(spark, tmp_path):
    """Dynamic partition pruning — THE partitioned-lakehouse join
    optimization at 100 TB: a selective filter on the dim side turns
    into a runtime IN-subquery on the fact side's PARTITION column, so
    the fact scan opens only the matching partition directories
    instead of all of them. Evidence required in-plan (a
    dynamicpruning expression on the fact scan's partition filters)
    and in-result (identical rows to the unpartitioned join)."""
    ev = load_table(spark, SF, "events").withColumn(
        "day", F.col("ts").cast("date").cast("string")
    )
    fact_path = str(tmp_path / "events_by_day")
    ev.write.partitionBy("day").parquet(fact_path)
    days = (
        ev.select("day").distinct().orderBy("day").limit(3)
        .withColumn("tag", F.lit("picked"))
    )
    dim_path = str(tmp_path / "picked_days")
    days.write.parquet(dim_path)

    fact = spark.read.parquet(fact_path)
    dim = spark.read.parquet(dim_path).where(F.col("tag") == "picked")
    joined = fact.join(dim, "day").groupBy("day").agg(
        F.count(F.lit(1)).alias("n")
    )
    plan = pi.executed_plan(joined)
    assert "dynamicpruning" in plan.lower(), plan[:2000]

    expect = sorted(
        (str(r["day"]), r["n"])
        for r in ev.join(days.select("day"), "day")
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    # partition-dir values re-infer as DATE on read; compare as strings
    got = sorted((str(r["day"]), r["n"]) for r in joined.collect())
    assert got == expect
    # the pruned scan must read fewer partition dirs than exist
    n_days = ev.select("day").distinct().count()
    assert n_days > 3  # the filter is actually selective on this data


def test_bnlj_scalar_build_detector(spark):
    """The plan-contract sweep's BNLJ gate: a 1-row aggregate attach is
    scalar; a data-sized broadcast nested loop is flagged."""
    docs = load_table(spark, SF, "documents").select("doc_id", "n_chars")
    one_row = docs.agg(F.sum("n_chars").alias("tot"))
    ok = docs.crossJoin(F.broadcast(one_row))
    assert pi.bnlj_build_sides_scalar(ok) == [True]
    # composition of scalars (the x133 / mixture shape) is still scalar
    two = one_row.crossJoin(F.broadcast(docs.agg(F.count(F.lit(1)).alias("n"))))
    assert pi.bnlj_build_sides_scalar(docs.crossJoin(F.broadcast(two))) == [
        True,
        True,
    ]
    # a data-sized build side violates the contract
    bad = docs.crossJoin(F.broadcast(docs.limit(10)))
    assert False in pi.bnlj_build_sides_scalar(bad)
    # no BNLJ at all -> empty evidence list
    assert pi.bnlj_build_sides_scalar(one_row) == []


def test_scan_profiles_read_exact_widths(spark):
    """scan_profiles must report EXACT per-scan read widths from the
    JVM requiredSchema (the toString form elides wide schemas and
    undercounts — the bug this helper exists to avoid), name the table
    from the root path, and show pruning: a 2-column projection of
    11-column lineitem reads 2, a full read reads 11."""
    li = load_table(spark, SF, "lineitem")
    pruned = pi.scan_profiles(li.select("l_orderkey", "l_tax"))
    assert pruned == [
        {"table": "lineitem", "n_read": 2, "cols": ["l_orderkey", "l_tax"]}
    ]
    (full,) = pi.scan_profiles(li)
    assert full["table"] == "lineitem" and full["n_read"] == 11
    # a join shows one profile per scan
    orders = load_table(spark, SF, "orders").select("o_orderkey")
    two = pi.scan_profiles(
        li.select("l_orderkey").join(
            F.broadcast(orders), li.l_orderkey == orders.o_orderkey
        )
    )
    assert sorted(p["table"] for p in two) == ["lineitem", "orders"]
    assert all(p["n_read"] == 1 for p in two)


def test_global_window_contract_catches_raw_fact_window(spark):
    """The unpartitioned-window PLANCHECK contract (r12 verdict #3 —
    docstring convention promoted to a machine check): a global
    row_number directly over a raw fact scan is flagged (one task
    sorts the table at 100 TB); aggregate-grain, limit-bounded and
    distributed-top-k (TakeOrderedAndProject) frames are proven
    bounded; partitioned windows are out of scope."""
    from pyspark.sql import Window

    li = load_table(spark, SF, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    # SEEDED VIOLATION: raw-fact global window
    bad = li.withColumn(
        "rn", F.row_number().over(Window.orderBy("l_quantity", "l_orderkey"))
    )
    assert pi.global_window_inputs_bounded(bad) == [False]

    # aggregate-grain global window: bounded
    agg = li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q"))
    ok = agg.withColumn(
        "rk", F.rank().over(Window.orderBy(F.desc("q"), "l_orderkey"))
    )
    assert pi.global_window_inputs_bounded(ok) == [True]

    # distributed top-k (sort+limit) then re-rank: bounded
    topk = li.orderBy(F.desc("l_quantity"), "l_orderkey").limit(7)
    ranked = topk.withColumn(
        "rn",
        F.row_number().over(Window.orderBy(F.desc("l_quantity"), "l_orderkey")),
    )
    assert pi.global_window_inputs_bounded(ranked) == [True]

    # a PARTITIONED window over raw facts is out of contract scope
    part = li.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("l_orderkey").orderBy("l_quantity")
        ),
    )
    assert pi.global_window_inputs_bounded(part) == []


def test_registry_window_contract_holds(spark):
    """Every registered query satisfies the global-window contract at
    smoke scale: unpartitioned windows sit over provably bounded
    subtrees, except the explicitly declared domain-bounded sites
    (QuerySpec.window_bounded, adjudicated in their docstrings).
    Spot-checks the two known shapes instead of re-running the full
    sweep (`tools/profile_queries.py --runs 0 --contracts OUT.json`
    covers all 278)."""
    for name in (
        "x104_weighted_sample_incremental",  # reworked to top-k (r13)
        "x122_ntile_deciles",                # aggregate-grain NTILE
        "x95_adaptive_lsh",                  # declared: 4-row config frame
    ):
        df = QUERIES[name].build(spark, SF)
        gw = pi.global_window_inputs_bounded(df)
        unbounded = sum(1 for b in gw if not b)
        assert unbounded <= QUERIES[name].window_bounded, name
