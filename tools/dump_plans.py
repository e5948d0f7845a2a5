"""Regenerate PLANS.md: formatted physical plans of headline queries with
the scale-relevant features highlighted. Run: python tools/dump_plans.py"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from deepcell_data_engineering_spark.plans import inspect as pi  # noqa: E402
from deepcell_data_engineering_spark.relational import QUERIES  # noqa: E402
from deepcell_data_engineering_spark.session import get_spark  # noqa: E402

HEADLINERS = [
    ("d01_scan_filter", "pushdown + column pruning"),
    ("d11_star_join_agg", "broadcast star join"),
    ("d15_range_join", "non-equi range join on broadcast build side"),
    ("d21_grouping_sets", "grouping sets expand + partial aggregation"),
    ("x06_minhash_lsh_pairs", "single-shuffle MinHash + banded self-join"),
    ("x14_ivf_topk", "IVF: broadcast centroid assignment + bucketed candidate join"),
    ("x17_sessionize", "session windows: one aggregation exchange"),
    ("x18_winnow_fingerprint", "winnowing: distinct + agg reuse the window's partitioning"),
    ("x22_tfidf_topk", "TF-IDF: single token explode, window-derived doc frequency, WindowGroupLimit top-k"),
    ("d41_moment_stats", "exact integer power sums: one shuffle, map-side partials, bit-stable stats"),
    ("x27_corpus_build", "corpus build: dedup window + quality gate + hash sample, no driver state"),
    ("x10_embedding_neardup", "IVF-bucketed near-dup: equi-join on centroid_id (no crossJoin)"),
    ("x32_repetition_signals", "repetition signals: shuffle-free per-row array HOFs, one codegen map"),
    ("x33_decontaminate", "decontamination: broadcast held-out fingerprint semi-join"),
    ("x35_pack_sequences", "sequence packing: one window shuffle on (lang, doc_id) + rollup"),
    ("x29_semantic_neardup", "IVF-list near-dup: explicit dedup partitioning keeps the per-pair dot at cluster width"),
    ("x43_pagerank", "pagerank: per-round edge-rank join + grouped sum, checkpointed edges, no cartesian"),
    ("x44_unigram_logprob", "unigram LM score: one generator explode, vocab localCheckpoint + broadcast attach"),
    ("x45_minhash_calibration", "LSH calibration: candidate-scoped exact Jaccard, bounded subset pushdown"),
    ("x39_salted_skew_join", "salted skew join: hot keys spread across deterministic sub-keys"),
    ("x40_length_trim", "IQR trim: single grouped-quantile pass + broadcast bounds attach"),
    ("x47_bigram_pmi", "bigram PMI: arrays_zip-of-slices generator (zero pre-agg shuffles) + broadcast vocab"),
    ("x49_source_overlap", "source overlap: distinct fingerprints, equi-join NOT broadcast-pinned (AQE decides)"),
    ("x50_ann_recall", "ANN recall eval: exact and SRP top-k composed, left join on sampled queries"),
    ("x53_incremental_lsh", "incremental dedup: new batch probes the persisted band index, no old-old self-join"),
    ("x54_stream_screen", "streaming screen (batch form): row-local signatures + left-semi band probe, zero stream state"),
    ("x55_variant_extract", "VARIANT: parse-once binary encoding, typed field extraction"),
    ("x56_dup_ngram_coverage", "dup-ngram coverage: generator windows + one collect_set window partition"),
    ("x57_sketch_topk", "Misra-Gries: one Arrow map pass, <= capacity rows shuffled per partition"),
    ("x58_bloom_pruned_join", "bloom pruning: 1-row bitset broadcast, forall probe filter UNDER the join exchange"),
    ("x59_hll_distinct", "HLL registers: grouped max + exact integer-scaled estimator, no float sums"),
    ("x60_zorder_key", "z-order key: pure bit arithmetic in codegen, TakeOrdered top-k"),
    ("x61_weighted_sample", "A-ES weighted sample: one window shuffle, md5 draw replayable by the oracle"),
    ("x62_cms_frequencies", "count-min: explode(depth) + grouped count; broadcast counter-table lookup"),
    ("x63_hist_quantiles", "log-histogram quantiles: bounded registers, two tiny windows (running count, group total) + rank filter"),
    ("x64_hll_set_algebra", "HLL set algebra: pair lattice over 4 KiB register tables, corpora never joined"),
    ("x65_quality_gate", "quality gate: whole constraint suite fused into one aggregation pass per table"),
    ("x66_similarity_join_exact", "prefix-filter similarity join: selective candidate equi-join, row-local verify"),
    ("x67_triangle_hubs", "triangle hubs: ordered enumeration, two equi-joins on the candidate graph only"),
    ("x68_bpe_train", "BPE training: one corpus agg, then per-round vocab-only pair counts + 1-row argmax"),
    ("x69_hll_rollup", "sketch-state ROLLUP: one register build, grouped-max lattice, no rescans"),
    ("x70_recursive_closure", "recursive CTE: DISTINCT-bounded frontier per step, checkpointed edge view"),
    ("x71_lateral_topk", "correlated LATERAL decorrelated by Catalyst (vs WindowGroupLimit twin)"),
    ("x72_udtf_chunks", "Python UDTF through SQL LATERAL — slow path certified against the x34 oracle"),
    ("x73_bpe_encode", "BPE encode: n chained literal replaces in ONE codegen projection over the vocab"),
    ("x74_fuzzy_name_join", "fuzzy entity join: distinct names, block-key equi-join + length band before levenshtein"),
    ("x75_sliding_distinct", "sliding HLL: bounded fan-out equi-join (never range join) + grouped max"),
    ("x76_quality_gate_corpus", "corpus-relative gate: value-histogram disc thresholds, one conditional-count pass"),
    ("x77_simhash_neardup", "simhash near-dup: sig groups first, band join on DISTINCT sigs, doc pairs by arithmetic"),
    ("x78_kcore", "k-core: per-peel degree agg + two semi-joins, checkpointed lineage"),
    ("x79_join_size_estimate", "CMS inner product: join size from two counter tables, no input scan"),
    ("x80_pq_adc_topk", "PQ/ADC: broadcast 160-row LUT joined to the code stream, vectors never shuffled"),
    ("x81_pq_recall", "PQ eval: shortlist@50 re-ranked exactly on <= 50 pairs/query, vs brute force"),
    ("x82_sql_udf", "SQL UDFs dissolve at analysis: pure codegen aggregate, no Python eval nodes"),
    ("x83_kmv_intersections", "KMV sketch: thresholded k-smallest rank, sketch-sized pair joins, exact twin"),
    ("x84_split_leakage", "split-leakage audit: cluster-keyed hash split + candidate-pair cross-split count"),
    ("x85_skew_report", "skew report: grouped key counts, disc percentiles over the count histogram"),
    ("x86_join_order_plan", "join ordering from persisted CMS counters: no input scanned at planning"),
    ("x87_table_profile", "table profile: one scan + one agg per table, stack() pivot, Expand distincts"),
    ("x88_kmv_incremental", "incremental KMV: merge of persisted half-states, WindowGroupLimit re-rank"),
    ("x89_retention_cohorts", "retention matrix: first-seen agg and activity join share one user-hash partitioning"),
    ("x90_cbo_estimates", "CBO cross-check: CMS + System R stats estimates priced per join order, certified vs exact"),
    ("x91_profile_approx_certified", "approx NDV certified: exact Expand path vs HLL++ single pass, 10% bound in-query"),
    ("x92_ivfpq_topk", "IVF-PQ: coarse lists prune candidates, ADC scores codes only, vectors never shuffle"),
    ("x93_approx_quantile_certified", "GK approx quantiles vs exact value-histogram disc, rank-error bound certified"),
    ("x94_adaptive_salted_join", "skew loop closed: report-driven salt count, salted join row-identical to plain"),
    ("x95_adaptive_lsh", "LSH banding by the S-curve: 4 configs measured from one signature table"),
    ("x96_ivfpq_residual_topk", "residual IVF-PQ: FAISS-IP decomposition, trained coarse lists, codes-only scoring"),
    ("x97_python_datasource", "custom Python data source: partition-planned generator, no storage"),
    ("x99_ewma_user_value", "ordered recurrence: per-key array fold, one user-hash exchange"),
    ("x100_cms_incremental", "incremental CMS: merge of half-stream counter tables == full rebuild"),
    ("x102_point_in_time_join", "point-in-time feature join: union + window carry-forward, no range join"),
    ("x103_zorder_skipping", "z-order layout lab: 3 layouts from one exploded pass, zone-map pruning measured"),
    ("x110_event_pattern_match", "CEP regex over per-user ordered event strings: one user-hash shuffle"),
    ("x114_gram_matrix", "vectorized Gram kernel: partitions x d^2 int64 partials, certified vs pure SQL"),
    ("x117_link_prediction", "common-neighbor scores: one wedge self-join + anti-join, rounded-score top-k"),
    ("x119_ivm_join_delta", "join-view IVM: state + broadcast delta joins, never old-against-old"),
    ("x120_session_incident_overlap", "interval overlap via bucket decomposition: equi-join, no nested loop"),
    ("x121_cube_report", "CUBE: 4 grouping sets in one Expand, partial agg before the shuffle"),
    ("x123_expectations_report", "expectation suite: one conditional-sum pass per table + the one RI join"),
    ("x129_pretokenize_vocab", "BPE pre-tokenizer: regexp generator over the scan + partial-agg TakeOrdered"),
    ("x157_mutual_information", "contingency G-test: one CUBE Expand yields cells + marginals, provable 1-row total attach"),
    ("x158_ks_two_sample", "two-sided exact CDF distance: ONE multi-column distributed prefix scan, 1-row attaches"),
    ("x159_market_basket", "association rules: row-local pair HOF over per-order sets, no itemset self-join"),
    ("x161_heaps_law", "vocab growth: one tokenize pass, first-occurrence shuffle, multi-column prefix scan"),
]


def main() -> None:
    sf = "/root/testdata/sf0.1"
    spark = get_spark(app_name="dump-plans", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    out = [
        "# Physical plans of headline queries",
        "",
        "Generated by `python tools/dump_plans.py` at sf0.1. What to look for:",
        "`BroadcastHashJoin` (no `SortMergeJoin` on dim joins), `PushedFilters`/",
        "`DataFilters` reaching the parquet scans, pruned `ReadSchema`, and",
        "`WholeStageCodegen` spans covering the row-at-a-time work.",
        "",
    ]
    for name, why in HEADLINERS:
        df = QUERIES[name].build(spark, sf)
        strat = pi.join_strategies(df)
        out += [
            f"## {name} — {why}",
            "",
            f"join strategies: {strat}; shuffle exchanges: {pi.count_exchanges(df)}",
            "",
            "```",
            df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            ),
            "```",
            "",
        ]
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print("PLANS.md written")


if __name__ == "__main__":
    main()
