"""Scaling pressure test: the 8 most expensive pipeline queries at
sf0.1 (driver testdata) vs a locally generated sf1 (10x rows — see
tools/gen_scale_data.py), recording the sf1/sf0.1 runtime ratio per
query into BENCH_scaling.json.

Reading the ratio: the corpora are 10x apart, so a near-linear operator
lands well under ~15x (10x work + modest shuffle superlinearity);
anything >=30x exposes a hidden quadratic — the closest local proxy for
the 100 TB claim. Queries here are dominated by documents/embeddings
scans, so the TPC-H tables (absent at sf1) don't matter.

Usage: python tools/bench_scaling.py [--runs 3]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = [
    "x29_semantic_neardup",
    "x21_dup_clusters",
    "x43_pagerank",
    "x30_containment",
    "x45_minhash_calibration",
    "x18_winnow_fingerprint",
    "x33_decontaminate",
    "x06_minhash_lsh_pairs",
    # round-5 additions with nontrivial tails
    "x51_cluster_representatives",
    "x53_incremental_lsh",
    "x47_bigram_pmi",
    "x56_dup_ngram_coverage",
    "x59_hll_distinct",
    "x62_cms_frequencies",
    "x64_hll_set_algebra",
    "x68_bpe_train",
    "x70_recursive_closure",
    # round-6: triangle counting. Its ratio reads ~45x, which is the
    # ANSWER growing, not the plan: on the templated corpus the LSH
    # candidate graph itself grows 75x in edges from sf0.1 to sf1
    # (42,441 -> 3,176,356; max degree 92 -> 1,240) because near-dup
    # groups form cliques whose edge count is quadratic — and the true
    # triangle count is CUBIC — in group size. Enumeration is
    # output-bound (degree-oriented wedges, functions/graph.py); the
    # per-triangle cost is flat. Kept in the sweep with this cap note
    # rather than excluded, so the number stays visible.
    "x67_triangle_hubs",
    # round-6 join-heavy additions
    "x73_bpe_encode",
    "x77_simhash_neardup",
    "x80_pq_adc_topk",
    # round-6 session 2: KMV sketch (distinct + thresholded rank +
    # sketch-sized pair joins + the exact-intersection twin) and the
    # split-leakage audit (x21's closure + candidate-pair attach)
    "x83_kmv_intersections",
    "x84_split_leakage",
    # round-7: the planner/eval tier. x79/x86 are CMS builds (linear
    # scans into fixed 4x4096 counter tables) + an exact certification
    # twin (grouped counts / a key equi-join); x87 is one scan + one
    # agg per profiled table (exact-NDV Expand multiplies the row
    # stream ~(cols+1)x — the documented exact-mode cost); x88 is two
    # half-corpus KMV builds + a k-row merge. All should read
    # near-linear. These need the TPC-H tables, which gen_scale_data
    # now emits at 10x sf0.1 rows.
    "x79_join_size_estimate",
    "x86_join_order_plan",
    "x87_table_profile",
    "x88_kmv_incremental",
    # round-7 session 3: layout/reconciliation/inference tier. x103 is
    # 3 layout-exploded histogram windows + 2 grouped aggs over
    # lineitem (linear); x107 one full-outer join on orders keys;
    # x109 a sources x vocab grid self-join (vocabulary-bounded);
    # x110 one user-hash shuffle + per-row regex; x111/x113 single
    # grouped integer-moment scans of events; x114 the Arrow numpy
    # Gram fold (partitions x d^2 partials). All should read
    # near-linear.
    "x103_zorder_skipping",
    "x107_snapshot_audit",
    "x109_corpus_divergence",
    "x110_event_pattern_match",
    "x111_trend_slope",
    "x113_retraction_certified",
    "x114_gram_matrix",
    # round-7 session 4: x117 is the wedge self-join over the LSH
    # candidate graph (bounded by sum of squared degrees — same family
    # as x67, expect output-bound growth on the templated corpus);
    # x119 joins lineitem three ways (state + two broadcast delta
    # joins — linear); x120 explodes sessions/incidents to 30-min
    # buckets then one equi-join (linear in events + pair output).
    "x117_link_prediction",
    "x119_ivm_join_delta",
    "x120_session_incident_overlap",
    # round-7/8 lakehouse + kernel tier: x127 commits the documents
    # corpus 3x and re-reads every version (manifest count fixed at 3,
    # data volume scales); x128 writes/reads events through 4 formats
    # (line-format parse cost dominates at 10x); x129 one regex
    # pre-tokenize pass + vocab agg; x130 a single fold over lineitem;
    # x131 one user-hash window + 25-cell matrix broadcast; x132 a
    # 16-file snapshot commit + optimize rewrite + 2 audits.
    "x127_time_travel_audit",
    "x128_format_interop",
    "x129_pretokenize_vocab",
    "x130_table_checksum",
    "x131_markov_anomaly",
    "x132_optimize_equivalence",
    # round-8 analytics tier: x133 is THE round-9 scale fix (pattern
    # counts from one GROUPING SETS pass + Mobius inversion — the old
    # doc-level pair join read 18.2x at 10x data; expect near-linear
    # now); x134 three conditional min-agg passes on user_id; x136
    # calendar-bounded daily ACF; x137 explode(2 probes) + bit_or agg
    # index build + probes; x139 r rounds = r joins over the LSH graph
    # (output-bound family, x67's cap note applies); x141 two
    # conditional-sum passes; x142 one LEAD window on user_id; x143
    # orders x lineitem join + integer-rank percentiles.
    "x133_record_linkage_fs",
    "x134_funnel_conversion",
    "x136_autocorrelation",
    "x137_bloom_skipping",
    "x139_label_propagation",
    "x141_psi_drift",
    "x142_time_weighted_avg",
    "x143_ship_latency_quantiles",
    # round-9 additions: x145 snapshot commits + CDC feed fold over
    # the documents corpus (data volume scales, manifest count fixed);
    # x146/x147 value-histogram window shapes (vocabulary-sized
    # windows); x148 bounded per-order windows on l_orderkey; x149
    # FastSS deletion-variant equi-join (vocab-bounded); x150 one
    # digit projection + 9-group count.
    "x145_cdc_incremental_view",
    "x146_skyline_frontier",
    "x147_gini_concentration",
    "x148_proration_hamilton",
    "x149_fuzzy_vocab_pairs",
    "x150_benford_digits",
    # round-10 additions: x151 MERGE-commit CDC fold (change set sized
    # by touched keys, view merge state-sized); x152 Kendall tau-b on
    # the (quantity, discount) CELL grid — pair arithmetic over a
    # bounded 50x11 lattice, linear scan regardless of rows; x153
    # rank-sum over a value histogram (tie-aware midranks from cum
    # counts, no per-row ranks); x154 orphan/dangling FK audit
    # (two broadcast-able anti-join legs); x155 anti-entropy bucket
    # digest compare (Merkle-style: mismatched buckets only re-read).
    "x151_merge_feed_view",
    "x152_kendall_tau",
    "x153_mann_whitney_u",
    "x154_ref_integrity_audit",
    "x155_anti_entropy_repair",
    # x156 one grouped moment-sum aggregation; x157 one CUBE pass over
    # a vocabulary-sized lattice; x158 merged-histogram prefix scan
    # (row-sized domain — the grouped_cumsum multi-column path); x159
    # row-local pair HOF + bounded 300-pair aggregate; x160 weight
    # histogram + prefix scan; x161 tokenize + first-occurrence
    # shuffle + one multi-column prefix scan; x162 delete commits +
    # CDC fold (change set sized by matched rows).
    "x156_grouped_ols",
    "x157_mutual_information",
    "x158_ks_two_sample",
    "x159_market_basket",
    "x160_weighted_quantiles",
    "x161_heaps_law",
    "x162_delete_feed_view",
    # x163 per-customer agg + histogram prefix scan + 10-row broadcast.
    "x163_lorenz_deciles",
    # x164: 8 stats-recorded commits + a pruned range scan (3 of 8 dirs).
    "x164_stats_pruned_scan",
    # round-11 additions: x165 catalog-resolved snapshot star join
    # (two commits + a spark.sql broadcast join by name); x166 banded
    # append chain + range-scoped CDC fold (2 of 7 delta dirs read);
    # x167 evolve-schema merge + merge_schema read-back; x168 two
    # value-histogram prefix scans + two rank joins + one decimal
    # moments aggregate; x169 one CUBE over the vocabulary lattice;
    # x170/x171 one-two grouped aggregations, catalog-sized outputs;
    # x172 broadcast 10-query exact top-5 + pivot; x173 one confusion
    # aggregation over the marker predictor.
    "x165_catalog_named_view",
    "x166_scoped_cdc_view",
    "x167_schema_evolution_merge",
    "x168_spearman_rho",
    "x169_chi_squared",
    "x170_effective_sample_size",
    "x171_simpson_diversity",
    "x172_ranking_eval",
    "x173_classifier_eval",
    # x174/x175 one-two grouped aggregations + unit sums; x176 one
    # CUBE + two 1-row attaches; x177 delete + restore commits + a
    # feed fold (restore costs one manifest write at any data size).
    "x174_shannon_entropy",
    "x175_js_divergence",
    "x176_association_summary",
    "x177_restore_feed_view",
    # x178 one moments aggregation; x179 the pipe-syntax rollup
    # (Catalyst lowers to the classic plan).
    "x178_corr_matrix",
    "x179_pipe_rollup",
    # x180 one feature pass + fingerprint-keeper join + stage agg.
    "x180_cleaning_funnel",
    # x181/x182 calendar-sized daily windows over one fact scan; x183
    # histogram prefix scan + one per-priority rank aggregate.
    "x181_max_drawdown",
    "x182_trailing_range_frame",
    "x183_percentile_cont",
    # round-12 additions: x184 catalog DDL publishes (KB) + one
    # snapshot commit + a broadcast agg; x185 clone/merge/delete/
    # restore chain — wall tracks the touched-dir rewrites, manifest
    # work fixed; x186 one grouped conditional-sum pass; x187 one
    # suppkey agg + broadcast dims + per-nation window over the
    # supplier AGGREGATE; x188 50x3-cell histogram + one window scan;
    # x189 tokenize + one term-keyed agg + broadcast margins; x190
    # monthly rollup + month-pair self-join (calendar-bounded); x191
    # map-only LCG tag + one agg; x192 active-slice x type-vocab
    # broadcast cross join + anti + per-slice window; x193 one
    # struct-argmax agg on source; x194 union + one user_id shuffle,
    # dual window carry; x195 48x bounded explode into one (class,
    # replicate) agg; x196 two commits + one tombstone MERGE + feed
    # count; x197 span scalars + tagged agg + key INTERSECT.
    "x184_catalog_rename_view",
    "x185_lifecycle_clone_restore",
    "x186_cohens_kappa",
    "x187_hhi_concentration",
    "x188_kruskal_wallis",
    "x189_log_odds_keyness",
    "x190_mann_kendall_trend",
    "x191_lcg_sample_estimate",
    "x192_negative_sampling",
    "x193_preference_pairs",
    "x194_asof_nearest_tolerance",
    "x195_poisson_bootstrap_ci",
    "x196_tombstone_merge_feed",
    "x197_time_embargo_split",
    # x198 one scalar-subquery pass + one grouped agg (the variable
    # binding constant-folds); x199 value histogram + the group-free
    # grouped_cumsum prefix scan + one binned count.
    "x198_sql_variables",
    "x199_fd_histogram",
    # x200 two commits + one UPDATE copy-on-write + a feed fold; x201
    # constrained commits (one extra folded-agg validation pass per
    # write) + two BLOCKED writes whose validation scans dominate.
    "x200_update_feed_view",
    "x201_constraint_gate",
    # round-13 additions. x202/x217 lakehouse-lifecycle (commit-I/O-
    # bound: constrained commits, metadata-only add/drop, vacuum's
    # retained-manifest sweep); x203 the rate-limited streaming drain
    # (micro-batch-round-bound at constant file counts); x204 per-user
    # aggregate then distinct-T-grid windows; x205 contingency counts
    # + margin windows on the cell grid; x206 token explode + vocab
    # top-200 rank + one moment aggregate; x207 three NTILEs on the
    # per-customer aggregate; x208 first-month broadcast + distinct
    # month-grain counts; x209 two key-count rollups + count-of-counts
    # histogram fold; x210/x211/x216 single conditional-count
    # aggregates (x216 adds one partitioned LAG); x212 customer-grain
    # rollup + 5-row broadcast; x213 distinct-day grain + partitioned
    # row_number; x214 two event scans + latency-histogram fold; x215
    # one per-user aggregate + one moment pass.
    "x202_constraint_lifecycle",
    "x203_stream_rate_feed",
    "x204_kaplan_meier",
    "x205_mutual_information",
    "x206_zipf_slope",
    "x207_rfm_segments",
    "x208_cohort_retention",
    "x209_key_skew_audit",
    "x210_mcnemar_paired",
    "x211_benford_digits",
    "x212_theil_index",
    "x213_activity_streaks",
    "x214_funnel_latency",
    "x215_cuped_adjustment",
    "x216_runs_test",
    "x217_vacuum_lifecycle",
    # round-13 continuation: x218/x230 lakehouse lifecycles
    # (replace_where + timestamp travel; OPTIMIZE ZORDER + pruning),
    # x219 row-local HOF pair generation (fan-out bounded by order
    # size), x220/x224/x225/x227/x231 moment/rank statistics,
    # x221/x226/x232 calendar-aggregate series (backtest join, Holt
    # fold over calendar-bounded arrays, DOW profile), x222
    # distinct-pair redundancy audit, x223 per-customer LAG window,
    # x228 token-distribution pairs, x229 feature unpivot, x233
    # distinct-set overlap
    "x218_replace_where_lifecycle",
    "x219_item_similarity",
    "x220_anova_f",
    "x221_forecast_backtest",
    "x222_single_source_risk",
    "x223_interarrival_dispersion",
    "x224_jackknife_loo",
    "x225_wilcoxon_signed_rank",
    "x226_holt_linear",
    "x227_neyman_allocation",
    "x228_js_divergence",
    "x229_info_gain",
    "x230_zorder_lifecycle",
    "x231_spearman_rank_corr",
    "x232_dow_seasonality",
    "x233_capture_recapture",
    # x66_similarity_join_exact is intentionally absent: its TRUE result
    # set (all pairs over a templated corpus) grows quadratically with
    # corpus size, so an sf1/sf0.1 ratio would read as a hidden
    # quadratic when it is the answer itself that is quadratic.
]

SF01 = "/root/testdata/sf0.1"
SF1 = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scaledata/sf1")


def main() -> None:
    runs = 3
    if "--runs" in sys.argv:
        runs = int(sys.argv[sys.argv.index("--runs") + 1])
    queries = QUERIES
    if "--only" in sys.argv:
        keep = set(sys.argv[sys.argv.index("--only") + 1].split(","))
        queries = [q for q in QUERIES if q in keep]
    if not os.path.exists(os.path.join(SF1, "documents.parquet")) or (
        not os.path.exists(os.path.join(SF1, "lineitem.parquet"))
    ) or not os.path.exists(os.path.join(SF1, "events.parquet")):
        subprocess.check_call(
            [sys.executable, os.path.join(os.path.dirname(__file__), "gen_scale_data.py"), SF1]
        )

    from deepcell_data_engineering_spark.plans.profile import (
        median,
        open_session,
    )
    from deepcell_data_engineering_spark.relational import QUERIES as REG

    spark = open_session("dde-spark-bench-scaling", SF01)

    out: dict[str, dict] = {}
    for name in queries:
        build = REG[name].build
        rec: dict[str, float] = {}
        for label, sf_dir in [("sf0.1", SF01), ("sf1", SF1)]:
            ts = []
            for _ in range(runs):
                t0 = time.time()
                n = build(spark, sf_dir).count()
                ts.append(time.time() - t0)
            rec[label] = round(median(ts), 3)
            rec[f"{label}_rows"] = n
        rec["ratio"] = round(rec["sf1"] / rec["sf0.1"], 2)
        # a big ratio with an even bigger output-row blow-up is the
        # answer growing, not the plan degrading - surface the per-row cost
        if rec["sf1_rows"] >= 1000:
            rec["sf1_ms_per_1k_rows"] = round(rec["sf1"] * 1e6 / rec["sf1_rows"], 3)
        if name == "x29_semantic_neardup":
            rec["note"] = (
                "output-bound: the templated corpus's true near-dup pair set "
                "grows ~45,000x from sf0.1 to sf1 (394 -> 17,858,963 rows) "
                "because duplicate groups pair quadratically; per-1k-row cost "
                "falls (see sf1_ms_per_1k_rows)"
            )
        if name == "x117_link_prediction":
            rec["note"] = (
                "graph-bound, not plan-bound: same 75x edge growth as x67 "
                "(the templated corpus's near-dup groups are cliques), and "
                "wedge count grows with sum of squared degrees; time grows "
                "37x while edges grow 75x, so per-edge cost FALLS; output "
                "stays top-20 by construction"
            )
        if name == "x67_triangle_hubs":
            rec["note"] = (
                "output-bound, not plan-bound: the templated corpus's LSH "
                "candidate graph grows 75x in edges sf0.1->sf1 (42,441 -> "
                "3,176,356; max degree 92 -> 1,240) because near-dup groups "
                "are cliques (edges quadratic, triangles CUBIC in group "
                "size); enumeration is degree-oriented wedge join with flat "
                "per-triangle cost"
            )
        out[name] = rec
        print(f"{name:28s} sf0.1={rec['sf0.1']:7.2f}s  sf1={rec['sf1']:7.2f}s  "
              f"ratio={rec['ratio']:5.1f}x  rows {rec['sf0.1_rows']} -> {rec['sf1_rows']}")

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH_scaling.json",
    )
    if "--only" in sys.argv:
        # subset probe: never clobber the full artifact — but with
        # --merge, refresh just the re-run entries in place (for
        # queries whose definition changed after the full sweep)
        if "--merge" in sys.argv and os.path.exists(path):
            with open(path) as fh:
                payload = json.load(fh)
            payload["queries"].update(out)
            payload["max_ratio"] = max(
                r["ratio"] for r in payload["queries"].values()
            )
            with open(path, "w") as fh:
                json.dump(payload, fh, indent=1)
            print(f"merged {sorted(out)} into {path}")
        return
    payload = {
        "note": "sf1 is a locally generated 10x corpus (tools/gen_scale_data.py, "
        "seed 42); ratio = sf1_median / sf0.1_median over "
        f"{runs} runs; near-linear <= ~15x, >=30x flags a hidden quadratic",
        "queries": out,
        "max_ratio": max(r["ratio"] for r in out.values()),
    }
    with open(path, "w") as fh:
        json.dump(payload, fh, indent=1)
    print(f"wrote {path}; max ratio {payload['max_ratio']}x")


if __name__ == "__main__":
    main()
