"""100x dress rehearsal: the three production-loop headliners at a
locally generated 100x-sf0.1 corpus (.scaledata/sf10 — documents 500k,
orders 15M, lineitem 60M; tools/gen_scale_data.py --scale 100).

This is the closest a local[32] single-JVM box gets to the brief's
"would this survive a 100x scale-up" question: the headliners are the
queries whose SHAPE was specifically engineered for scale —

- x94_adaptive_salted_join: skew report -> salt recommendation ->
  salted join (the CBO loop's action arm),
- x119_ivm_join_delta: incremental JOIN-view maintenance (state + two
  delta joins vs a full rebuild),
- x103_zorder_skipping: layout explode + zone maps + the r8
  distributed-prefix-sum boundary phase (the r7 verdict's one
  scale-shape flaw, rewritten this round),
- x06_minhash_lsh_pairs: the LLM-pipeline headliner — banded MinHash
  LSH candidate pairs over the document corpus (r9: the dedup leg the
  r8 verdict asked to rehearse; its OUTPUT grows with the planted
  dup-pair set, which is quadratic in clique size, so read its ratio
  against the rows column),
- x53_incremental_lsh: new-docs-vs-persisted-band-index probe — the
  operator that REPLACES rebuilds at 100 TB, so its 100x ratio is the
  number that matters for steady-state dedup cost.

Reading the numbers: data is 100x sf0.1, so a linear operator on a box
with fixed parallelism lands around ~100x; meaningfully UNDER 100x
means per-row cost fell (the sf0.1 run was overhead-dominated);
hundreds-x flags a superlinear shape. Spill columns record where the
32-thread/heap-bound box saturates — on a 1000-executor cluster those
shuffles spread instead of spilling.

Usage: python tools/bench_100x.py [--runs 3]   (run ALONE)
Writes BENCH_scaling_100x.json.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = [
    "x94_adaptive_salted_join",
    "x119_ivm_join_delta",
    "x103_zorder_skipping",
    "x06_minhash_lsh_pairs",
    "x53_incremental_lsh",
    # lakehouse leg (r9 verdict #6): snapshot-log operations at a
    # multi-GB commit payload — optimize (rewrite-as-replace-commit)
    # and CDC view maintenance (feed scans delta dirs only)
    "x132_optimize_equivalence",
    "x145_cdc_incremental_view",
    "x164_stats_pruned_scan",
    # r11: predicate-scoped CDC — a range-restricted consumer folds
    # read_changes(ranges=...) over a banded append chain, reading
    # only the intersecting delta dirs
    "x166_scoped_cdc_view",
    # r12: the full lifecycle leg (r11 verdict item 8) — shallow
    # clone, MERGE + DELETE on the clone (copy-on-write of the
    # touched borrowed dirs only), RESTORE, and a v0->head CDC fold
    # certifying zero net change
    "x185_lifecycle_clone_restore",
    # r13 second act: predicate-scoped overwrite (replace_where) and
    # OPTIMIZE ZORDER — the two newest writer verbs, each exercised
    # as its full lifecycle query against the 100x corpus
    "x218_replace_where_lifecycle",
    "x230_zorder_lifecycle",
]

# Per-query reading notes carried into the artifact (the x67 cap-note
# discipline: a big ratio must say whether it is the PLAN or the ANSWER
# growing).
NOTES = {
    "x103_zorder_skipping": (
        "the 3-layout explode pushes 180M rows through two shuffles "
        "(code histogram + range repartition) and the zone-map "
        "aggregation; per-row cost falls ~3x vs sf0.1 — shuffle "
        "write/read dominates and spreads across executors on a real "
        "cluster"
    ),
    "x06_minhash_lsh_pairs": (
        "OUTPUT-BOUND: the templated corpus is pathologically "
        "self-similar at 500k docs (31-word vocabulary), so the TRUE "
        "candidate-pair set grows ~7,500x (42k -> 317M pairs) while "
        "wall time grows only ~84x — per-PAIR cost fell ~90x. The "
        "banded equi-join shape is what the rehearsal certifies; the "
        "pair volume is a property of the corpus, not the plan"
    ),
    "x53_incremental_lsh": (
        "OUTPUT-BOUND like x06: new-docs-vs-index probes return 138M "
        "candidate rows (vs 18k at sf0.1) on the self-similar corpus; "
        "wall grew 31x for a ~7,700x larger answer. The operator that "
        "replaces full-corpus rebuilds at 100 TB: probe cost tracks "
        "the NEW batch x collision density, never old-vs-old"
    ),
    "x132_optimize_equivalence": (
        "lakehouse leg: commits the corpus into a snapshot log, runs "
        "optimize_table (compaction as an atomic replace commit pinned "
        "to its basis) and certifies pre==post content. Wall tracks "
        "the one-pass data rewrite — manifest resolution stays "
        "KB-sized driver-side catalog work at any payload (the log is "
        "version-count-sized, never data-sized)"
    ),
    "x164_stats_pruned_scan": (
        "lakehouse leg: 8 stats-recorded commits over the orders table "
        "+ a range aggregate answered through manifest-level data "
        "skipping (scan_snapshot reads 3 of 8 dirs) — the commit "
        "chain dominates wall time; the certified property is that "
        "the PRUNER's dir decisions stay manifest-sized while the "
        "data under them grows 100x"
    ),
    "x166_scoped_cdc_view": (
        "lakehouse leg: a base commit + 7 key-banded stats-recorded "
        "append commits, then a key-range-restricted view advanced "
        "from read_changes(ranges=...) — the feed pruner keeps 2 of 7 "
        "delta dirs from KB of manifest JSON, so the scoped consumer's "
        "read cost tracks ITS OWN slice of each commit, not the "
        "commit chain's full payload; wall is dominated by writing "
        "the 8 commits (one-pass data write), which is the operator "
        "under test"
    ),
    "x185_lifecycle_clone_restore": (
        "lakehouse lifecycle leg: base commit (2 banded dirs) -> "
        "shallow clone (one manifest write, zero data movement at ANY "
        "payload) -> MERGE bumping a ~1% key slice (copy-on-write "
        "rewrites only the touched borrowed dir) -> DELETE of another "
        "slice -> RESTORE to clone-v0 (one manifest write) -> full "
        "v0->head CDC fold certifying zero net rows. Wall tracks the "
        "base write + the two touched-dir rewrites + the feed fold "
        "(all linear one-pass data I/O); clone and restore stay "
        "KB-sized manifest arithmetic while the payload scales 100x — "
        "the flat-manifest-cost property this leg exists to pin"
    ),
    "x218_replace_where_lifecycle": (
        "lakehouse leg: commits a 1.5M-row orders slice, predicate-"
        "scope-overwrites the URGENT fifth in ONE commit "
        "(copy-on-write: only directories containing a match "
        "rewrite), verifies CDC exactness + validation refusal + "
        "TIMESTAMP AS OF. Wall tracks the v0 write + the scoped "
        "rewrite + the reload write (linear one-pass data I/O); "
        "timestamp resolution and the refusal path stay KB-sized "
        "manifest reads at any payload"
    ),
    "x230_zorder_lifecycle": (
        "lakehouse leg: Z-orders an ~8.6M-row lineitem slice on "
        "(partkey, suppkey) into 8 bucket directories (one "
        "partitionBy write job: normalize -> Morton -> range-bucket "
        "-> sort-within), then proves per-bucket stats prune on "
        "EITHER column and the pruned scan is exact. Wall is the "
        "clustering rewrite (sort-dominated, spreads across "
        "executors on a real cluster) + two pruned probe scans; the "
        "pruning decisions themselves read KB of manifest stats "
        "regardless of payload"
    ),
    "x145_cdc_incremental_view": (
        "lakehouse leg: append/replace/overwrite commit chain + a view "
        "maintained purely from read_changes. The feed ships append "
        "commits' DELTA directories only and replace contributes "
        "nothing, so maintenance cost tracks the changed rows; the "
        "dominant wall cost is the commit chain's own parquet writes "
        "(the data plane), not feed resolution"
    ),
}
SF01 = "/root/testdata/sf0.1"
SF10 = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".scaledata/sf10",
)

STREAM_LEG = "snapshot_stream_drain"
STREAM_NOTE = (
    "streaming leg (r12 verdict #5): a documents-backed snapshot "
    "table (base overwrite + one append + one UPDATE's CDC "
    "postimages) drained through readStream.format('snapshot_stream') "
    "with max_files_per_batch=8 under a processing trigger — timed "
    "portion is the DRAIN only (commits are setup). Offsets advance "
    "(version, file-index) pairs, so the 100x backlog arrives as "
    "proportionally more bounded micro-batches of the same size; "
    "per-file partitions keep executor-side pyarrow readers parallel "
    "(16 files per commit at both scales). Measured ~1x wall at 100x "
    "rows: with the file count held constant the drain is micro-batch-"
    "ROUND-bound (planning + trigger latency per batch), not row-bound "
    "— per-row cost fell ~100x, and at a real 100 TB the batch count "
    "grows with files while each batch stays one bounded parallel "
    "scan; history length never enters (offsets are log positions)"
)


def _stream_drain_leg(spark, sf_dir: str, runs: int) -> dict:
    """Build a documents-backed snapshot table once per sf_dir, then
    time `runs` full drains through the rate-limited streaming source
    (fresh checkpoint per drain; exactly-once totals asserted)."""
    import shutil
    import tempfile
    import time as _time

    from pyspark.sql import functions as F

    from deepcell_data_engineering_spark.catalog import load_table
    from deepcell_data_engineering_spark.plans.profile import median
    from deepcell_data_engineering_spark.sources import snapshots as snap
    from deepcell_data_engineering_spark.streaming import snapshot_source

    snapshot_source.register(spark)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    n_docs = docs.count()
    root = tempfile.mkdtemp(prefix="dde_stream_100x_")
    try:
        t = f"{root}/t"
        snap.commit(spark, docs.repartition(16), t, mode="overwrite")
        snap.commit(
            spark,
            docs.select(
                (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
                "lang",
                "n_chars",
            ).repartition(16),
            t,
            mode="append",
        )
        snap.update_where(
            spark, t, "doc_id % 1000 = 7", {"n_chars": "n_chars + 1"}
        )
        expected = 2 * n_docs + _exact_update_count(spark, t)
        ts = []
        for _ in range(runs):
            seen = {"n": 0}

            def sink(bdf, bid):
                seen["n"] += bdf.count()

            ckpt = tempfile.mkdtemp(prefix="dde_stream_ckpt_")
            t0 = _time.time()
            q = (
                spark.readStream.format("snapshot_stream")
                .option("path", t)
                .option("max_files_per_batch", "8")
                .load()
                .writeStream.foreachBatch(sink)
                .trigger(processingTime="100 milliseconds")
                .option("checkpointLocation", ckpt)
                .start()
            )
            deadline = _time.time() + 1200
            try:
                while _time.time() < deadline and seen["n"] < expected:
                    _time.sleep(0.2)
            finally:
                q.stop()
                q.awaitTermination(60)
                shutil.rmtree(ckpt, ignore_errors=True)
            assert seen["n"] == expected, (seen["n"], expected)
            ts.append(_time.time() - t0)
        return {"sec": median(ts), "rows": expected}
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _exact_update_count(spark, t) -> int:
    """Rows the UPDATE's change set ships to the stream (insert-kind
    postimages) — read once so the drain's expected total is exact."""
    from deepcell_data_engineering_spark.sources import snapshots as snap

    m = snap._load_manifest(t, 2, snap._POSIX)
    chg = spark.read.parquet(f"{t}/{m['change_dir']}")
    return chg.where("_change_type = 'insert'").count()


def main() -> None:
    runs = 3
    if "--runs" in sys.argv:
        runs = int(sys.argv[sys.argv.index("--runs") + 1])
    # --only NAME (repeatable): refresh just those rows, merging into
    # the existing artifact so untouched legs keep their numbers
    only = [
        sys.argv[i + 1]
        for i, a in enumerate(sys.argv)
        if a == "--only"
    ]
    queries = [q for q in QUERIES if not only or q in only]
    if not os.path.exists(os.path.join(SF10, "lineitem.parquet")):
        subprocess.check_call(
            [
                sys.executable,
                os.path.join(os.path.dirname(__file__), "gen_scale_data.py"),
                SF10,
                "--scale",
                "100",
            ]
        )

    from deepcell_data_engineering_spark.plans.profile import (
        median,
        open_session,
    )
    from deepcell_data_engineering_spark.relational import QUERIES as REG

    spark = open_session("dde-spark-bench-100x", SF01)

    out: dict[str, dict] = {}
    for name in queries:
        build = REG[name].build
        rec: dict[str, object] = {}
        for label, sf_dir in [("sf0.1", SF01), ("sf10", SF10)]:
            ts = []
            for _ in range(runs):
                t0 = time.time()
                n = build(spark, sf_dir).count()
                ts.append(time.time() - t0)
            rec[label] = round(median(ts), 3)
            rec[f"{label}_rows"] = n
        rec["ratio_100x_data"] = round(rec["sf10"] / rec["sf0.1"], 2)
        if name in NOTES:
            rec["note"] = NOTES[name]
        out[name] = rec
        print(
            f"{name:28s} sf0.1={rec['sf0.1']:8.2f}s  sf10={rec['sf10']:8.2f}s  "
            f"ratio={rec['ratio_100x_data']:6.1f}x  "
            f"rows {rec['sf0.1_rows']} -> {rec['sf10_rows']}"
        )

    if not only or STREAM_LEG in only:
        rec = {}
        for label, sf_dir in [("sf0.1", SF01), ("sf10", SF10)]:
            leg = _stream_drain_leg(spark, sf_dir, runs)
            rec[label] = round(leg["sec"], 3)
            rec[f"{label}_rows"] = leg["rows"]
        rec["ratio_100x_data"] = round(rec["sf10"] / rec["sf0.1"], 2)
        rec["note"] = STREAM_NOTE
        out[STREAM_LEG] = rec
        print(
            f"{STREAM_LEG:28s} sf0.1={rec['sf0.1']:8.2f}s  "
            f"sf10={rec['sf10']:8.2f}s  ratio={rec['ratio_100x_data']:6.1f}x  "
            f"rows {rec['sf0.1_rows']} -> {rec['sf10_rows']}"
        )

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH_scaling_100x.json",
    )
    if only and os.path.exists(path):
        with open(path) as fh:
            prior = json.load(fh).get("queries", {})
        prior.update(out)
        out = prior
    payload = {
        "note": (
            "sf10 is 100x the sf0.1 row counts (documents 500k, orders 15M, "
            f"lineitem 60M); ratio = sf10_median / sf0.1_median over {runs} "
            "runs on local[32]; a linear operator on a fixed-parallelism box "
            "lands ~<=100x"
        ),
        "queries": out,
        "max_ratio": max(r["ratio_100x_data"] for r in out.values()),
    }
    with open(path, "w") as fh:
        json.dump(payload, fh, indent=1)
    print(f"wrote {path}; max ratio {payload['max_ratio']}x")


if __name__ == "__main__":
    main()
