"""Benchmark harness: run the declared query surface at $SPARK_GRAFT_SF_DIR.

Prints exactly one JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"d01_...": sec, ...}, "sf": <float>}

Each query is timed end-to-end (plan build + execution + result fetch to
the driver). All declared queries return small results (aggregates or
LIMITed), so collect() is the correct terminal op — it measures the
cluster-side work, not a driver materialization of the dataset.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from deepcell_data_engineering_spark.plans.profile import (  # noqa: E402
    median,
    open_session,
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0

    import __spark_entry__ as entrymod

    qmap = entrymod.queries()
    spark = open_session("dde-spark-bench", sf_dir, master=f"local[{cpus}]")
    first = sorted(qmap)[0]
    qmap[first](spark, sf_dir).limit(1).collect()

    # median of n runs per query: round-over-round deltas shouldn't be
    # single-sample noise (GC pause, first-touch page faults)
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    samples: dict[str, list[float]] = {name: [] for name in qmap}
    for _ in range(runs):
        for name in sorted(qmap):
            t0 = time.perf_counter()
            qmap[name](spark, sf_dir).collect()
            samples[name].append(time.perf_counter() - t0)
    # sub-2s queries get extra samples (to >= 5): at that runtime the
    # noise band of 3 runs is wider than a 2x regression, so round-over-
    # round comparisons chase ghosts without the fatter tail
    extra = max(0, 5 - runs)
    for _ in range(extra):
        for name in sorted(qmap):
            if median(samples[name]) < 2.0:
                t0 = time.perf_counter()
                qmap[name](spark, sf_dir).collect()
                samples[name].append(time.perf_counter() - t0)

    timings = {name: round(median(xs), 4) for name, xs in samples.items()}
    total = sum(timings.values())
    # per-query min alongside the median: the min is the least
    # session-noise-contaminated sample (page cache, GC, co-tenant
    # jitter all only ADD time), so round-over-round comparisons use
    # min-vs-min to separate plan regressions from environment drift —
    # two rounds were spent proving drift that this column shows
    # instantly (r8 verdict #8)
    timings_min = {name: round(min(xs), 4) for name, xs in samples.items()}

    total_min = sum(timings_min.values())
    payload = {
        "metric": "declared_query_surface_total_runtime",
        "value": round(total, 4),
        "unit": "sec",
        # self-describing bases so humans/commit messages/drift tooling
        # can't mix them (r12 verdict #7): "value" and "sec_per_query"
        # are per-query-MEDIAN sums; drift tooling compares min-vs-min
        "basis": "median",
        "total_median_sec": round(total, 4),
        "total_min_sec": round(total_min, 4),
        "queries": timings,
        "queries_min": timings_min,
        "sf": sf,
        # the query surface GROWS round over round; normalize
        # before comparing totals across rounds
        "n_queries": len(timings),
        "sec_per_query": round(total / max(len(timings), 1), 4),
        "sec_per_query_min": round(
            total_min / max(len(timings_min), 1), 4
        ),
        "runs_per_query": runs,
        # the layout the numbers were taken on: totals from different
        # core counts are not comparable
        "cpus": int(cpus) if cpus.isdigit() else cpus,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "p95_query_sec": round(
            sorted(timings.values())[max(0, int(len(timings) * 0.95) - 1)], 4
        )
        if timings
        else 0.0,
    }
    line = json.dumps(payload)
    # Durable copy: the driver captures stdout through a bounded tail
    # buffer that has truncated the 76-query dict twice; the on-disk file
    # is the round-over-round regression record.
    out_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_out.json"
    )
    with open(out_path, "w") as f:
        f.write(line + "\n")
    print(line)


if __name__ == "__main__":
    main()
