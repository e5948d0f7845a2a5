"""Automatic round-over-round drift adjudication (r9 verdict #2).

Three consecutive rounds re-litigated a ~1.2x uniform in-session bench
drift by hand. This post-pass makes the adjudication a committed
artifact: compare the current bench (bench_out.json) against the prior
round's BENCH_r{N-1}.json, and for every query whose timing moved more
than the threshold, re-bench it ALONE (tools/profile_queries.py in a
fresh subprocess — nothing else scheduled in the session) and record
the verdict:

  environmental     isolated time returns to within threshold of the
                    prior round — session-state drift, not a plan change
  plan_regression   isolated time confirms the slowdown — a real change
                    to investigate

Comparison uses MIN-vs-MIN (bench.py persists queries_min): the min is
the least session-noise-contaminated sample, since page cache misses,
GC and co-tenant jitter only ever ADD time.

Usage (the prior round's per-query record is its committed
bench_out.json — the driver's BENCH_r{N}.json tail is truncated):
  git show <prior-round-commit>:bench_out.json > /tmp/prev_bench.json
  python bench.py                # refresh bench_out.json, ALONE
  python tools/bench_drift.py --prev /tmp/prev_bench.json \
      [--cur bench_out.json] [--out BENCH_drift_r10.json] \
      [--threshold 1.3] [--runs 9] [--min-sec 1.0]

Run ALONE (no concurrent Spark) — same rule as bench.py.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--prev", required=True, help="prior round BENCH_r{N}.json")
    ap.add_argument("--cur", default=os.path.join(ROOT, "bench_out.json"))
    ap.add_argument("--out", default=os.path.join(ROOT, "BENCH_drift.json"))
    ap.add_argument("--threshold", type=float, default=1.3)
    ap.add_argument("--runs", type=int, default=9)
    ap.add_argument(
        "--min-sec",
        type=float,
        default=1.0,
        help="ignore queries faster than this in BOTH rounds — at "
        "sub-second runtimes the noise band exceeds the threshold",
    )
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    with open(args.prev) as f:
        prev = json.load(f)
    with open(args.cur) as f:
        cur = json.load(f)
    # min-vs-min when both rounds persisted it; medians otherwise
    pq = prev.get("queries_min") or prev.get("queries", {})
    cq = cur.get("queries_min") or cur.get("queries", {})
    basis = (
        "min"
        if prev.get("queries_min") and cur.get("queries_min")
        else "median"
    )

    movers: dict[str, dict] = {}
    for name in sorted(set(pq) & set(cq)):
        p, c = pq[name], cq[name]
        if max(p, c) < args.min_sec:
            continue
        ratio = c / p if p else float("inf")
        if ratio > args.threshold:
            movers[name] = {"prev": p, "cur": c, "ratio": round(ratio, 3)}

    iso: dict[str, dict] = {}
    if movers:
        cmd = [
            sys.executable,
            os.path.join(ROOT, "tools", "profile_queries.py"),
            *movers,
            "--runs",
            str(args.runs),
            "--sf-dir",
            args.sf_dir,
        ]
        print(f"re-benching {len(movers)} movers in isolation...", flush=True)
        res = subprocess.run(cmd, capture_output=True, text=True, check=True)
        iso = json.loads(res.stdout.strip().splitlines()[-1])["queries"]

    for name, rec in movers.items():
        im = iso[name]["min"]
        rec["isolated_median"] = iso[name]["median"]
        rec["isolated_min"] = im
        rec["isolated_ratio"] = round(im / rec["prev"], 3)
        rec["verdict"] = (
            "environmental"
            if im <= args.threshold * rec["prev"]
            else "plan_regression"
        )

    payload = {
        "prev_bench": os.path.basename(args.prev),
        "threshold": args.threshold,
        "basis": basis,
        "n_common": len(set(pq) & set(cq)),
        "n_movers": len(movers),
        "n_plan_regressions": sum(
            1 for r in movers.values() if r["verdict"] == "plan_regression"
        ),
        "movers": movers,
    }
    with open(args.out, "w") as f:
        json.dump(payload, f, indent=1)
    print(json.dumps({k: payload[k] for k in (
        "n_common", "n_movers", "n_plan_regressions")}))
    print(f"-> {args.out}")


if __name__ == "__main__":
    main()
