"""Partition-layout invariance sweep: re-run the full oracle gate under
several shuffle-partition / core-count layouts. A query whose result
hash depends on partition count (unordered double summation crossing a
rounding boundary, approx sketches in hashed columns, driver-visible
partition iteration order) passes a single-layout check and then breaks
on the next cluster resize — this sweep is the cheap local proxy for
that failure mode.

Each layout runs ``profile_queries.py --runs 0 --oracle`` in its own
process under the layout's environment, and that run's session must
report the layout back: a session that ignored the environment proves
nothing, and the verdict is then LAYOUT-NOT-APPLIED.

Persists INVARIANCE_r{N}.json (or the --out path): per-query hashes
under each layout, each layout's session and the verdict.

Run: python tools/check_invariance.py [sf_dir] [--out PATH] [--only a,b]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import subprocess
import sys
import tempfile

LAYOUTS = [
    {"SPARK_GRAFT_SHUFFLE_PARTITIONS": "3", "SPARK_GRAFT_CPUS": "5"},
    {"SPARK_GRAFT_SHUFFLE_PARTITIONS": "7", "SPARK_GRAFT_CPUS": "3"},
    {"SPARK_GRAFT_SHUFFLE_PARTITIONS": "32", "SPARK_GRAFT_CPUS": "8"},
]


def _default_out(repo: str) -> str:
    """INVARIANCE_r{N}.json with N = the newest round number seen in
    the repo's driver artifacts (CORRECTNESS_r*.json) + 1 — this tool
    runs while preparing the NEXT round's artifacts."""
    rounds = [
        int(m.group(1))
        for f in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))
        if (m := re.search(r"_r(\d+)\.json$", f))
    ]
    n = (max(rounds) + 1) if rounds else 0
    return os.path.join(repo, f"INVARIANCE_r{n:02d}.json")


def _run_layout(cmd: list[str], layout: dict) -> tuple[bool, dict]:
    """Whether one layout's oracle run exited 0, and its --oracle JSON."""
    with tempfile.TemporaryDirectory() as tmp:
        out = os.path.join(tmp, "oracle.json")
        r = subprocess.run(
            [*cmd, "--oracle", out],
            env={**os.environ, **layout},
            stdout=subprocess.DEVNULL,
        )
        if not os.path.exists(out):
            return False, {}
        with open(out) as fh:
            return r.returncode == 0, json.load(fh)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default="")
    ap.add_argument("--only", default="", help="comma-separated query names")
    args = ap.parse_args()
    here = os.path.dirname(os.path.abspath(__file__))
    out_path = args.out or _default_out(os.path.dirname(here))
    only = [n.strip() for n in args.only.split(",") if n.strip()]
    cmd = [sys.executable, os.path.join(here, "profile_queries.py"), *only,
           "--sf-dir", args.sf_dir, "--runs", "0"]

    ok, applied, sessions, results = True, True, [], []
    for layout in LAYOUTS:
        passed, res = _run_layout(cmd, layout)
        session = {k: res.get(k) for k in
                   ("shuffle_partitions", "default_parallelism")}
        wanted = [int(layout["SPARK_GRAFT_SHUFFLE_PARTITIONS"]),
                  int(layout["SPARK_GRAFT_CPUS"])]
        applied = applied and list(session.values()) == wanted
        ok = ok and passed
        sessions.append(session)
        results.append(res.get("results", {}))
        n_ok = sum(1 for r in results[-1].values() if r.get("ok"))
        print(f"{layout}: {n_ok}/{len(results[-1])} passed, session "
              f"{session}", flush=True)

    # cross-layout hash agreement per query (the invariance itself,
    # independent of the oracle verdicts)
    names = sorted(set().union(*results))
    disagreeing = []
    queries: dict[str, dict] = {}
    for name in names:
        recs = [res.get(name, {}) for res in results]
        hashes = [r.get("hash", "") for r in recs]
        all_ok = all(r.get("ok", False) for r in recs)
        rows = {r.get("rows") for r in recs}
        invariant = len(set(hashes)) == 1 and len(rows) == 1 and all_ok
        if not invariant:
            disagreeing.append(name)
        queries[name] = {"hashes": hashes, "ok": all_ok, "invariant": invariant}
    ok = ok and applied and not disagreeing
    verdict = (
        "LAYOUT-NOT-APPLIED" if not applied
        else "INVARIANT" if ok else "LAYOUT-DEPENDENT"
    )

    artifact = {
        "sf_dir": args.sf_dir,
        "layouts": LAYOUTS,
        "sessions": sessions,
        "verdict": verdict,
        "n_queries": len(names),
        "disagreeing": disagreeing,
        "queries": queries,
    }
    with open(out_path, "w") as fh:
        json.dump(artifact, fh, indent=1)
    print(f"wrote {out_path}")
    print(verdict if ok else f"{verdict} ({disagreeing}) — fix before shipping")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
