"""Check registered queries in one warm session, in one loop
(plans/profile.py:sweep). No names checks every registered query.

Usage:
  python tools/profile_queries.py [name ...] --sf-dir DIR [--runs 7]
      [--plans DIR] [--oracle OUT.json] [--contracts OUT.json]

  --contracts  plan contracts read before the query runs, with the jobs
               its build started (PLANCHECK format);
  --oracle     row count and value hash against the DuckDB oracle, plus
               the session's layout (PREFLIGHT format);
  --runs N     N timing samples (0: none): wall median/min/max, the
               build/collect split with its jobs, executed-plan scans;
  --plans DIR  each query's formatted plan, to DIR/<name>.txt.

The layout is the engine session's: ``local[$SPARK_GRAFT_CPUS]`` and
``$SPARK_GRAFT_SHUFFLE_PARTITIONS``. The published artifacts use
CPUS=8 with 8 partitions for PLANCHECK.json (``--sf-dir .../sf0.001
--runs 0 --contracts PLANCHECK.json``) and with 16 for the oracle gate
(``--sf-dir .../sf0.01 --runs 0 --oracle PREFLIGHT_rNN.json``).

The last stdout line is {"sf_dir", "runs", "shuffle_partitions",
"default_parallelism", "failed", "queries": {name: record}}, a record
being the profile keys plus the "contracts"/"oracle" sub-records asked
for. Exit status 1 if any query raised, failed its oracle or broke a
contract. Run ALONE (no concurrent Spark) — same rule as bench.py.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from deepcell_data_engineering_spark.plans import profile as prof  # noqa: E402
from deepcell_data_engineering_spark.relational import QUERIES  # noqa: E402


def _dump(path: str, payload: dict) -> None:
    with open(path, "w") as fh:
        json.dump(payload, fh, indent=1)


def main(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    # an isolated A/B takes the median of >= 7 samples
    ap.add_argument("--runs", type=int, default=7)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--plans", metavar="DIR")
    ap.add_argument("--oracle", metavar="OUT.json")
    ap.add_argument("--contracts", metavar="OUT.json")
    args = ap.parse_args(argv)
    if args.runs < 0:
        ap.error(f"--runs must be >= 0, got {args.runs}")

    names = prof.check_names(args.names, QUERIES) or sorted(QUERIES)
    spark = prof.open_session("dde-spark-profile", args.sf_dir)
    recs = prof.sweep(
        spark,
        {n: QUERIES[n] for n in names},
        args.sf_dir,
        contracts=args.contracts is not None,
        oracle=args.oracle is not None,
        runs=args.runs,
        plan_dir=args.plans,
    )
    layout = {
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "default_parallelism": spark.sparkContext.defaultParallelism,
    }
    failed = {n for n, r in recs.items() if "error" in r}
    if args.oracle:
        res = {n: r.get("oracle", r) for n, r in recs.items()}
        bad = {n for n, r in res.items() if not r.get("ok")}
        print(f"{len(res) - len(bad)}/{len(res)} passed the oracle at "
              f"{args.sf_dir} {layout}", file=sys.stderr)
        _dump(args.oracle, {"sf_dir": args.sf_dir, **layout, "results": res})
        failed |= bad
    if args.contracts:
        con = {n: r.get("contracts", r) for n, r in recs.items()}
        bad = sorted(n for n, c in con.items() if prof.violates(c))
        print(f"{len(con)} queries, {len(bad)} contract violations",
              file=sys.stderr)
        _dump(args.contracts, {
            "sf_dir": args.sf_dir, "n_queries": len(con), "violations": bad,
            "full_width_scans": {
                n: ts for n, c in sorted(con.items())
                if (ts := prof.full_width(c))
            },
            "queries": con,
        })
        failed |= set(bad)
    payload = {"sf_dir": args.sf_dir, "runs": args.runs, **layout,
               "failed": sorted(failed), "queries": recs}
    print(json.dumps(payload))
    return payload


if __name__ == "__main__":
    sys.exit(1 if main()["failed"] else 0)
