"""Profile registered queries in one warm session (plans/profile.py):
per query, the wall-time samples and their median/min/max, the
build/collect split with its Spark jobs, and the executed plan's
scan/broadcast/reuse counts.

Usage:
  python tools/profile_queries.py [name ...] --sf-dir DIR \
      [--runs 7] [--plans DIR]

No names profiles every registered query. ``--plans DIR`` also writes
each query's formatted explain to DIR/<name>.txt. The master is
``local[$SPARK_GRAFT_CPUS]`` (``get_spark``). The last stdout line is
{"sf_dir": ..., "runs": ..., "queries": {name: record}}.

Run ALONE (no concurrent Spark) — same rule as bench.py.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from deepcell_data_engineering_spark.plans import profile as prof  # noqa: E402


def main(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    # an isolated A/B takes the median of >= 7 samples
    ap.add_argument("--runs", type=int, default=7)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--plans", metavar="DIR")
    args = ap.parse_args(argv)

    import __spark_entry__ as entrymod

    qmap = entrymod.queries()
    names = prof.check_names(args.names, qmap) or sorted(qmap)
    spark = prof.open_session("dde-spark-profile", args.sf_dir)
    out: dict[str, dict] = {}
    for n in names:
        try:
            out[n] = prof.profile(
                spark, n, qmap[n], args.sf_dir, args.runs, args.plans
            )
        except Exception as exc:  # record, keep profiling the rest
            traceback.print_exc()
            out[n] = {"error": f"{type(exc).__name__}: {exc}"[:200]}
    payload = {"sf_dir": args.sf_dir, "runs": args.runs, "queries": out}
    print(json.dumps(payload))
    return payload


if __name__ == "__main__":
    main()
