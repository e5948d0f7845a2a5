"""Every per-query check in one loop over the registry (``sweep``):
plan contracts, the DuckDB oracle, timing samples and formatted plans,
in one warm session whose layout ``get_spark`` takes from the
environment (``SPARK_GRAFT_CPUS``, ``SPARK_GRAFT_SHUFFLE_PARTITIONS``).
``tools/profile_queries.py`` is the command line.

Run it ALONE (no concurrent Spark client): job counts are session-wide
deltas of the DAG scheduler's job counter, which — unlike a job group —
also sees the jobs a verb submits from its own writer threads.
"""

from __future__ import annotations

import glob
import os
import sys
import time
import traceback
from typing import TYPE_CHECKING, Callable, Iterable, Mapping

from pyspark.sql import DataFrame, SparkSession

from ..catalog import TABLE_NAMES, load_table
from ..oracle import compare, duckdb_connect
from ..session import get_spark
from . import inspect as pi

if TYPE_CHECKING:
    from ..relational.queries import QuerySpec


def median(xs: Iterable[float]) -> float:
    """The median; for an even count, the mean of the two middle values."""
    s = sorted(xs)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def check_names(names: Iterable[str], known: Iterable[str]) -> list[str]:
    """``names`` as a list; ``ValueError`` naming every unknown one."""
    names, known = list(names), set(known)
    unknown = [n for n in names if n not in known]
    if unknown:
        raise ValueError(f"unknown queries: {unknown}")
    return names


def open_session(
    app_name: str, sf_dir: str, master: str | None = None
) -> SparkSession:
    """The engine session (``get_spark``: ``master`` defaults to
    ``local[$SPARK_GRAFT_CPUS]``) with quiet logs, and every table's
    file listing + parquet footer cache warm, so the first query
    touching each table doesn't absorb catalog cold-start: on a real
    cluster the metastore/file-index cache is durably warm, and
    attributing one table's listing to whichever query happens to run
    first misprices that query."""
    spark = get_spark(app_name=app_name, master=master)
    spark.sparkContext.setLogLevel("ERROR")
    for t in TABLE_NAMES:
        load_table(spark, sf_dir, t).limit(1).collect()
    return spark


def write_plan(df: DataFrame, plan_dir: str, name: str) -> str:
    """Write ``df``'s formatted explain to ``<plan_dir>/<name>.txt``."""
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    os.makedirs(plan_dir, exist_ok=True)
    path = os.path.join(plan_dir, f"{name}.txt")
    with open(path, "w") as fh:
        fh.write(df._jdf.queryExecution().explainString(mode))
    return path


def profile(
    spark: SparkSession,
    name: str,
    build: Callable[[SparkSession, str], DataFrame],
    sf_dir: str,
    runs: int,
    plan_dir: str | None = None,
) -> dict:
    """Warm ``build`` once, then time ``runs`` samples of
    ``build(spark, sf_dir).collect()``. Returns:

    - ``samples`` (build + collect wall seconds per run) and their
      ``median``, ``min`` and ``max``;
    - ``build_s``/``collect_s``: the median seconds of each phase, and
      ``build_jobs``/``collect_jobs``: the Spark jobs each started in
      the last run (build jobs are eager actions inside ``build()``);
    - ``scans``, ``bcast``, ``reused``: parquet file scans, broadcast
      exchanges and reused exchanges in the last run's executed plan.
      A scan the build pinned away (``localCheckpoint``) is not in it.

    With ``plan_dir``, the last run's formatted explain string is
    written to ``<plan_dir>/<name>.txt``, whose path is ``plan``."""
    if runs < 1:
        raise ValueError(f"runs must be >= 1, got {runs}")
    build(spark, sf_dir).collect()
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    walls, builds, collects = [], [], []
    for _ in range(runs):
        j0, t0 = dag.numTotalJobs(), time.perf_counter()
        df = build(spark, sf_dir)
        j1, t1 = dag.numTotalJobs(), time.perf_counter()
        df.collect()
        j2, t2 = dag.numTotalJobs(), time.perf_counter()
        walls.append(round(t2 - t0, 4))
        builds.append(t1 - t0)
        collects.append(t2 - t1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    rec = {
        "samples": walls,
        "median": round(median(walls), 4),
        "min": min(walls),
        "max": max(walls),
        "build_s": round(median(builds), 4),
        "build_jobs": j1 - j0,
        "collect_s": round(median(collects), 4),
        "collect_jobs": j2 - j1,
        "scans": plan.count("Scan parquet"),
        "bcast": plan.count("BroadcastExchange"),
        "reused": plan.count("ReusedExchange"),
    }
    if plan_dir is not None:
        rec["plan"] = write_plan(df, plan_dir, name)
    return rec


def table_widths(sf_dir: str) -> dict[str, int]:
    """Column count of each ``<sf_dir>/<table>.parquet``."""
    import pyarrow.parquet as pq

    widths = {}
    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(p)[: -len(".parquet")]
        try:
            widths[name] = len(pq.read_schema(p).names)
        except (OSError, ValueError):  # not a single parquet file
            pass
    return widths


def plan_contracts(
    spec: QuerySpec, df: DataFrame, widths: Mapping[str, int]
) -> dict:
    """The plan-contract record of ``spec``'s built, not yet run ``df``:
    under AQE a collected frame's executed plan is the final one, where
    sort-merge joins may have become broadcast joins. ``violates``
    names the contracts; ``scans`` (read width against table width) is
    informational, as some queries read whole rows by design."""
    plan, scans = pi.executed_plan(df), pi.scan_profiles(df)
    s = pi.join_strategies(df)
    gwin = pi.global_window_inputs_bounded(df)
    return {
        "cartesian": plan.count("CartesianProduct"),
        "bnlj": s["broadcast_nested_loop"],
        "bnlj_non_scalar": pi.bnlj_build_sides_scalar(df).count(False),
        "bnlj_declared_bounded": spec.bnlj_bounded,
        "global_windows": len(gwin),
        "gwin_unbounded": gwin.count(False),
        "window_declared_bounded": spec.window_bounded,
        "broadcast_hash": s["broadcast_hash"],
        "sort_merge": s["sort_merge"],
        "exchanges": pi.count_exchanges(df),
        "scans": [{"table": sp["table"], "read": sp["n_read"],
                   "width": widths.get(sp["table"])} for sp in scans],
    }


def violates(rec: dict) -> bool:
    """Whether a ``plan_contracts`` record (or an error) breaks a
    contract: a CartesianProduct, or more nested-loop-join builds or
    UNPARTITIONED window inputs not provably bounded than declared."""
    return (
        "error" in rec
        or rec["cartesian"] > 0
        or rec["bnlj_non_scalar"] > rec["bnlj_declared_bounded"]
        or rec["gwin_unbounded"] > rec["window_declared_bounded"]
    )


def full_width(rec: dict) -> list[str]:
    """Tables of six or more columns that a record's scans read whole."""
    return sorted(
        s["table"]
        for s in rec.get("scans", [])
        if s["width"] is not None and s["width"] >= 6 and s["read"] >= s["width"]
    )


def sweep(
    spark: SparkSession,
    specs: Mapping[str, QuerySpec],
    sf_dir: str,
    *,
    contracts: bool = False,
    oracle: bool = False,
    runs: int = 0,
    plan_dir: str | None = None,
) -> dict[str, dict]:
    """Build each of ``specs`` (name -> ``QuerySpec``) once and check it:
    first ``contracts`` (``plan_contracts`` plus ``build_jobs``, the
    jobs ``build()`` started) before the frame runs, then ``oracle``
    (``oracle.compare``), then ``runs`` timing samples (``profile``).

    A record is the ``profile`` record (empty with ``runs=0``) plus the
    ``contracts`` and ``oracle`` sub-records asked for, or
    ``{"error": ...}`` if the query raised; the loop goes on. With
    ``plan_dir`` and ``runs=0``, the one build's formatted plan (as it
    ran under ``oracle``, else as planned) is written to ``plan``."""
    con = duckdb_connect(sf_dir) if oracle else None
    widths = table_widths(sf_dir) if contracts else {}
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    out: dict[str, dict] = {}
    for name, spec in specs.items():
        t0 = time.perf_counter()
        rec: dict = {}
        try:
            j0 = dag.numTotalJobs()
            df = spec.build(spark, sf_dir)
            if contracts:
                rec["contracts"] = {
                    "build_jobs": dag.numTotalJobs() - j0,
                    **plan_contracts(spec, df, widths),
                }
            if con is not None:
                res = compare(name, df, con, spec.oracle)
                rec["oracle"] = {"ok": res.ok, "rows": res.spark_rows,
                                 "hash": res.spark_hash}
                if not res.ok:
                    rec["oracle"]["detail"] = res.detail
            if runs:
                rec.update(profile(spark, name, spec.build, sf_dir, runs, plan_dir))
            elif plan_dir is not None:
                rec["plan"] = write_plan(df, plan_dir, name)
        except Exception as exc:  # record, keep checking the rest
            traceback.print_exc()
            rec = {"error": f"{type(exc).__name__}: {exc}"[:300]}
        out[name] = rec
        secs = time.perf_counter() - t0
        print(f"  {name:32s} {secs:7.2f}s  {_summary(rec)}", file=sys.stderr)
    return out


def _summary(rec: dict) -> str:
    if "error" in rec:
        return "ERROR " + rec["error"]
    o, c = rec.get("oracle"), rec.get("contracts")
    return "  ".join(filter(None, [
        o and f"{'OK' if o['ok'] else 'FAIL'} rows={o['rows']} {o.get('detail', '')}",
        c and ("VIOLATION" if violates(c) else "contracts ok"),
        "median" in rec and f"median={rec['median']}s",
    ]))
