"""Per-query profiler: one warm session, one timing loop, one record.

A query's wall time alone cannot say where its seconds go: at small
scale factors the suite is bound by job count and scheduler overhead,
and many queries run eager actions (commits, ``localCheckpoint`` pins,
scalar ``collect``s) while their plan is still being BUILT. ``profile``
splits each sample into the driver build and the final ``collect`` and
reads the executed (AQE-final) plan, so one record answers what the
isolated re-bench, the build/collect split and the executed-scan audit
each used to answer separately (``tools/profile_queries.py`` is the
command line).

Run it ALONE (no concurrent Spark client): job counts are session-wide
deltas of the DAG scheduler's job counter, which — unlike a job group —
also sees the jobs a verb submits from its own writer threads.
"""

from __future__ import annotations

import os
import time
from typing import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

from ..catalog import TABLE_NAMES, load_table
from ..session import get_spark


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
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
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
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode
        os.makedirs(plan_dir, exist_ok=True)
        rec["plan"] = os.path.join(plan_dir, f"{name}.txt")
        with open(rec["plan"], "w") as fh:
            fh.write(qe.explainString(mode.fromString("formatted")))
    return rec
