"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. One closed-loop client on
``local[N]`` (N = the host's CPU count) drives one workload: after the JVM
launches, set-up runs ``SETUP_REPS`` times (session start, seeded input
generation, oracle expectations) and reports its median; then whole passes
of the workload run until ``--seconds`` have been measured. Every output
check runs outside the timed region.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``; the
per-layer metrics with ``--trace 1``). A detail record with every
workload-specific metric, its unit and sample count, the per-module layer
counters and the host settings goes to stderr and to
``perfbench/out/<workload>-seed<n>-trace<t>.json``.

With ``--trace 1`` the passes are traced instead: a span around each layer
call, Spark's counters read between spans, and ``trace.overhead_s`` is the
time the tracer spent reading counters inside a pass. Untraced runs give the
end-to-end numbers; a traced run's pass time against theirs is the whole
cost of tracing, including the per-layer materialization the image
workload adds.

Every run starts a fresh session. Its first pass pays for JIT and code
generation (~14-18 s against ~5-7 s warm on a 4-cpu host) and is reported
alone as ``first_pass_s``, what a fresh batch submission sees; then whole
passes run until ``--seconds`` of them have been measured, and ``pass_s``
is their median wall time. Every pass, the first one too, is checked.

``query_mix`` and ``table_commits`` are the benchmark's workloads.
``image_lifecycle`` runs the same way but is not one of them: its checks
fail while ``write_npz_units`` splits a unit whose frames straddle two
Arrow batches (it prints ``correct: false`` and counts the lost frames in
the detail record).
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import platform
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, "out")

WORKLOADS = ("image_lifecycle", "query_mix", "table_commits")
SETUP_REPS = 3
MAX_FAILED_PASSES = 2

# Per-layer metrics read from the traced passes, summed over a pass and
# reported as the median over traced passes. Every workload moves each of
# them; the per-module breakdown is in the detail record.
GENERIC_LAYERS = {
    "driver.build_s": ("build_s", "s"),
    "driver.build_jobs": ("build_jobs", "count"),
    "catalyst.analysis_s": ("analysis_s", "s"),
    "catalyst.optimization_s": ("optimization_s", "s"),
    "catalyst.planning_s": ("planning_s", "s"),
    "execution.wall_s": ("execute_s", "s"),
    "execution.jobs": ("jobs", "count"),
    "execution.stages": ("stages", "count"),
    "execution.tasks": ("tasks", "count"),
    "execution.jvm_cpu_s": ("jvm_cpu_s", "s"),
    "execution.executor_run_s": ("executor_run_s", "s"),
    "execution.shuffle_write_bytes": ("shuffle_write_bytes", "bytes"),
    "execution.input_bytes": ("input_bytes", "bytes"),
    "result.rows": ("result_rows", "count"),
}


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_environment() -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and make the package importable by the Python workers."""
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "spark-local")):
        os.makedirs(d, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update(
        {
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
            ),
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
            "SPARK_LAUNCHER_OPTS": java_opts,  # spark-submit's own launcher JVM
            "SPARK_GRAFT_DRIVER_MEM": "2g",  # small inputs: bound the JVM heap
            "PYSPARK_SUBMIT_ARGS": " ".join(
                [
                    "--conf spark.ui.showConsoleProgress=false",
                    "--conf spark.log.level=ERROR",
                    f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
                    f'--driver-java-options "{java_opts}"',
                    "pyspark-shell",
                ]
            ),
        }
    )
    os.environ.pop("SPARK_GRAFT_CPUS", None)


def start_session():
    from deepcell_data_engineering_spark.session import get_spark

    return get_spark(app_name="perfbench", master=f"local[{_cpus()}]")


def host_record(spark) -> dict:
    import numpy
    import pyspark

    return {
        "cpus": _cpus(),
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "numpy": numpy.__version__,
    }


def _measure(wl, harness, seconds: float, probe, jvm: int, result: dict) -> list[dict]:
    """Run a first (cold) pass, then whole passes until ``seconds`` of
    passes have been measured (at least one). Every pass is checked.
    Returns one record per measured pass; the first pass's wall time goes
    to ``result["first_pass_s"]``."""
    passes = []
    spent = 0.0
    while spent < seconds or not passes:
        tracer = harness.Tracer(probe)
        cpu0 = harness.run_cpu_s(jvm)
        t0 = time.perf_counter()
        try:
            with tracer.span("pass", counters=False):
                ops = wl.run_pass(tracer)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            result["attempted"] += 1
            result["failed"] += 1
            if result["failed"] >= MAX_FAILED_PASSES and not passes:
                raise RuntimeError("no pass of the workload completed") from None
            wl.recover()
            spent += time.perf_counter() - t0
            continue
        wall = time.perf_counter() - t0
        cpu = harness.run_cpu_s(jvm) - cpu0
        try:
            outcomes = wl.check_pass()  # outside the timed region
        except Exception:
            traceback.print_exc(file=sys.stderr)
            outcomes = {"checks": False}
        result["attempted"] += len(outcomes)
        result["failed"] += sum(1 for ok in outcomes.values() if not ok)
        for name, ok in outcomes.items():
            if not ok:
                result["failures"][name] = result["failures"].get(name, 0) + 1
        if "first_pass_s" not in result:
            result["first_pass_s"] = wall
            continue
        spent += wall
        passes.append({
            "wall_s": wall, "cpu_s": cpu, "ops": ops, "spans": tracer.spans,
            "probe_s": tracer.probe_s,
        })
    return passes


def _pass_summary(harness, wl, passes: list[dict]) -> dict:
    samples = [lat for p in passes for _, lat in p["ops"]]
    walls = [p["wall_s"] for p in passes]
    pct = harness.tail_percentile(len(samples))
    return {
        "pass_s": harness.median(walls),
        "cpu_s": harness.median([p["cpu_s"] for p in passes]),
        "ops_per_s": len(samples) / sum(walls),
        "op_p50_s": harness.median(samples),
        "op_tail_s": None if pct is None else harness.nearest_rank(samples, pct),
        "op_tail_percentile": pct,
        "n_passes": len(passes),
        "n_ops": len(samples),
        "op_s": {
            name: harness.median([lat for p in passes for n, lat in p["ops"] if n == name])
            for name in dict(passes[0]["ops"])
        },
    }


def _layer_summary(harness, passes: list[dict]) -> dict:
    """Generic per-layer metrics: each counter summed over a pass's spans,
    then the median over passes."""
    per_pass = []
    for p in passes:
        tot: dict[str, float] = {}
        for sp in p["spans"]:
            for k, v in sp.counters.items():
                tot[k] = tot.get(k, 0) + v
        per_pass.append(tot)
    out = {}
    for name, (key, unit) in GENERIC_LAYERS.items():
        out[name] = {"value": harness.median([t.get(key, 0) for t in per_pass]), "unit": unit}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "deepcell_data_engineering_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    _prepare_environment()
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    harness = importlib.import_module("harness")
    module = importlib.import_module(args.workload)

    result = {"attempted": 0, "failed": 0, "failures": {}}
    spark = None
    setup_times = []
    try:
        t0 = time.perf_counter()
        spark = start_session()  # launches the JVM, once per process
        launch_s = time.perf_counter() - t0
        for rep in range(SETUP_REPS):
            spark.stop()
            t0 = time.perf_counter()
            spark = start_session()
            wl = module.Workload(spark, os.path.join(WORK, f"rep{rep}"), args.seed)
            wl.setup()
            setup_times.append(time.perf_counter() - t0)

        probe = harness.SparkProbe(spark) if args.trace else None
        jvm = harness.jvm_pid(spark)
        with harness.RssSampler(jvm) as rss:
            passes = _measure(wl, harness, args.seconds, probe, jvm, result)
    finally:
        if spark is not None:
            host = host_record(spark)
            harness.stop_jvm(spark)

    summary = _pass_summary(harness, wl, passes)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": host,
        "jvm_launch_s": launch_s,
        "setup_s": setup_times,
        "failures": result["failures"],
        "error_rate": result["failed"] / max(result["attempted"], 1),
        "pass": summary,
        "pass_walls_s": [p["wall_s"] for p in passes],
        "pass_cpu_s": [p["cpu_s"] for p in passes],
        "first_pass_s": result["first_pass_s"],
        "peak_rss_mb": rss.peak_bytes / 2**20,
        "peak_rss_mb_by_pid": {pid: b / 2**20 for pid, b in rss.peaks.items()},
        "workload_metrics": wl.workload_metrics(passes),
    }
    if args.trace:
        metrics = _layer_summary(harness, passes)
        metrics["trace.overhead_s"] = {
            "value": harness.median([p["probe_s"] for p in passes]),
            "unit": "s",
        }
        detail["layers"] = wl.layer_metrics([p["spans"] for p in passes])
        detail["layers"][f"{args.workload}.spill_bytes"] = harness.median(
            [sum(s.counters.get("spill_bytes", 0) for s in p["spans"]) for p in passes]
        )
        detail["layers"][f"{args.workload}.trace_overhead_s"] = (
            metrics["trace.overhead_s"]["value"]
        )
        # pass time outside every layer span: the benchmark's own glue and
        # the tracer's counter reads
        detail["layers"]["unattributed_s"] = harness.median(
            [harness.self_time(p["spans"], 0) for p in passes]
        )
        detail["spans"] = [[vars(s) for s in p["spans"]] for p in passes]
    else:
        metrics = {
            "setup_s": {"value": harness.median(setup_times), "unit": "s"},
            "first_pass_s": {"value": result["first_pass_s"], "unit": "s"},
            "pass_s": {"value": summary["pass_s"], "unit": "s"},
            "peak_rss_mb": {"value": rss.peak_bytes / 2**20, "unit": "MB"},
        }
    detail["metrics"] = metrics

    os.makedirs(OUT, exist_ok=True)
    out_path = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out_path, "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    brief = {k: v for k, v in detail.items() if k != "spans"}
    print(json.dumps(brief, default=str), file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": result["failed"] == 0,
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
