"""Tests for the benchmark's own measurement helpers.

    python3 -m pytest perfbench/tests -q
"""

import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import harness  # noqa: E402


@pytest.mark.parametrize(
    "n, p",
    [(11, 9), (20, 50), (21, 52), (100, 90), (1000, 99), (10, None), (0, None)],
)
def test_tail_percentile_leaves_ten_samples_beyond(n, p):
    assert harness.tail_percentile(n) == p
    if p is not None:
        values = list(range(n))
        cut = harness.nearest_rank(values, p)
        assert sum(v > cut for v in values) >= 10
        assert sum(v > harness.nearest_rank(values, p + 1) for v in values) < 10


def test_nearest_rank():
    assert harness.nearest_rank([5, 1, 4, 2, 3], 50) == 3
    assert harness.nearest_rank([5, 1, 4, 2, 3], 100) == 5
    assert harness.nearest_rank([5, 1, 4, 2, 3], 1) == 1


def _span(name, start, end, parent=None):
    return harness.Span(name, start, end, parent)


def test_self_time_subtracts_the_union_of_direct_children():
    spans = [
        _span("root", 0.0, 10.0),
        _span("a", 1.0, 3.0, parent=0),
        _span("b", 2.0, 5.0, parent=0),  # overlaps a: counted once
        _span("c", 7.0, 8.0, parent=0),
        _span("grandchild", 7.2, 7.8, parent=3),  # inside c: not root's child
        _span("late", 9.5, 12.0, parent=0),  # clipped to the root's end
    ]
    assert harness.self_time(spans, 0) == pytest.approx(10.0 - 4.0 - 1.0 - 0.5)
    assert harness.self_time(spans, 3) == pytest.approx(1.0 - 0.6)
    assert harness.self_time(spans, 1) == pytest.approx(2.0)


def test_tracer_records_parents_and_wall_time():
    tr = harness.Tracer()
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert (outer.parent, inner.parent) == (None, 0)
    assert outer.start <= inner.start <= inner.end <= outer.end
    assert tr.probe_s == 0.0


BURN = "x = 0\nfor i in range(4_000_000):\n    x += i\n"
PARENT = (
    "import subprocess, sys, time\n"
    f"subprocess.run([sys.executable, '-c', {BURN!r}], check=True)\n"
    "print('reaped', flush=True)\n"
    "time.sleep(60)\n"
)


def test_tree_cpu_counts_workers_after_they_are_reaped():
    """A worker that exited and was waited for by a live parent is gone from
    /proc, but its CPU is in the parent's cutime and still counted."""
    before = harness.tree_cpu_s(os.getpid())
    parent = subprocess.Popen([sys.executable, "-c", PARENT], stdout=subprocess.PIPE, text=True)
    try:
        assert parent.stdout.readline().strip() == "reaped"
        assert harness.descendants(parent.pid) == []  # the worker is gone
        own = harness.process_cpu_s(parent.pid, reaped=False)
        total = harness.tree_cpu_s(os.getpid()) - before
        assert total > own + 0.1  # the reaped worker's CPU is included
    finally:
        parent.kill()
        parent.wait(timeout=10)


def test_run_cpu_adds_this_process_to_the_jvm_and_its_reaped_workers():
    parent = subprocess.Popen([sys.executable, "-c", PARENT], stdout=subprocess.PIPE, text=True)
    try:
        assert parent.stdout.readline().strip() == "reaped"
        t = os.times()
        own = t.user + t.system
        jvm = harness.process_cpu_s(parent.pid)  # its cutime holds the reaped worker
        assert jvm > harness.process_cpu_s(parent.pid, reaped=False) + 0.1
        assert own + jvm <= harness.run_cpu_s(parent.pid) < own + jvm + 0.05
    finally:
        parent.kill()
        parent.wait(timeout=10)


def test_rss_sampler_sums_each_python_process_peak():
    py = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    other = subprocess.Popen(["sleep", "30"])
    try:
        with harness.RssSampler(os.getpid(), interval_s=0.01) as rss:
            pass
        assert py.pid in rss.peaks and other.pid not in rss.peaks
        assert rss.peak_bytes == sum(rss.peaks.values())
        assert rss.peaks[os.getpid()] == harness.peak_rss_bytes(os.getpid()) > 0
    finally:
        for child in (py, other):
            child.kill()
            child.wait(timeout=10)
    assert harness.peak_rss_bytes(py.pid) == 0  # gone: nothing to read


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("PYSPARK_SUBMIT_ARGS", "--conf spark.log.level=ERROR pyspark-shell")
    from pyspark.sql import SparkSession

    session = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    yield session
    session.stop()


def test_stage_counters_match_a_job_of_known_shape(spark):
    probe = harness.SparkProbe(spark)
    mark = probe.mark()
    spark.range(0, 700, 1, 7).write.format("noop").mode("overwrite").save()
    got = probe.since(mark)
    assert (got["jobs"], got["stages"], got["tasks"]) == (1, 1, 7)
    assert got["executor_run_s"] >= 0 and got["spill_bytes"] == 0
    # nothing ran since: an empty interval counts nothing
    assert probe.since(probe.mark())["jobs"] == 0


def test_catalyst_phases_are_read_after_an_action(spark):
    df = spark.range(0, 10).selectExpr("id % 2 AS k").groupBy("k").count()
    df.collect()
    phases = harness.catalyst_phases(df)
    assert set(phases) == {"analysis_s", "optimization_s", "planning_s"}
    assert phases["planning_s"] > 0 or phases["optimization_s"] > 0
