"""Measurement primitives for the benchmark.

The benchmark measures the engine from outside: it times calls into each
layer's public functions and reads the counters Spark itself keeps.

* statistics: medians and the tail percentile rule ("the highest
  percentile with at least ten samples beyond it");
* spans: a tracer that records name, start, end and parent of each call,
  plus self-time arithmetic;
* Spark counters: job ids from the DAG scheduler's job counter, per-stage
  task/CPU/shuffle/spill numbers from ``statusStore().lastStageAttempt``
  and Catalyst phase times from ``queryExecution().tracker()``;
* ``/proc`` accounting: CPU of the Python workers under the JVM (reaped
  workers included, through their parent's ``cutime``) and summed peak RSS.
"""

from __future__ import annotations

import math
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

CLK_TCK = os.sysconf("SC_CLK_TCK")


# --- statistics ------------------------------------------------------------


def median(values) -> float:
    return float(statistics.median(values))


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """Highest whole percentile p with at least ``beyond`` of ``n`` samples
    above the nearest-rank p-th percentile, i.e. ``n - ceil(p*n/100) >=
    beyond``; None when even p=1 leaves too few."""
    for p in range(99, 0, -1):
        if n - math.ceil(p * n / 100) >= beyond:
            return p
    return None


def nearest_rank(values, p: int) -> float:
    """The nearest-rank p-th percentile of ``values``."""
    ordered = sorted(values)
    return float(ordered[max(math.ceil(p * len(ordered) / 100), 1) - 1])


# --- spans -----------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    counters: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def self_time(spans: list[Span], index: int) -> float:
    """Duration of ``spans[index]`` minus the part of its interval that its
    direct children cover (overlapping children are counted once)."""
    me = spans[index]
    kids = sorted(
        (max(s.start, me.start), min(s.end, me.end))
        for s in spans
        if s.parent == index
    )
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in kids:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return me.wall_s - covered


def layer_counters(traced_spans: list[list[Span]], layer: str, keys) -> dict[str, float]:
    """Per-layer counters of traced passes: each counter summed over the
    spans of ``layer`` (the span named ``layer`` and any ``layer.*``),
    then the median over passes. ``keys`` maps output names to counter
    names (a plain sequence keeps the names); ``wall_s`` is span time."""
    if not isinstance(keys, dict):
        keys = {k: k for k in keys}
    totals = []
    for spans in traced_spans:
        mine = [s for s in spans if s.name == layer or s.name.startswith(layer + ".")]
        totals.append({
            out: sum(s.wall_s if src == "wall_s" else s.counters.get(src, 0) for s in mine)
            for out, src in keys.items()
        })
    return {f"{layer}.{k}": median([t[k] for t in totals]) for k in keys}


class Tracer:
    """Records spans in memory. With a ``probe``, each span also records the
    Spark and ``/proc`` counters that moved while it was open; the probe's
    own reads happen outside the span's interval."""

    def __init__(self, probe: "SparkProbe | None" = None):
        self.probe = probe
        self.spans: list[Span] = []
        self.probe_s = 0.0  # time spent reading counters: the tracing overhead
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, counters: bool = True):
        """Open a span; ``counters=False`` records only its interval (for an
        enclosing span whose children already read the counters)."""
        parent = self._open[-1] if self._open else None
        mark = None
        if self.probe and counters:
            t0 = time.perf_counter()
            mark = self.probe.mark()
            self.probe_s += time.perf_counter() - t0
        sp = Span(name, time.perf_counter(), parent=parent)
        self.spans.append(sp)
        self._open.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._open.pop()
            if mark is not None:
                sp.counters.update(self.probe.since(mark))
                self.probe_s += time.perf_counter() - sp.end


# --- /proc accounting ------------------------------------------------------


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may hold spaces or parentheses: split after its closing paren
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """Live processes below ``root`` (not ``root`` itself)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for kid in children.get(todo.pop(), []):
            out.append(kid)
            todo.append(kid)
    return out


def python_descendants(root: int) -> list[int]:
    """Live Python processes below ``root``: under the JVM, the PySpark
    daemon and its workers. Other children (helpers the JVM spawns) are
    left out; while one is being spawned it still shares the JVM's pages,
    so its RSS would count the JVM twice."""
    out = []
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().startswith("python"):
                    out.append(pid)
        except OSError:
            pass
    return out


def process_cpu_s(pid: int, reaped: bool = True) -> float:
    """utime + stime of ``pid``; with ``reaped``, plus the CPU of children
    it has already waited for (cutime + cstime)."""
    f = _stat_fields(pid)
    if f is None:
        return 0.0
    ticks = int(f[11]) + int(f[12])
    if reaped:
        ticks += int(f[13]) + int(f[14])
    return ticks / CLK_TCK


def tree_cpu_s(root: int) -> float:
    """CPU of the Python processes below ``root``, counting workers that
    already exited and were reaped by a live parent. Counting live
    processes plus each one's reaped-children total never counts a process
    twice: a process leaves the live set exactly when its CPU moves to its
    parent's cutime."""
    return sum(process_cpu_s(p) for p in python_descendants(root))


def run_cpu_s(jvm: int) -> float:
    """CPU used so far by this process, the JVM and the JVM's Python
    workers (reaped workers included)."""
    t = os.times()
    return t.user + t.system + process_cpu_s(jvm) + tree_cpu_s(jvm)


def peak_rss_bytes(pid: int) -> int:
    """The process's peak resident set size so far (VmHWM), 0 once gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Summed peak RSS of the driver, the JVM and the JVM's Python workers:
    a background thread reads each live process's own peak (VmHWM), so
    the sum does not depend on when the samples fall; a process that
    exits keeps the last peak read for it."""

    def __init__(self, jvm_pid: int, interval_s: float = 0.2):
        self.jvm_pid = jvm_pid
        self.interval_s = interval_s
        self.peaks: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @property
    def peak_bytes(self) -> int:
        return sum(self.peaks.values())

    def sample(self) -> None:
        for pid in (os.getpid(), self.jvm_pid, *python_descendants(self.jvm_pid)):
            self.peaks[pid] = max(self.peaks.get(pid, 0), peak_rss_bytes(pid))

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


# --- Spark counters --------------------------------------------------------

STAGE_COUNTERS = (
    "stages",
    "tasks",
    "jvm_cpu_s",
    "executor_run_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "input_bytes",
)


def stage_counters(store, job_ids) -> dict:
    """Sum the last attempt of every stage the jobs ran. Skipped stages
    (shuffle output reused) count nothing; a job the status store already
    evicted is skipped."""
    out = dict.fromkeys(STAGE_COUNTERS, 0)
    out["jobs"] = 0
    seen: set[int] = set()
    for j in job_ids:
        try:
            job = store.job(j)
        except Py4JJavaError:  # evicted past spark.ui.retainedJobs
            continue
        out["jobs"] += 1
        ids = job.stageIds()
        for i in range(ids.size()):
            sid = ids.apply(i)
            if sid in seen:
                continue
            seen.add(sid)
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["jvm_cpu_s"] += st.executorCpuTime() / 1e9
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["input_bytes"] += st.inputBytes()
    return out


def catalyst_phases(df) -> dict:
    """Analysis/optimization/planning time (s) recorded by the DataFrame's
    own QueryExecution tracker; phases not yet run read 0."""
    out = {"analysis_s": 0.0, "optimization_s": 0.0, "planning_s": 0.0}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        key = f"{kv._1()}_s"
        if key in out:
            out[key] = kv._2().durationMs() / 1e3
    return out


class SparkProbe:
    """Reads what moved in Spark and in the Python workers between two
    points. Job ids come from the DAG scheduler's job counter, so jobs
    started on helper threads (which carry no job group) are counted too."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.jvm_pid = jvm_pid(spark)

    def _sync(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def mark(self) -> tuple[int, float]:
        self._sync()
        return self.jsc.dagScheduler().numTotalJobs(), tree_cpu_s(self.jvm_pid)

    def since(self, mark: tuple[int, float]) -> dict:
        self._sync()
        first, cpu0 = mark
        last = self.jsc.dagScheduler().numTotalJobs()
        out = stage_counters(self.store, range(first, last))
        out["python_cpu_s"] = tree_cpu_s(self.jvm_pid) - cpu0
        return out


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def _gone(pid: int) -> bool:
    f = _stat_fields(pid)
    return f is None or f[0] == "Z"


def stop_jvm(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, then the JVM it runs in, and wait until the JVM and
    its Python workers have exited. The JVM exits when the pipe PySpark
    holds on its stdin closes; the workers follow their JVM."""
    proc = spark.sparkContext._gateway.proc
    workers = python_descendants(proc.pid)
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while not all(_gone(p) for p in workers):
        if time.monotonic() > deadline:
            raise TimeoutError(f"Python workers {workers} outlived their JVM")
        time.sleep(0.1)
