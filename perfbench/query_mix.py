"""query_mix: registered relational queries on seeded tables.

Why: on small tables the relational surface is bound by overhead (plan
build, Catalyst, job scheduling), not by data. The set samples the core
``d*`` queries (a star join, a grouped aggregate, a scalar subquery) and the
histogram-quantile family (x63, x199), whose eager ``build()`` jobs
dominate the tail. It is kept small because each query's first execution
in a fresh session (code generation, JIT) costs seconds. No image kernel
and no table commit runs here.

Each operation is one query: ``build()`` then ``collect()``, in an order
drawn from the seed. Each result is checked against the hash of its DuckDB
oracle SQL on the same tables, computed once during set-up.
"""

from __future__ import annotations

import random

import pandas as pd

from datagen import make_tables, write_tables
from deepcell_data_engineering_spark.oracle import _normalize, duckdb_connect, table_hash
from deepcell_data_engineering_spark.relational import QUERIES
from harness import catalyst_phases, layer_counters, median, nearest_rank, tail_percentile

SF = 0.005  # lineitem = 30k rows
CORE = ["d11_star_join_agg", "d17_grouped_agg", "d37_scalar_subquery"]
QUANTILE = ["x63_hist_quantiles", "x199_fd_histogram"]


def group(name: str) -> str:
    return "relational.quantile" if name in QUANTILE else "relational.core"


class Workload:
    def __init__(self, spark, work_dir: str, seed: int):
        self.spark = spark
        self.dir = work_dir
        self.names = CORE + QUANTILE
        self.specs = {n: QUERIES[n] for n in self.names}
        self.rng = random.Random(seed)
        self.seed = seed
        self.expected: dict[str, str] = {}
        self._results: list = []

    def setup(self) -> None:
        write_tables(make_tables(self.seed, SF), self.dir)
        con = duckdb_connect(self.dir)
        try:
            for n in self.names:
                pdf = con.execute(self.specs[n].oracle).fetchdf()
                self.expected[n] = table_hash(_normalize(pdf))
        finally:
            con.close()

    def run_pass(self, tracer) -> list[tuple[str, float]]:
        order = list(self.names)
        self.rng.shuffle(order)
        ops, self._results = [], []
        for n in order:
            g = group(n)
            with tracer.span(f"{g}.build/{n}") as b:
                df = self.specs[n].build(self.spark, self.dir)
            with tracer.span(f"{g}.execute/{n}") as e:
                rows = df.collect()
            ops.append((n, e.end - b.start))
            self._results.append((n, df.columns, rows))
            if tracer.probe:
                b.counters["build_s"] = b.wall_s
                b.counters["build_jobs"] = b.counters["jobs"]
                e.counters["execute_s"] = e.wall_s
                e.counters["result_rows"] = len(rows)
                e.counters.update(catalyst_phases(df))
        return ops

    def check_pass(self) -> dict[str, bool]:
        out = {}
        for n, cols, rows in self._results:
            pdf = pd.DataFrame.from_records([tuple(r) for r in rows], columns=cols)
            out[n] = table_hash(_normalize(pdf)) == self.expected[n]
        return out

    def recover(self) -> None:
        self._results = []

    def workload_metrics(self, passes) -> dict:
        lat = [s for p in passes for n, s in p["ops"] if n in self.specs]
        pct = tail_percentile(len(lat))
        return {
            "queries_per_s": {"value": len(lat) / sum(lat), "unit": "1/s", "n": len(lat)},
            "query_p50_s": {"value": median(lat), "unit": "s", "n": len(lat)},
            "query_tail_s": {
                "value": None if pct is None else nearest_rank(lat, pct),
                "unit": "s", "n": len(lat), "percentile": pct,
            },
        }

    def layer_metrics(self, traced_spans) -> dict:
        """``relational.core`` (the d-queries) and ``relational.quantile``."""
        keys = {
            "build_s": "build_s", "build_jobs": "build_jobs",
            "catalyst_analysis_s": "analysis_s",
            "catalyst_optimization_s": "optimization_s",
            "catalyst_planning_s": "planning_s",
            "execute_s": "execute_s", "jobs": "jobs", "tasks": "tasks",
            "jvm_cpu_s": "jvm_cpu_s", "shuffle_write_bytes": "shuffle_write_bytes",
            "result_rows": "result_rows",
        }
        out = {}
        for g in ("relational.core", "relational.quantile"):
            out.update(layer_counters(traced_spans, g, keys))
        return out
